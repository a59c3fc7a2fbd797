from .od_tracker import streaming_od_tracker  # noqa: F401
from .crowd_density import streaming_crowd_density  # noqa: F401
from .hot_cell_alert import streaming_hot_cell_alerts  # noqa: F401
from .loiter_alert import streaming_loiter_alerts  # noqa: F401
from .runner import stream_events  # noqa: F401
from .stateful import streaming_rising_edges  # noqa: F401
