"""Query plans; ``QUERIES`` and ``ORACLES`` come from ``registry``.

The registry is imported on first access (PEP 562), not with the
package: a Python worker that unpickles a helper from one plan module
then imports that module alone, not every plan module.
"""


def __getattr__(name: str):
    if name in ("QUERIES", "ORACLES"):
        from . import registry

        return getattr(registry, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
