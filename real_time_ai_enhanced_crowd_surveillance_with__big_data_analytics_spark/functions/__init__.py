from .validators import (  # noqa: F401
    valid_contact,
    valid_name,
    valid_password,
    validation_error,
)
