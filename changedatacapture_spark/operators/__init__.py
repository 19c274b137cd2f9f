from . import apply, envelope, evolution, lww  # noqa: F401
