from .checks import physical_plan  # noqa: F401
