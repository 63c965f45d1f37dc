from . import fused  # noqa: F401
