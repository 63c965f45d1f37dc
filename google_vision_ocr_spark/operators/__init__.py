from . import assemble, preprocess, recognize  # noqa: F401
