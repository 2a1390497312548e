from . import corpus, flagship, monitor, rag  # noqa: F401
