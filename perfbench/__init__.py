"""Route-level benchmark of the engine; see run.py."""
