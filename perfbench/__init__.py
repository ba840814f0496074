"""Near-storage benchmark (see run.py)."""
