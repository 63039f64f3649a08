"""tsbench: the repository benchmark (see run.py)."""
