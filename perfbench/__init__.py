"""The vlake benchmark (see run.py)."""
