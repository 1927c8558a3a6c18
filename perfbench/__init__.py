"""Log-datalake benchmark (see run.py)."""
