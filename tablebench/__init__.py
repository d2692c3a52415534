"""Table-client benchmark; entry point ``tablebench/run.py``."""
