"""Host-sized benchmark of the dedup pipeline; run ``python3 perfbench/run.py``."""
