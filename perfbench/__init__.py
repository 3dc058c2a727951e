"""End-to-end benchmark of the engine; entry point ``perfbench/run.py``."""
