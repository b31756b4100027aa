"""Layered benchmark for search_engine_spark; entry point ``perfbench/run.py``."""
