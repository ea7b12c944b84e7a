"""Seeded benchmark for kgspark; run ``python3 perfbench/run.py --help``."""
