"""Benchmark for model_presto_spark; run ``python3 perfbench/run.py --help``."""
