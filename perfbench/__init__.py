"""Seeded benchmark for the star ETL, the dashboard pages, the incremental
CSV load and the operator pass. Run ``python3 perfbench/run.py --help``."""
