"""Lakehouse benchmark: four workloads (streaming ingest, CDC upsert,
dashboard serving, medallion batch) driven through the package's public
functions, with DuckDB twins for correctness and an optional traced run
for per-layer metrics.  Entry point: ``python3 perfbench/run.py``."""
