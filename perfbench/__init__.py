"""Benchmark of the graphdb_td2_spark engine: see perfbench/README.md."""
