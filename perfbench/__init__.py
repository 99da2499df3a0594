"""The weatherlake benchmark of record: seeded workloads driven through
the engine's public functions (see perfbench/README.md)."""
