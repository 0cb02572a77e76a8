"""Benchmark of the log pipeline: ingest throughput, query latency and
freshness over two workloads, with a traced per-layer ledger. See
METRICS.md; run with ``python3 perfbench/run.py --help``."""
