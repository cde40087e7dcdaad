"""The repository's benchmark: seeded workloads driven over the real HTTP
API and the batch operators, with end-to-end and per-layer metrics.
Run ``python3 perfbench/run.py --help`` from the repository root."""
