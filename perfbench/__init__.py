"""Engine benchmark: seeded workloads over the public API of
``clip_as_service_spark``, every answer checked against ``oracle.BM25Oracle``.
Entry point: ``python3 perfbench/run.py --workload NAME --seed N``."""
