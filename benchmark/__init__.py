"""Same-box benchmark for h3ronpy_spark: ``python3 benchmark/run.py``.

See ``run.py`` for the command line and the printed result, and
``BENCHMARK.json`` at the repository root for the workloads and metrics.
"""
