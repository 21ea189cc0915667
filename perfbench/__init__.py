"""Seeded end-to-end and per-layer benchmark for the sparkdedup jobs.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; ``BENCHMARK.json`` lists the
workloads and metrics. ``perfbench/steady.py`` repeats runs to report
their spread, and ``perfbench/test_perfbench.py`` holds the self-tests.
"""
