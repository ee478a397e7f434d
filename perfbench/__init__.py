"""Same-box benchmark for the ankiocr_spark extraction engine.

Run it from the repository root:

    python3 perfbench/run.py --workload extract_pages --seed 1 --seconds 12 --trace 0

See perfbench/README.md for the workloads, the metrics and the baseline.
"""
