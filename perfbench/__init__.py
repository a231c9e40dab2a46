"""Benchmark for the wikihadoop_spark engine: three workloads timed to
their full output, with an optional traced run that splits the cost by
layer.  Entry point: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` (see README.md)."""
