"""Benchmark for pyspark_dist_explore_spark: see README.md in this directory."""
