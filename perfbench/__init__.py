"""Benchmark of the innercircle_etl_spark daily batch; see README.md."""
