"""Benchmark for hbase_gis_spark; see README.md."""
