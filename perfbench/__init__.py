"""Benchmark for the solr_map_reduce_spark engine; see README.md."""
