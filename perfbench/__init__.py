"""Benchmark for the redshift_avro_spark engine; see run.py and README.md."""
