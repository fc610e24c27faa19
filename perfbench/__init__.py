"""Benchmark for printer_etl_hub_spark: see README.md."""
