"""Benchmark for privacy_cdc_lakehouse_spark; see perfbench/README.md."""
