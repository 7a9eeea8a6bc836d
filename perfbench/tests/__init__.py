"""Tests of the benchmark itself (not of haplorec_spark)."""
