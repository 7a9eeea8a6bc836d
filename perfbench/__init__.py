"""Job benchmark for haplorec_spark; see README.md."""
