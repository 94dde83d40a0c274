"""Layer-attributed benchmark for lotus_spark (see README.md)."""
