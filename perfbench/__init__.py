"""Repository benchmark for the dint_spark engine (see README.md here)."""
