"""Pipeline-level benchmark for firebolt_spark (see README.md)."""
