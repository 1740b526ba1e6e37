"""End-to-end and per-layer benchmark of emodb_spark (see README.md)."""
