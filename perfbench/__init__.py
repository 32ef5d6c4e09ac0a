"""Seeded, oracle-checked benchmark of sagan_spark (see README.md)."""
