"""Seeded benchmark harness for talna_spark; see README.md here."""
