"""Seeded pages → triples → queries benchmark for mitie_spark (see run.py)."""
