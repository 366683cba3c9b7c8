"""Seeded, output-checked benchmark of the hypergraph engine (see README.md)."""
