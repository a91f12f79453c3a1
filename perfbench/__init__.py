"""Seeded, output-checked benchmark of the engine (see README.md)."""
