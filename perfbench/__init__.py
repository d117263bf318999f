"""Seeded benchmark of the molecule-database engine (see README.md)."""
