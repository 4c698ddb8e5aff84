"""Seeded end-to-end and per-layer benchmark of the package (see README.md)."""
