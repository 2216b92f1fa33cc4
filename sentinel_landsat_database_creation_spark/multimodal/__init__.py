"""Opaque binary payload columns behind mapInPandas (north-star extension)."""
