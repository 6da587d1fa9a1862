"""Seeded end-to-end benchmark of etl_hero_spark (see NOTES.md)."""
