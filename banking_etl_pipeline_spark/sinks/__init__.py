"""Sinks: ``writers`` holds the raw-zone CSV writer and the staged batch
commit that every target write goes through."""
