"""Readers and sinks; import each module directly."""
