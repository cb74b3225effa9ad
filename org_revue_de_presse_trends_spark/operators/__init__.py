"""Reusable DataFrame-level operators; import each module directly."""
