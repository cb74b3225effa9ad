"""Named column expressions; import each module directly."""
