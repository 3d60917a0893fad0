"""Bucketed table writes (``bucketing``)."""
