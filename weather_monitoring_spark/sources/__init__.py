"""Batch and streaming readers, one per submodule; import the submodule you use."""
