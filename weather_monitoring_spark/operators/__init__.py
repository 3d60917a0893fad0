"""Batch operators, one family per submodule; import the submodule you use."""
