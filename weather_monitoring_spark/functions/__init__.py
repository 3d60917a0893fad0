"""Spark column functions, one family per submodule; import the submodule you use."""
