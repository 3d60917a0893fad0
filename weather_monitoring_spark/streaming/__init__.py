"""Streaming queries and sinks, one per submodule; import the submodule you use.

This file imports nothing: a Python worker that unpickles one sink
function (``index_sink.index_partition``) then loads only that sink's
own dependencies, not the operator library with pandas and pyarrow.
"""
