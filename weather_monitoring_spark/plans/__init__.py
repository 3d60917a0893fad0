"""The declared query registry (``registry.all_queries``) and its query modules."""
