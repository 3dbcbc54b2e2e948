"""Sources: Spark session factory and the deterministic synthetic corpus
generator."""
