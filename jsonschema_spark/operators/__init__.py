"""Table-level validation operators: salted uniqueness, referential
integrity, column stats profiles, distribution drift and the sampled
pre-flight gate."""
