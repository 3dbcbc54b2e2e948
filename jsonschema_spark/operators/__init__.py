"""Table-level validation operators: salted uniqueness, referential
integrity, column stats profiles and the sampled pre-flight gate."""
