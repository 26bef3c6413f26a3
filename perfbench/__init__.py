"""validate_spark benchmark (see README.md)."""
