"""flash-spark benchmark (see README.md)."""
