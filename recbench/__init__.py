"""Record-engine benchmark (see README.md)."""
