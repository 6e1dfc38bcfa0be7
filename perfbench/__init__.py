"""CDC ingest benchmark (see README.md)."""
