"""Repository benchmark: verified bulk import and a query-registry pass."""
