"""Sources: ``readers`` (CSV and JDBC reads) and ``scan_queries`` (the
registry's format-scan queries)."""
