"""Column-level helpers: SQL-expressible scheme ops, vector math, and
the row-to-records Arrow UDF boundary (records.py)."""
