"""The row-to-records Arrow UDF boundary (records.py)."""
