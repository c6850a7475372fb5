"""Deterministic cross-engine hashing primitives.

Dedup/minhash need integer hashes that are reproducible OUTSIDE Spark
(the DuckDB oracle replays them), so we derive them from md5 — identical
in any engine — instead of Spark-private hash functions:

    md5_i64(x, salt) = int64(first 15 hex chars of md5(salt || x))

15 hex chars = 60 bits => always positive in an int64.
DuckDB equivalent: ('0x' || substr(md5(salt || x), 1, 15))::BIGINT
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_i64(col: Column, salt: str = "") -> Column:
    src = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(src), 1, 15), 16, 10).cast("long")


def md5_i64_sql(expr: str, salt: str = "") -> str:
    """The DuckDB-side rendering of md5_i64 for oracle queries."""
    src = f"'{salt}' || {expr}" if salt else expr
    return f"('0x' || substr(md5({src}), 1, 15))::BIGINT"
