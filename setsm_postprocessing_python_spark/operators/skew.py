"""Skew handling: salted two-stage count.

Reference analogue: densely-overlapping strips concentrate work on few
tiles; the engine's hot cells concentrate rows on few keys. Salting
spreads a hot key's rows over S reducers: each row gets a salt
pmod(xxhash64(row-id-ish), S), a partial count runs on (key, salt) and
a final sum on key. Exact for counts (associative and commutative).
AQE's skew-join splitting covers the join side; this covers the
aggregation, which AQE does not re-balance.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def salted_count(df: DataFrame, key: str, salt_buckets: int = 32,
                 salt_source: str = "url") -> DataFrame:
    """Two-stage count with unconditional salting — exact same result as
    groupBy(key).count(), but no reducer ever sees more than ~1/S of a hot
    key's rows. Output: (key, n)."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_source)), F.lit(salt_buckets)))
    partial = salted.groupBy(key, "_salt").agg(F.count(F.lit(1)).alias("pn"))
    return partial.groupBy(key).agg(F.sum("pn").cast("bigint").alias("n"))
