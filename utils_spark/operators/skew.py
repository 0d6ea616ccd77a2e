"""Skew-handling join strategies (SURVEY §7.4: per-gene/per-cell power laws
≙ TPC-H hot keys). AQE's skew-join splitting covers sort-merge joins
automatically; `salted_join` is the explicit strategy for the cases AQE
can't fix — hot-key aggregations feeding a join, or pre-AQE engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join a skew-keyed big table against a smaller one by salting:
    the big side gets a deterministic salt in [0, salt_buckets) derived
    from a stable hash of its full row key-context; the small side is
    replicated across every salt value (explode over a literal range).
    Hot keys spread over `salt_buckets` tasks instead of one straggler.

    Use when: key frequency is power-law AND the small side is too big to
    broadcast outright but small enough to replicate xN. Otherwise prefer
    broadcast (tiny) or AQE skew-split (sort-merge).
    """
    salted_big = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt_buckets)).cast("int")
    )
    salted_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = salted_big.join(salted_small, [key, "__salt"], how)
    return out.drop("__salt")

