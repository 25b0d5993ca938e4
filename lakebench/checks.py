"""Correctness comparisons shared by the workloads, run outside the
timed region."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F


def rows_equal(a: DataFrame, b: DataFrame, key: str) -> bool:
    """True when ``a`` and ``b`` hold the same rows, keyed by the unique
    column ``key``: a full outer join on the key, every other column
    compared null-safely."""
    same = reduce(lambda x, y: x & y, [
        F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        for c in a.columns if c != key])
    joined = (a.withColumn("_in", F.lit(True)).alias("a")
              .join(b.withColumn("_in", F.lit(True)).alias("b"), key,
                    "full_outer"))
    both = F.col("a._in").isNotNull() & F.col("b._in").isNotNull()
    return joined.filter(~(both & same)).isEmpty()
