"""Bounded per-key min-k without a sort window.

``Window.partitionBy(key).orderBy(...)`` + ``row_number`` puts EVERY
row of a hot key into one task and sorts it before taking k — a
single-task sort at 10^8 rows per key (the scale-killer VERDICT r02
flagged in the fragment caps). This helper computes the same k
smallest rows per key via a two-level salted hash aggregation:

- level 1 groups by (key, xxhash64(order) % SALT) and keeps each
  salted group's k smallest — the hot key's rows spread over ``SALT``
  reducers, and map-side partial aggregation bounds any single buffer
  by the rows of that (key, salt) pair per partition;
- level 2 merges the ≤ SALT×k per-key candidates and slices the exact
  global k — a bounded, skew-free aggregation.

The union of per-salt min-k is a superset of the global min-k, so the
result is EXACT (same multiset as sort-then-take-k; ties beyond the
order columns are immaterial because the element IS the ordered
struct).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT = 64


def bounded_min_k(
    df: DataFrame, keys: list[str], order_cols: list[str], k: int,
) -> DataFrame:
    """Per ``keys`` group, the ``k`` lexicographically-smallest rows by
    ``order_cols`` → one output row per kept element with columns
    ``keys + order_cols``. Skew-safe (no per-key sort task).
    """
    def _mink(arr):
        return F.slice(F.sort_array(arr), 1, k)

    elem = F.struct(*[F.col(c) for c in order_cols])
    lvl1 = (
        df.groupBy(
            *keys,
            F.pmod(F.xxhash64(*order_cols), F.lit(SALT)).alias("_salt"),
        )
        .agg(_mink(F.collect_list(elem)).alias("_cand"))
    )
    lvl2 = lvl1.groupBy(*keys).agg(
        _mink(F.flatten(F.collect_list("_cand"))).alias("_top")
    )
    return lvl2.select(*keys, F.explode("_top").alias("_row")).select(
        *keys, "_row.*"
    )
