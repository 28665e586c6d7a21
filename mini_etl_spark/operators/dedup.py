"""Global deduplication.

Reference parity: DeduplicateTransformer (transformers.py:522-547) — pandas
``drop_duplicates(subset, keep)`` per chunk, so cross-chunk duplicates
survived. Here dedup is **global** (SURVEY §4.3.2).

``keep`` semantics vs distributed reality (SURVEY §4.3.3): pandas' first/last
rely on implicit row order, which a distributed table does not have. So:

- ``keep="any"`` (default) → ``dropDuplicates`` — cheapest, a hash aggregate
  on the subset; use when any representative is fine.
- ``keep="first"`` / ``"last"`` → require ``order_by``; implemented as one
  hash aggregate on the subset that picks the whole row with
  ``min_by``/``max_by`` of the ordering key (no window sort).
- ``keep=False`` → keep only rows whose key appears exactly once (count-over-
  window == 1).

At 100 TB every variant shuffles once on the subset keys — identical cost
shape to groupBy; skew on hot keys is handled by AQE. Only ``keep=False``
sorts within the window; the others are hash aggregates.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

Transform = Callable[[DataFrame], DataFrame]


def deduplicate(
    subset: list[str] | None = None,
    keep: str | bool = "any",
    order_by: str | list[str] | None = None,
) -> Transform:
    if keep in ("first", "last") and order_by is None:
        raise ValueError(
            "deduplicate: keep='first'/'last' requires order_by= "
            "(a distributed table has no implicit row order)"
        )
    if keep not in ("any", "first", "last", False):
        raise ValueError(f"deduplicate: invalid keep={keep!r}")

    def _apply(df: DataFrame) -> DataFrame:
        cols = subset or df.columns
        if keep == "any":
            return df.dropDuplicates(cols)
        order_cols = [order_by] if isinstance(order_by, str) else list(order_by or [])
        if keep is False:
            w = Window.partitionBy(*cols)
            marked = df.withColumn("__n", F.count(F.lit(1)).over(w))
            return marked.filter(F.col("__n") == 1).drop("__n")
        # keep first/last as ONE hash aggregate: min_by/max_by of the whole
        # row by the ordering key — no window, no per-partition sort, and
        # map-side partial aggregation shrinks the shuffle to ≤1 row per
        # (partition, key). Equivalent to row_number()==1 with deterministic
        # results when the ordering key is unique within each group.
        pick = F.min_by if keep == "first" else F.max_by
        row = pick(F.struct(*df.columns), F.struct(*order_cols)).alias("__row")
        picked = df.groupBy(*cols).agg(row)
        return picked.select([F.col(f"__row.{c}").alias(c) for c in df.columns])

    return _apply
