"""Focused plan-shape locks for the round-12 optimizations.

Each test pins the STRUCTURAL property the optimization bought, so a later
refactor cannot silently re-introduce the removed work:

- ``simhash_pairs``: hamming is verified inside the band self-join — the
  plan must not join back to the signature frame (pre-r12 it carried two
  extra verify joins and a candidate-wide dedup exchange);
- ``profile``: exact distincts are unioned per-column aggregates — the plan
  must not contain an Expand (pre-r12 the four countDistincts restreamed
  the input ×5 through two SortAggregate passes);
- ``robust_outliers``: the per-group median frame is materialized once
  (r13: eager localCheckpoint — ContextCleaner-freed, unlike the r12
  persist) so the scan + exact-percentile subtree executes once, not once
  per broadcast join (pre-r12: 4 scans, the median aggregate twice).

Result-level correctness of all three is separately pinned bit-exactly by
tests/test_oracle.py (mad_outliers, simhash_pairs, profile keys).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mini_etl_spark import plans  # noqa: E402

pytestmark = pytest.mark.quick


def test_simhash_pairs_verifies_inside_band_join(spark, sample_df):
    from pyspark.sql import functions as F

    from mini_etl_spark.functions import dedup as dd

    docs = sample_df.select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", "name", "category").alias("text"),
    )
    import re

    plan = plans.physical_plan(dd.simhash_pairs(docs, max_hamming=3))
    # exactly ONE join NODE in the whole plan: the band self-join. The
    # pre-r12 shape had three (band join + two signature re-joins). Count
    # detail headers — the tree section repeats operator names.
    joins = re.findall(
        r"^\(\d+\) (SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)",
        plan,
        re.M,
    )
    assert len(joins) == 1, plan
    # the hamming verification must sit in the join condition, not in a
    # post-dedup filter stage fed by signature re-joins
    assert "bit_count" in plan, plan


def test_profile_plans_without_expand(spark, sample_df):
    from mini_etl_spark.maintenance import profile

    plan = plans.physical_plan(profile(sample_df, ["id", "category", "name"]))
    # no Expand: the input is never restreamed once per distinct column
    # (string min/max may still legitimately pick SortAggregate for the
    # single stats pass — the removed tax was Expand × SortAggregate)
    assert "Expand" not in plan, plan


def test_robust_outliers_materializes_median_once(spark, sample_df):
    import re

    from pyspark.sql import functions as F

    from mini_etl_spark.maintenance import robust_outliers

    df = sample_df.select("category", F.col("value").cast("double").alias("v"))
    out = robust_outliers(df, "v", group_col="category", k=3.0)
    plan = plans.physical_plan(out)
    # r13: the median frame is localCheckpoint'd (eager) — it computed
    # exactly ONCE at construction and the returned plan references it as
    # checkpointed data, so the raw-median percentile aggregate must be
    # absent from the plan entirely (pre-r12 it re-planned under each
    # broadcast build: 2 median aggregates, 4 base scans).
    assert "percentile(__v" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    # the MAD percentile aggregate runs once (partial+final, each printed
    # in the tree and the details section → at most 4 textual hits); a
    # regression that re-inlines the subtree per broadcast consumer
    # doubles this
    assert len(re.findall(r"percentile\(abs", plan)) <= 4, plan
