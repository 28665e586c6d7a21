"""Fleet-wide plan audit: every declared query's physical plan must be free
of accidental scale hazards — no CartesianProduct anywhere, and nested-loop
joins only where a theta-join is the documented intent (cosine_pairs, the
exact pair-join baseline whose scale path is LSH bucketing)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

from mini_etl_spark import plans  # noqa: E402

from tests.conftest import SF_SMALL  # noqa: E402

pytestmark = pytest.mark.quick

INTENTIONAL_THETA_JOINS = {"cosine_pairs"}

# Queries that broadcast a ONE-ROW scalar aggregate (N, avgdl, thresholds…)
# or a CLASS-COUNT-sized table (domain_score: the k-row NB class stats
# fanned over the token stream) into the stream side. Spark plans these as
# BroadcastNestedLoopJoin because a literal equi-key would constant-fold
# away; with a single-digit build side the "nested loop" is k comparisons
# per stream row — the scalar-subquery shape, not a scale hazard.
SCALAR_BROADCAST_JOINS = {
    "bm25_topk", "line_hygiene", "lm_score", "lm_perplexity", "key_skew",
    "domain_score",
    # suffix-aware domain blocklist: endswith() on a broadcast
    # vocabulary-sized list — k string compares per row, never a shuffle
    "url_blocklist",
    # 1-row grand-total broadcast (digit shares need the scalar sum)
    "benford",
    # 1-row epoch-totals broadcast (PSI fractions need both scalar counts)
    "column_drift",
    # same 1-row totals broadcast over the bounded (top_k+1)-row report
    "category_drift",
}


# Queries whose plan contains a window with NO partition spec — allowed
# only when the windowed frame is provably BOUNDED (vocabulary-, source-,
# bucket-, or partition-count-sized), never the row-scaled corpus. Each
# entry names the bounded frame.
GLOBAL_WINDOW_OK = {
    # per-source quota table (#sources rows): cumulative weight chain
    "temperature_mix",
}

_GLOBAL_WINDOW_RE = None


def _has_global_window(plan: str) -> bool:
    """True when a windowspecdefinition has an EMPTY partition clause —
    the single-partition funnel shape. In the physical plan partition
    columns print before the first `col ASC/DESC NULLS ...` order entry,
    so a spec whose first element is already an order entry is global."""
    import re

    global _GLOBAL_WINDOW_RE
    if _GLOBAL_WINDOW_RE is None:
        _GLOBAL_WINDOW_RE = re.compile(
            r"windowspecdefinition\([^(),]+ (?:ASC|DESC) NULLS"
        )
    return bool(_GLOBAL_WINDOW_RE.search(plan))


@pytest.mark.parametrize("key", sorted(entrymod.queries().keys()))
def test_no_scale_hazards_in_plan(spark, key):
    df = entrymod.queries()[key](spark, SF_SMALL)
    plan = plans.physical_plan(df)
    assert "CartesianProduct" not in plan, f"{key}: cartesian product in plan"
    if key not in INTENTIONAL_THETA_JOINS | SCALAR_BROADCAST_JOINS:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{key}: unexpected nested-loop join"
        )
    if key not in GLOBAL_WINDOW_OK:
        assert not _has_global_window(plan), (
            f"{key}: window with no partition spec (single-partition "
            "funnel) — repartition-safe forms exist for every global "
            "cumsum/rank in this codebase"
        )


def test_codegen_present_in_simple_agg(spark):
    df = entrymod.queries()["group_agg"](spark, SF_SMALL)
    assert plans.executed_codegen_stages(df) >= 2  # partial + final agg stages


def test_global_window_detector_not_vacuous(spark):
    """The audit's global-window regex must actually fire on a known
    single-partition window plan, and stay quiet on a partitioned one."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(10).selectExpr("id", "id % 3 AS g")
    w_global = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    w_part = Window.partitionBy("g").orderBy("id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    p_global = plans.physical_plan(df.withColumn("c", F.sum("id").over(w_global)))
    p_part = plans.physical_plan(df.withColumn("c", F.sum("id").over(w_part)))
    assert _has_global_window(p_global)
    assert not _has_global_window(p_part)
