"""Differential correctness: every declared query vs the DuckDB oracle.

This mimics the driver's t2 gate (CORRECTNESS_r{N}.json): for each key in
``__spark_entry__.queries()`` run the Spark DataFrame AND the matching
``oracle_sql()`` string in DuckDB on the same parquet tables, then compare
row count, column names, and order-insensitive values.
"""

from __future__ import annotations

import math
import os
import struct
import sys

import duckdb
import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

from tests.conftest import SF_ORACLE  # noqa: E402

pytestmark = pytest.mark.quick

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm_cell(v):
    """BIT-LEVEL, TYPE-FAITHFUL canonicalization — the driver's bar.

    The r4 `hashed_vectors` escape proved two forgivenesses in the old
    local net that the driver does not grant:

    - ``round(v, 9)`` hid differing binary tails — floats now compare by
      their exact IEEE-754 bits (struct.pack);
    - int-valued floats unified with ints — an oracle whose uncast
      DuckDB ``sum(BIGINT)`` (HUGEINT -> pandas float64 ``124.0``)
      met Spark's int64 ``124`` passed locally but failed the driver's
      hash. Numeric type class is now part of the canonical value, so
      every oracle must CAST its aggregates to the Spark-side type.
    """
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):  # before int: bool subclasses int
        return ("b", bool(v))
    if isinstance(v, float):  # covers np.float64
        if math.isnan(v):
            return None
        return ("f", struct.pack("<d", float(v)))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    return v


def _canon(df) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [
        tuple(_norm_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    return sorted(rows, key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))


QUERY_KEYS = sorted(entrymod.queries().keys())


@pytest.mark.parametrize("key", QUERY_KEYS)
def test_query_matches_oracle(spark, key):
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    spark_df = queries[key](spark, SF_ORACLE).toPandas()
    if key not in oracles:
        assert len(spark_df) >= 0  # rows-only check (driver's weaker gate)
        return
    con = _duck(SF_ORACLE)
    duck_df = con.execute(oracles[key]).df()
    con.close()

    assert sorted(spark_df.columns) == sorted(duck_df.columns), (
        f"{key}: column mismatch {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}"
    )

    def _kind(dtype) -> str:
        k = dtype.kind if hasattr(dtype, "kind") else "O"
        return {"i": "num", "u": "num", "f": "num", "b": "bool", "M": "dt"}.get(k, "obj")

    for col in spark_df.columns:
        sk, dk = _kind(spark_df[col].dtype), _kind(duck_df[col].dtype)
        assert sk == dk, f"{key}.{col}: dtype class {sk} vs oracle {dk}"
    assert len(spark_df) == len(duck_df), (
        f"{key}: row count {len(spark_df)} vs oracle {len(duck_df)}"
    )
    s_rows, d_rows = _canon(spark_df), _canon(duck_df)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    assert not mismatches, f"{key}: {len(mismatches)} differing rows; first: {mismatches[:3]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0
