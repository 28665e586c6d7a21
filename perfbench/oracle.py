"""Expected outputs of each workload, computed with DuckDB from the generated inputs.

Runs once per benchmark run, in its own process and outside the timed loop:
``python3 perfbench/oracle.py --workload W --dir INPUT_DIR``.  Writes
``expected_ingest.parquet`` and ``expected_star.parquet`` (etl_star) or the
expected id sets (corpus_dedup), plus ``expected.json`` with the expected
output row counts, which every timed iteration is checked against.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

INGEST_SQL = f"""
SELECT TRY_CAST(l_orderkey AS BIGINT) AS l_orderkey,
       TRY_CAST(l_partkey AS BIGINT) AS l_partkey,
       TRY_CAST(l_suppkey AS BIGINT) AS l_suppkey,
       TRY_CAST(l_linenumber AS INTEGER) AS l_linenumber,
       TRY_CAST(l_quantity AS DOUBLE) AS l_quantity,
       TRY_CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
       coalesce(TRY_CAST(l_discount AS DOUBLE), 0.0) AS l_discount,
       TRY_CAST(l_tax AS DOUBLE) AS l_tax,
       l_returnflag, l_linestatus,
       TRY_CAST(l_shipdate AS TIMESTAMP) AS l_shipdate,
       l_comment
FROM read_csv('{{d}}/lineitem.csv', header = true, all_varchar = true)
WHERE TRY_CAST(l_quantity AS DOUBLE) < {gen.ETL_MAX_QUANTITY}
  AND coalesce(TRY_CAST(l_discount AS DOUBLE), 0.0) < 0.09
"""

STAR_SQL = """
WITH orders AS (
  SELECT o_custkey, o_totalprice, o_orderdate FROM '{d}/orders_web.parquet'
  UNION ALL
  SELECT o_custkey, o_totalprice, o_orderdate FROM '{d}/orders_store.parquet'),
agg AS (
  SELECT o_custkey AS custkey,
         sum(o_totalprice) AS o_totalprice_sum,
         count(o_totalprice) AS o_totalprice_count,
         max(o_orderdate) AS o_orderdate_max
  FROM orders GROUP BY o_custkey)
SELECT coalesce(a.custkey, c.c_custkey) AS custkey,
       a.o_totalprice_sum, a.o_totalprice_count, a.o_orderdate_max,
       c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
FROM agg a FULL OUTER JOIN '{d}/customer.parquet' c ON a.custkey = c.c_custkey
"""


def _corpus_clean_sql() -> str:
    """The ``corpus_clean`` oracle query the repository's differential tests use.

    Its CTEs are marked MATERIALIZED: DuckDB otherwise inlines ``edges`` into
    every step of the recursive ``reach`` and recomputes the all-pairs
    Jaccard join each time (10x slower here).  The result is unchanged.
    """
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import __spark_entry__

    sql = __spark_entry__.oracle_sql()["corpus_clean"]
    for cte in ("feats", "kept", "base", "edges"):
        if f"{cte} AS (" not in sql:
            raise RuntimeError(f"corpus_clean oracle has no CTE {cte!r} to materialize")
        sql = sql.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (", 1)
    return sql


def compute(workload: str, d: str) -> dict:
    with open(os.path.join(d, "manifest.json")) as fh:
        manifest = json.load(fh)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{d}/duckdb_tmp'")
    con.execute("SET threads = 2")
    if workload == "etl_star":
        expected = {}
        for part, sql in (("ingest", INGEST_SQL), ("star", STAR_SQL)):
            path = f"{d}/expected_{part}.parquet"
            con.execute(f"COPY ({sql.format(d=d)}) TO '{path}' (FORMAT parquet)")
            rows = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
            if rows != manifest[f"{part}_rows"]:
                raise RuntimeError(
                    f"{part} oracle rows {rows} != generator's count {manifest[f'{part}_rows']}"
                )
            expected[f"{part}_rows"] = rows
    else:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
        clean = sorted(r[0] for r in con.execute(_corpus_clean_sql()).fetchall())
        keep = set(clean)
        for cluster in manifest["semantic_clusters"]:
            survivors = sorted(keep.intersection(cluster))
            keep.difference_update(survivors[1:])
        expected = {"rows": len(keep), "clean_ids": clean, "final_ids": sorted(keep)}
    con.close()
    with open(os.path.join(d, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    return expected


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--dir", required=True)
    args = ap.parse_args()
    expected = compute(args.workload, args.dir)
    print(json.dumps({k: v for k, v in expected.items() if k.endswith("rows")}))


if __name__ == "__main__":
    main()
