"""The two benchmark workloads, driven through the program's public API.

Each workload builds its inputs' consumer from scratch every iteration, the
way a user's loop would: a config-built ``Pipeline`` and then a
``PipelineDAG`` (etl_star), or the corpus functions (corpus_dedup).
``iteration`` returns the row count the program reported, if it reports
one; ``check_iteration`` is the cheap per-iteration output check and
``full_check`` the once-per-run comparison against the DuckDB oracle.
``warmup`` is the number of untimed iterations after the first one that
set-up runs, so that the timed loop starts with the JVM's JIT compiler done.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq

ETL_CONFIG = """\
name: lineitem_ingest
on_error: raise
source:
  type: csv
  path: {inputs}/lineitem.csv
  header: true
  infer_schema: false
transformers:
  - type: cast
    columns:
      l_orderkey: long
      l_partkey: long
      l_suppkey: long
      l_linenumber: int32
      l_quantity: double
      l_extendedprice: double
      l_discount: double
      l_tax: double
      l_shipdate: date
  - type: fillna
    value: 0.0
    columns: [l_discount]
  - type: filter
    condition: "l_quantity < 45 AND l_discount < 0.09"
sink:
  type: parquet
  path: {out}
  mode: overwrite
"""


def parquet_rows(path: str) -> int:
    """Row count of a written parquet dataset, from file footers only."""
    return sum(pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(path, "*.parquet")))


class Workload:
    name = ""
    transform_layer = "operators"  # module that shapes the frame between read and write
    warmup = 0

    def __init__(self, inputs: str, out: str):
        self.inputs = inputs
        self.out = out
        with open(os.path.join(inputs, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        with open(os.path.join(inputs, "expected.json")) as fh:
            self.expected = json.load(fh)
        self.input_rows = self.manifest["input_rows"]

    def check_iteration(self, rows: int | None) -> str | None:
        """Error text if the iteration's output is wrong, else None."""
        raise NotImplementedError

    def _compare(self, out: str, expected: str, columns: list[str], key: str | None = None,
                 float_cols: tuple[str, ...] = ()) -> list[str]:
        """Rows where the output written to ``out`` and the DuckDB oracle's
        ``expected`` parquet file differ.

        Without ``key`` the two are compared as multisets (EXCEPT ALL both
        ways); with a unique ``key`` they are joined on it, and ``float_cols``
        -- sums whose rounding depends on summation order -- may differ by a
        relative 1e-9.
        """
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads = 2")
        cols = ", ".join(columns)
        got = f"(SELECT {cols} FROM read_parquet('{out}/*.parquet'))"
        want = f"(SELECT {cols} FROM read_parquet('{self.inputs}/{expected}'))"
        if key is None:
            sql = (f"SELECT count(*) FROM ({got} EXCEPT ALL {want} "
                   f"UNION ALL ({want} EXCEPT ALL {got}))")
        else:
            preds = [
                f"NOT (g.{c} IS NULL AND w.{c} IS NULL OR "
                f"abs(g.{c} - w.{c}) <= 1e-9 * greatest(1, abs(w.{c})))"
                if c in float_cols else f"g.{c} IS DISTINCT FROM w.{c}"
                for c in columns
            ]
            sql = (f"SELECT count(*) FROM {got} g FULL OUTER JOIN {want} w "
                   f"ON g.{key} = w.{key} WHERE " + " OR ".join(preds))
        bad = con.execute(sql).fetchone()[0]
        con.close()
        return [f"{bad} rows of {out} differ from the DuckDB replay"] if bad else []


def _wrong_rows(out: str, want: int, reported: int | None = None) -> str | None:
    if reported is not None and reported != want:
        return f"{out}: reported {reported} rows, expected {want}"
    on_disk = parquet_rows(out)
    if on_disk != want:
        return f"{out}: wrote {on_disk} rows, expected {want}"
    return None


class EtlStar(Workload):
    """Two table jobs per iteration.

    ingest: a config-built Pipeline, CSV → cast → fillna → filter → parquet;
    star: a PipelineDAG, concat two order sources → group_agg → outer join
    customers → small parquet.
    """

    name = "etl_star"
    warmup = 5

    def __init__(self, inputs: str, out: str):
        super().__init__(inputs, out)
        self.ingest_out = os.path.join(out, "ingest")
        self.star_out = os.path.join(out, "star")
        self.config_path = os.path.join(inputs, "pipeline.yaml")
        with open(self.config_path, "w") as fh:
            fh.write(ETL_CONFIG.format(inputs=inputs, out=self.ingest_out))

    def iteration(self, spark, tr) -> int | None:
        from mini_etl_spark import operators as ops
        from mini_etl_spark import sinks as snk
        from mini_etl_spark import sources as src
        from mini_etl_spark.config import ConfigLoader
        from mini_etl_spark.dag import PipelineDAG

        loader = ConfigLoader()
        rows = loader.build_pipeline(loader.load(self.config_path)).run(spark)["rows"]

        with tr.span("dag.construct", "dag"):
            dag = PipelineDAG("star_join")
            dag.add_source("web", src.read_parquet(f"{self.inputs}/orders_web.parquet"))
            dag.add_source("store", src.read_parquet(f"{self.inputs}/orders_store.parquet"))
            dag.add_source("customer", src.read_parquet(f"{self.inputs}/customer.parquet"))
            dag.add_merge("orders", "concat")
            dag.add_transform("by_customer", ops.group_agg(
                "o_custkey", {"o_totalprice": ["sum", "count"], "o_orderdate": "max"}))
            dag.add_transform("order_key", ops.rename_columns({"o_custkey": "custkey"}))
            dag.add_transform("dim_key", ops.rename_columns({"c_custkey": "custkey"}))
            dag.add_merge("star", "join", join_keys=["custkey"], join_how="outer")
            dag.add_sink("out", snk.to_parquet(self.star_out, mode="overwrite"))
            for a, b in [("web", "orders"), ("store", "orders"), ("orders", "by_customer"),
                         ("by_customer", "order_key"), ("customer", "dim_key"),
                         ("order_key", "star"), ("dim_key", "star"), ("star", "out")]:
                dag.add_edge(a, b)
        dag.run(spark)
        return rows

    def check_iteration(self, rows: int | None) -> str | None:
        return (_wrong_rows(self.ingest_out, self.expected["ingest_rows"], rows)
                or _wrong_rows(self.star_out, self.expected["star_rows"]))

    def full_check(self, spark) -> list[str]:
        ingest_cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                       "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                       "l_linestatus", "l_shipdate", "l_comment"]
        star_cols = ["custkey", "o_totalprice_sum", "o_totalprice_count", "o_orderdate_max",
                     "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
        return (self._compare(self.ingest_out, "expected_ingest.parquet", ingest_cols)
                + self._compare(self.star_out, "expected_star.parquet", star_cols,
                                key="custkey", float_cols=("o_totalprice_sum",)))


class CorpusDedup(Workload):
    """clean_corpus → kept docs → semantic_dedup (Arrow) → parquet."""

    name = "corpus_dedup"
    transform_layer = "functions"
    warmup = 3
    last_kept = None  # clean_corpus's result in the latest iteration, for full_check

    def iteration(self, spark, tr) -> int | None:
        from mini_etl_spark import sinks as snk
        from mini_etl_spark import sources as src
        from mini_etl_spark.functions import corpus

        docs = src.read_parquet(f"{self.inputs}/documents.parquet")(spark)
        kept = self.last_kept = corpus.clean_corpus(docs)
        with tr.span("bench.kept_docs", "bench"):
            kept_docs = docs.join(kept.select("doc_id"), "doc_id", "left_semi")
        result = corpus.semantic_dedup(kept_docs)
        snk.to_parquet(self.out, mode="overwrite")(result)
        return None

    def check_iteration(self, rows: int | None) -> str | None:
        return _wrong_rows(self.out, self.expected["rows"], rows)

    def full_check(self, spark) -> list[str]:
        errors = []
        clean = sorted(r.doc_id for r in self.last_kept.select("doc_id").collect())
        if clean != self.expected["clean_ids"]:
            diff = set(clean) ^ set(self.expected["clean_ids"])
            errors.append(f"clean_corpus differs from its oracle on {len(diff)} docs")
        got = set(pq.read_table(self.out, columns=["doc_id"]).column("doc_id").to_pylist())
        for cluster in self.manifest["semantic_clusters"]:
            if sorted(got.intersection(cluster)) != [min(cluster)]:
                errors.append(f"semantic cluster {cluster} kept {sorted(got.intersection(cluster))}")
        lost = set(self.manifest["distinct_ids"]) - got
        if lost:
            errors.append(f"{len(lost)} planted-distinct docs dropped")
        if sorted(got) != self.expected["final_ids"]:
            errors.append("final kept ids differ from the expected set")
        return errors


WORKLOADS = {w.name: w for w in (EtlStar, CorpusDedup)}
