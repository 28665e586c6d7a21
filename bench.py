#!/usr/bin/env python
"""Benchmark the engine's headline queries — PAIRED with the reference.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "ref_queries": {...}, "ref_total_b1_b5": ..., "spark_total_b1_b5": ...,
     "ratio_b1_b5": ...}

Methodology (round 2 — removes the round-1 ambiguity where the reference
was measured in a separate session):

- The pandas reference (/root/reference, tqdm/tenacity stubbed) and the
  Spark engine are measured **in the same process, same run, same data**.
- Both sides get identical steady-state treatment: one untimed warm pass,
  then the timed pass (Spark amortizes codegen and scheduler warm-up,
  pandas amortizes the OS page cache — symmetric).
- Spark extension queries (no reference counterpart) follow the same
  protocol; their first-pass times (dominated by one-time Janino codegen
  compile of the large HOF expression trees — a fixed cost that amortizes
  to zero on a cluster) are reported separately as ``cold_queries``.

Execution is forced with a noop-format write (computes everything,
serializes nothing to the driver); reference pipelines force via their own
sinks (NullLoader where no file output is part of the shape).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import types

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REF_DIR = os.environ.get("SPARK_GRAFT_REF_DIR", "/root/reference")


def _sf_from_dir(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# Reference (pandas) side
# ---------------------------------------------------------------------------

def _stub_ref_deps() -> None:
    """tqdm/tenacity are not installed here; the reference only needs
    no-op shims of the symbols it imports."""
    if "tqdm" not in sys.modules:
        mod = types.ModuleType("tqdm")

        class _Tqdm:
            def __init__(self, iterable=None, **kwargs):
                self._it = iterable

            def __iter__(self):
                return iter(self._it if self._it is not None else [])

            def update(self, *a, **k):
                pass

            def set_postfix(self, *a, **k):
                pass

            def close(self):
                pass

        mod.tqdm = _Tqdm
        sys.modules["tqdm"] = mod
    if "tenacity" not in sys.modules:
        t = types.ModuleType("tenacity")

        def _retry(*args, **kwargs):
            if args and callable(args[0]):
                return args[0]

            def deco(fn):
                return fn

            return deco

        t.retry = _retry
        t.stop_after_attempt = lambda *a, **k: None
        t.wait_exponential = lambda *a, **k: None
        t.retry_if_exception_type = lambda *a, **k: None
        t.before_sleep_log = lambda *a, **k: None
        t.RetryError = RuntimeError
        sys.modules["tenacity"] = t


def _ref_pipelines(sf_dir: str, tmp: str, csv_in: str):
    """The five BASELINE.md shapes as reference pipelines, built fresh per
    call (StatefulAggTransformer and DAG nodes hold run state)."""
    from mini_etl import (  # noqa: import after path/stub setup
        CSVExtractor,
        CastTypeTransformer,
        CSVLoader,
        ExpressionTransformer,
        FillNATransformer,
        ParquetExtractor,
        ParquetLoader,
        Pipeline,
        RenameTransformer,
        SelectColumnsTransformer,
    )
    from mini_etl import GroupAggTransformer
    from mini_etl.components.loaders import NullLoader
    from mini_etl.components.transformers import (
        DeduplicateTransformer,
        SortTransformer,
        StatefulAggTransformer,
    )
    from mini_etl.core.dag import MergeStrategy, PipelineDAG

    def b1():
        (
            Pipeline("b1", show_progress=False)
            .set_source(ParquetExtractor(f"{sf_dir}/lineitem.parquet"))
            .add_transformer(
                ExpressionTransformer("l_discount >= 0.05 and l_quantity < 30", filter_mode=True)
            )
            .add_transformer(
                SelectColumnsTransformer(
                    ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"]
                )
            )
            .set_sink(ParquetLoader(os.path.join(tmp, "ref_b1.parquet")))
            .run()
        )

    def b2():
        # sum/sum/count: the reference's StatefulAggTransformer crashes when
        # 'mean' is mixed with other aggs (transformers.py:437-449) —
        # documented in BASELINE.md; the Spark twin computes mean too.
        (
            Pipeline("b2", show_progress=False)
            .set_source(ParquetExtractor(f"{sf_dir}/lineitem.parquet"))
            .add_transformer(
                StatefulAggTransformer(
                    group_by=["l_returnflag", "l_linestatus"],
                    agg={"l_quantity": "sum", "l_extendedprice": "sum", "l_orderkey": "count"},
                )
            )
            .set_sink(NullLoader())
            .run()
        )

    def b3():
        # NOTE (BASELINE.md): chunk-local dedup/sort — weaker semantics than
        # the Spark twin's global dedup+sort; kept for shape parity.
        (
            Pipeline("b3", show_progress=False)
            .set_source(ParquetExtractor(f"{sf_dir}/orders.parquet"))
            .add_transformer(DeduplicateTransformer(subset=["o_custkey"], keep="first"))
            .add_transformer(SortTransformer(by=["o_totalprice"], ascending=False))
            .set_sink(NullLoader())
            .run()
        )

    def b4():
        dag = (
            PipelineDAG("b4")
            .add_source("o1", ParquetExtractor(f"{sf_dir}/orders.parquet"))
            .add_source("o2", ParquetExtractor(f"{sf_dir}/orders.parquet"))
            .add_merge("all_orders", MergeStrategy.CONCAT)
            # GroupAggTransformer, not StatefulAgg: the reference DAG never
            # calls finalize(), so stateful aggs emit nothing inside a DAG.
            # CONCAT merges to a single chunk first, so the chunk-local agg
            # is still global here.
            .add_transform(
                "per_cust",
                GroupAggTransformer(
                    group_by=["o_custkey"],
                    agg={"o_totalprice": "sum", "o_orderkey": "count"},
                ),
            )
            .add_source("cust", ParquetExtractor(f"{sf_dir}/customer.parquet"))
            .add_transform("cust_keyed", RenameTransformer({"c_custkey": "o_custkey"}))
            .add_merge("joined", MergeStrategy.JOIN, join_keys=["o_custkey"])
            .add_sink("out", ParquetLoader(os.path.join(tmp, "ref_b4.parquet")))
        )
        (
            dag.connect("o1", "all_orders")
            .connect("o2", "all_orders")
            .connect("all_orders", "per_cust")
            .connect("per_cust", "joined")
            .connect("cust", "cust_keyed")
            .connect("cust_keyed", "joined")
            .connect("joined", "out")
        )
        dag.run()

    def b5():
        (
            Pipeline("b5", show_progress=False)
            .set_source(CSVExtractor(csv_in))
            .add_transformer(
                CastTypeTransformer(
                    {"l_quantity": "float", "l_extendedprice": "float", "l_orderkey": "int"}
                )
            )
            .add_transformer(
                FillNATransformer(value=0.0, columns=["l_quantity", "l_extendedprice"])
            )
            .set_sink(CSVLoader(os.path.join(tmp, "ref_b5.csv")))
            .run()
        )

    return {"b1": b1, "b2": b2, "b3": b3, "b4": b4, "b5": b5}


def measure_reference(
    sf_dir: str, tmp: str, csv_in: str
) -> tuple[dict[str, float], dict[str, float], dict[str, list[float]]]:
    _stub_ref_deps()
    sys.path.insert(0, REF_DIR)
    import logging

    logging.getLogger("mini_etl").setLevel(logging.ERROR)
    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    all_samples: dict[str, list[float]] = {}
    for name in _ref_pipelines(sf_dir, tmp, csv_in):
        # The reference can CRASH above its design scale (observed: its
        # pairwise chunk-join DAG raises a pandas duplicate-suffix
        # MergeError once the dim side spans >2 chunks — b4 at 10×
        # sf0.1), or fail intermittently under load in a timed pass.
        # Record the failure instead of aborting the whole paired run;
        # ratios then cover the queries both sides ran.
        samples = []
        try:
            fn = _ref_pipelines(sf_dir, tmp, csv_in)[name]
            fn()  # warm pass (page cache, imports) — symmetric with Spark's
            for _ in range(3):  # median-of-3, mirrors the Spark side
                fresh = _ref_pipelines(sf_dir, tmp, csv_in)[name]
                t0 = time.monotonic()
                fresh()
                samples.append(time.monotonic() - t0)
        except Exception as exc:
            print(f"# reference {name} FAILED: {exc}", file=sys.stderr)
            timings[name] = None
            timings_min[name] = None
            continue
        timings[name] = round(sorted(samples)[1], 3)
        timings_min[name] = round(min(samples), 3)
        all_samples[name] = [round(s, 3) for s in samples]
    return timings, timings_min, all_samples


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------

def _host_load() -> dict:
    """Contention evidence (VERDICT r8 #6): 1/5/15-min load averages and
    the count of currently RUNNING (R-state) processes. Recorded before
    and after the run so a contended box (like BENCH_r08's 3.06 ratio vs
    the clean 1.06) self-adjudicates from the artifact alone — a 32-core
    Spark job degrades under contention far more than the single-process
    pandas reference, so high load + declining per-run ratios reads as
    machine noise, not a plan regression."""
    try:
        la = [round(v, 2) for v in os.getloadavg()]
    except OSError:
        la = None
    try:
        running = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "R":
                        running += 1
            except OSError:
                continue
    except OSError:
        running = None
    return {
        "loadavg_1_5_15": la,
        "procs_running": running,
        "cpu_jiffies": _cpu_jiffies(),
    }


def _cpu_jiffies() -> dict | None:
    """Raw aggregate /proc/stat cpu counters (user/system/idle/iowait/
    steal). The round-11 lesson behind recording these: a NOISY NEIGHBOR
    on a shared VM inflates every query uniformly while the guest's
    loadavg stays ~0 — invisible to :func:`_host_load`'s fields. Steal
    time (hypervisor ran someone else while this guest was runnable) is
    the one guest-visible signal of that; the before/after DELTA of
    these counters gives the run's steal and iowait fractions, so the
    artifact self-adjudicates host contention, not just guest load."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        if parts[0] != "cpu":
            return None
        vals = [int(v) for v in parts[1:9]]
        user, nice, system, idle, iowait, irq, softirq, steal = (
            vals + [0] * 8
        )[:8]
        return {
            "user": user + nice, "system": system + irq + softirq,
            "idle": idle, "iowait": iowait, "steal": steal,
        }
    except (OSError, ValueError, IndexError):
        return None


def _contention_verdict(fractions: dict) -> str:
    """One-word self-label for the artifact (VERDICT r11 #8): the rule
    BASELINE.md states informally, made mechanical — whole-run steal
    fraction > 2% or iowait > 5% means the numbers were taken on a
    contended box and should not be quoted as a clean record."""
    if (
        fractions.get("steal", 0.0) > 0.02
        or fractions.get("iowait", 0.0) > 0.05
    ):
        return "contended"
    return "clean"


def _record_path(repo_dir: str, only: str | None, sf_dir: str,
                 commit_record: bool) -> str:
    """Where the full per-query record lands (VERDICT r11 #3 — the
    BENCH_FULL.json contract made MECHANICAL): the committed canonical
    record is touched only by a full-battery sf0.1 run that explicitly
    passes --commit-record / SPARK_GRAFT_COMMIT_RECORD=1 (a deliberate
    clean-box measurement). Everything else — driver runs included —
    parks in /tmp, so a contended box can never clobber the clean record
    the way rounds 10 and 11 both saw."""
    canonical = only is None and sf_dir.rstrip("/").endswith("sf0.1")
    if canonical and commit_record:
        return os.path.join(repo_dir, "BENCH_FULL.json")
    if canonical:
        return os.path.join(tempfile.gettempdir(), "BENCH_last.json")
    return os.path.join(tempfile.gettempdir(), "BENCH_FULL_smoke.json")


def main() -> None:
    import __spark_entry__ as entry
    from mini_etl_spark.session import get_spark
    from mini_etl_spark.sources import read_csv, read_parquet
    from mini_etl_spark.sinks import to_csv, to_parquet
    from mini_etl_spark import operators as ops
    from mini_etl_spark.dag import PipelineDAG

    host_load_before = _host_load()
    # dead broadcast/checkpoint/shuffle blocks are freed only after a driver
    # GC, which a large, lightly-used heap rarely runs: force one every 30 s
    # so late battery positions do not pay for earlier queries' leftovers
    spark = get_spark(
        "bench", extra_conf={"spark.cleaner.periodicGC.interval": "30s"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="bench_out_")
    queries = entry.queries()

    # JVM/codegen warm-up (not timed)
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    # CSV input for the B5 shape. Spark reads the distributed form, the
    # pandas reference reads a single file — same rows (generated once,
    # not timed).
    csv_in = os.path.join(tmp, "lineitem_csv")
    csv_cols = ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"]
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(*csv_cols).write.mode(
        "overwrite"
    ).option("header", True).csv(csv_in)
    csv_in_single = os.path.join(tmp, "lineitem_single.csv")
    import duckdb

    # SF_DIR tables may be single files (driver testdata) or Spark-written
    # directories (scale replicas) — glob the directory form for DuckDB
    li = f"{SF_DIR}/lineitem.parquet"
    li_glob = f"{li}/*.parquet" if os.path.isdir(li) else li
    duckdb.sql(
        f"COPY (SELECT {', '.join(csv_cols)} FROM '{li_glob}') "
        f"TO '{csv_in_single}' (HEADER)"
    )

    # ---- reference measurement (same run, same data) ----
    ref_timings, ref_timings_min, ref_samples = measure_reference(
        SF_DIR, tmp, csv_in_single
    )

    def b1_scan_filter_project_write(spark, sf_dir):
        df = read_parquet(f"{sf_dir}/lineitem.parquet")(spark)
        df = ops.filter_rows("l_discount >= 0.05 and l_quantity < 30")(df)
        df = ops.select_columns(["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"])(df)
        to_parquet(os.path.join(tmp, "b1"), mode="overwrite")(df)
        return None

    def b3_dedup_sort(spark, sf_dir):
        df = read_parquet(f"{sf_dir}/orders.parquet")(spark)
        df = ops.deduplicate(["o_custkey"], keep="first", order_by="o_orderkey")(df)
        df = ops.sort_rows(["o_totalprice"], ascending=False)(df)
        return df

    def b4_dag_concat_join_write(spark, sf_dir):
        orders = read_parquet(f"{sf_dir}/orders.parquet")
        customer = read_parquet(f"{sf_dir}/customer.parquet")
        dag = (
            PipelineDAG("bench_dag", spark=spark)
            .add_source("o1", orders)
            .add_source("o2", orders)
            .add_merge("all_orders", "concat")
            .add_transform(
                "per_cust",
                ops.group_agg("o_custkey", {"o_totalprice": "sum", "o_orderkey": "count"}),
            )
            .add_source("cust", customer)
            .add_transform("cust_keyed", lambda df: df.withColumnRenamed("c_custkey", "o_custkey"))
            .add_merge("joined", "join", join_keys=["o_custkey"], join_how="outer")
            .add_sink("out", lambda df: to_parquet(os.path.join(tmp, "b4"), mode="overwrite")(df))
            .add_edge("o1", "all_orders").add_edge("o2", "all_orders")
            .add_edge("all_orders", "per_cust").add_edge("per_cust", "joined")
            .add_edge("cust", "cust_keyed").add_edge("cust_keyed", "joined")
            .add_edge("joined", "out")
        )
        dag.run(spark)
        return None

    def b5_csv_cast_fillna_write(spark, sf_dir):
        df = read_csv(csv_in, infer_schema=False)(spark)
        df = ops.cast_types({"l_quantity": "float", "l_extendedprice": "float", "l_orderkey": "int"})(df)
        df = ops.fill_na(0.0, columns=["l_quantity", "l_extendedprice"])(df)
        to_csv(os.path.join(tmp, "b5"), mode="overwrite")(df)
        return None

    def _cell_pairs_default(spark, sf_dir):
        # the SAME SemDeDup pair query the oracle checks, at the library
        # DEFAULT (method="arrow": one numpy/BLAS matmul per cell instead
        # of per-pair interpreted zip_with aggregates). The oracle entry
        # pins method="expr" for bit-replayability; this measures what a
        # user gets out of the box.
        from mini_etl_spark.functions import similarity as sim

        emb = read_parquet(f"{sf_dir}/embeddings.parquet")(spark)
        cents = sim.random_unit_centroids(dim=64, k=32, seed=7)
        return sim.cell_cosine_pairs(emb, cents, threshold=0.3)

    def _incremental_dedup_probe(spark, sf_dir):
        # the at-scale shape of the same incremental-dedup chain the oracle
        # checks (oracle uses the md5-portable 16-hash config and rebuilds
        # the index so DuckDB can replay it): production config — xxhash64
        # intrinsics, 64 hashes / 16 bands — probing a PREBUILT index,
        # because build-once serve-many is the operator's contract. The
        # one-time build cost is paid in setup, not per probe.
        from mini_etl_spark.functions.dedup_index import minhash_index_dedup
        from pyspark.sql import functions as Fq

        docs = read_parquet(f"{sf_dir}/documents.parquet")(spark)
        batch = docs.filter(Fq.col("doc_id") % 10 == 0).select("doc_id", "text")
        return minhash_index_dedup(spark, _mh_index_path, batch, threshold=0.5)

    def _pq_topk_default(spark, sf_dir):
        # the SAME PQ/ADC query the oracle checks, at the library DEFAULT
        # (method="arrow": BLAS-batched code assignment instead of the
        # bit-replayable m×k×dsub expression tree)
        from mini_etl_spark.functions import similarity as sim
        from mini_etl_spark.sources import read_parquet as _rp

        emb = _rp(f"{sf_dir}/embeddings.parquet")(spark)
        cb = sim.pq_random_codebooks(64, m=8, k=8, seed=13)
        from __spark_entry__ import _query_vector

        q = _query_vector(spark, sf_dir)
        return sim.pq_adc_topk(emb, q, cb, k=10)

    def _knn_join_default(spark, sf_dir):
        # the SAME retrieval join the oracle checks, at the library
        # DEFAULT (method="arrow": BLAS matmul kernels for assignment,
        # probing, and scoring)
        from mini_etl_spark.functions import similarity as sim
        from pyspark.sql import functions as Fq

        emb = read_parquet(f"{sf_dir}/embeddings.parquet")(spark)
        cents = sim.random_unit_centroids(dim=64, k=32, seed=7)
        q = emb.filter(Fq.col("vec_id") % 25 == 0)
        return sim.knn_join(q, emb, cents, k=5, nprobe=2, exclude_self=True)

    paired: dict[str, object] = {
        "b1_scan_filter_write": b1_scan_filter_project_write,
        "b2_group_agg": queries["group_agg"],
        "b3_dedup_sort": b3_dedup_sort,
        "b4_dag_concat_join_write": b4_dag_concat_join_write,
        "b5_csv_cast_fillna_write": b5_csv_cast_fillna_write,
    }
    extensions: dict[str, object] = {
        "q6_filter_expression": queries["filter_expression"],
        "q3_shipping_priority": queries["shipping_priority"],
        "q5_regional_revenue": queries["regional_revenue"],
        "join_star": queries["join_star"],
        "join_outer": queries["join_outer"],
        "expression_derive": queries["expression_derive"],
        "events_window": queries["events_window"],
        "topk_per_group": queries["topk_per_group"],
        "text_features": queries["text_features"],
        "exact_dedup": queries["exact_dedup"],
        "jaccard_pairs": queries["jaccard_pairs"],
        "near_dup_groups": queries["near_dup_groups"],
        "near_dup_groups_star": queries["near_dup_groups_star"],
        "corpus_clean": queries["corpus_clean"],
        "minhash_lsh_pairs": queries["minhash_lsh_pairs"],
        "simhash_pairs": queries["simhash_pairs"],
        "cosine_topk": queries["cosine_topk"],
        "diverse_sample": queries["diverse_sample"],
        "cosine_pairs_lsh": queries["cosine_pairs_lsh"],
        "lsh_topk": queries["lsh_topk"],
        "contamination": queries["contamination"],
        "bloom_decontaminated": queries["bloom_decontaminated"],
        "product_profit": queries["product_profit"],
        "doc_repetition": queries["doc_repetition"],
        "doc_chunks": queries["doc_chunks"],
        "pack_sequences": queries["pack_sequences"],
        "bm25_topk": queries["bm25_topk"],
        "token_mixture": queries["token_mixture"],
        "temperature_mix": queries["temperature_mix"],
        "common_ngrams": queries["common_ngrams"],
        "conversation_stats": queries["conversation_stats"],
        "corpus_shuffle": queries["corpus_shuffle"],
        "quality_percentile": queries["quality_percentile"],
        "semantic_cell_pairs": _cell_pairs_default,
        "semantic_cell_pairs_expr": queries["semantic_cell_pairs"],
        "line_hygiene": queries["line_hygiene"],
        "incremental_rollup": queries["incremental_rollup"],
        "embedding_centroids": queries["embedding_centroids"],
        "pii_redaction": queries["pii_redaction"],
        "hash_split": queries["hash_split"],
        "weighted_sample": queries["weighted_sample"],
        "paragraph_dedup": queries["paragraph_dedup"],
        "rolling_hour": queries["rolling_hour"],
        "key_skew": queries["key_skew"],
        "source_cap": queries["source_cap"],
        "duplicate_spans": queries["duplicate_spans"],
        "span_removal": queries["span_removal"],
        "knn_join": _knn_join_default,
        "knn_join_expr": queries["knn_join"],
        "snapshot_diff": queries["snapshot_diff"],
        "resample": queries["resample"],
        "retention_cohorts": queries["retention_cohorts"],
        "embedding_quantize": queries["embedding_quantize"],
        "pq_topk": _pq_topk_default,
        "pq_topk_expr": queries["pq_topk"],
        "bpe_vocab": queries["bpe_vocab"],
        "returned_revenue": queries["returned_revenue"],
        "brand_revenue": queries["brand_revenue"],
        "validated": queries["validated"],
        "incremental_dedup": _incremental_dedup_probe,
        "fuzzy_match": queries["fuzzy_match"],
        "script_id": queries["script_id"],
        "lm_perplexity": queries["lm_perplexity"],
        "normalized_text": queries["normalized_text"],
        "pagerank": queries["pagerank"],
        "domain_score": queries["domain_score"],
        "k_anonymized": queries["k_anonymized"],
        "zorder_key": queries["zorder_key"],
        "profile": queries["profile"],
        "histogram": queries["histogram"],
        "top_values": queries["top_values"],
        "url_parse": queries["url_parse"],
        "link_hosts": queries["link_hosts"],
        "html_text": queries["html_text"],
        "url_blocklist": queries["url_blocklist"],
        "psl_domain_cap": queries["psl_domain_cap"],
        "sparse_cosine_pairs": queries["sparse_cosine_pairs"],
        "kmeans_clusters": queries["kmeans_clusters"],
        "heavy_hitters": queries["heavy_hitters"],
        "bpe_encode": queries["bpe_encode"],
        "token_shards": queries["token_shards"],
        "semantic_decontaminated": queries["semantic_decontaminated"],
        "conversation_redaction": queries["conversation_redaction"],
        "mad_outliers": queries["mad_outliers"],
        "containment_pairs": queries["containment_pairs"],
        "set_jaccard": queries["set_jaccard"],
        "set_jaccard_exact": queries["set_jaccard_exact"],
        "jaccard_pairs_exact": queries["jaccard_pairs_exact"],
        # per-process index builds on the warm pass; the timed pass
        # measures the probe (build-once serve-many is the contract)
        "jaccard_index_probe": queries["jaccard_index_probe"],
        "pagerank_personalized": queries["pagerank_personalized"],
        "chat_json_roundtrip": queries["chat_json_roundtrip"],
        "l_diversity": queries["l_diversity"],
        "benford": queries["benford"],
        "quantile_buckets": queries["quantile_buckets"],
        "group_trend": queries["group_trend"],
        "word_histogram_topk": queries["word_histogram_topk"],
        "column_drift": queries["column_drift"],
        "category_drift": queries["category_drift"],
    }
    # one-time index build for the incremental-dedup probe (untimed setup,
    # mirroring a served index)
    from mini_etl_spark.functions.dedup_index import minhash_index_write
    from pyspark.sql import functions as _F

    _docs = read_parquet(f"{SF_DIR}/documents.parquet")(spark)
    _mh_index_path = os.path.join(tmp, "mh_index")
    minhash_index_write(
        _docs.filter(_F.col("doc_id") % 10 != 0).select("doc_id", "text"),
        _mh_index_path,
        num_hashes=64,
        bands=16,
    )

    def run_once(fn) -> None:
        result = fn(spark, SF_DIR)
        if result is not None:
            _force(result)

    def clear_cached_state() -> None:
        # Several operators persist() shared intermediates (shingle frames,
        # span postings, hashed vectors); their blocks outlive the query.
        # Across a 40+-query session the block manager fills with dead
        # cached plans — later queries time 3-5× slower from eviction
        # pressure and CacheManager plan-matching. A cluster job runs one
        # query per session, so the honest steady-state protocol drops all
        # cached state between queries (and between timed passes, so no
        # pass reuses the warm pass's blocks via logical-plan matching).
        spark.catalog.clearCache()  # DataFrame persist() → CacheManager
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()  # raw RDD persists (none expected, belt+braces)

    # SPARK_GRAFT_BENCH_ONLY: comma-separated query names — restrict the
    # battery (e.g. at replica scale, where the full 90+ set won't fit a
    # session). B1-B5 are always kept: the paired gate stays comparable.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = {s.strip() for s in only.split(",") if s.strip()}
        extensions = {k: v for k, v in extensions.items() if k in keep}

    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    spark_samples: dict[str, list[float]] = {}
    cold: dict[str, float] = {}
    for name, fn in paired.items():
        run_once(fn)  # steady-state warm pass (codegen, shuffle machinery)
        clear_cached_state()
        samples = []
        for _ in range(3):  # median-of-3, mirrors the reference side
            t0 = time.monotonic()
            run_once(fn)
            samples.append(time.monotonic() - t0)
            clear_cached_state()
        spark_samples[name] = [round(s, 3) for s in samples]
        timings[name] = round(sorted(samples)[1], 3)
        # min-of-3 rides alongside the median so a single loaded run on
        # the driver box cannot masquerade as a plan regression (the r4
        # artifact showed 2.1x phantom slowdowns from machine load that
        # no re-run reproduced — VERDICT r4 #5)
        timings_min[name] = round(min(samples), 3)
    for name, fn in extensions.items():
        # Same steady-state protocol as B1-B5: the first pass (recorded as
        # cold_queries) pays one-time Janino codegen compile of the plan —
        # a fixed cost that amortizes to zero at scale; the timed figure is
        # the sustained per-run throughput a cluster job would see, taken
        # as best-of-2 warm passes (a single warm sample occasionally eats
        # a multi-second GC/compile pause — observed 4.7 s cold / 15 s
        # "warm" on corpus_clean — which says nothing about the plan).
        t0 = time.monotonic()
        run_once(fn)
        cold[name] = round(time.monotonic() - t0, 3)
        clear_cached_state()
        warm_samples = []
        for _ in range(2):
            t0 = time.monotonic()
            run_once(fn)
            warm_samples.append(time.monotonic() - t0)
            clear_cached_state()
        timings[name] = round(min(warm_samples), 3)
        timings_min[name] = timings[name]  # already a min — recorded uniformly

    shutil.rmtree(tmp, ignore_errors=True)
    total = round(sum(timings.values()), 3)
    # ratios cover only the queries BOTH sides completed — the reference
    # can fail above its design scale (None timing); those are reported
    # in ref_failed rather than silently zeroed into the totals
    ok_ref = {k: v for k, v in ref_timings.items() if v is not None}
    ok_ref_min = {k: v for k, v in ref_timings_min.items() if v is not None}
    ref_failed = sorted(k for k, v in ref_timings.items() if v is None)
    ok_paired = [k for k in paired if k.split("_")[0] in ok_ref]
    spark_b = round(sum(timings[k] for k in ok_paired), 3)
    ref_b = round(sum(ok_ref.values()), 3)
    host_load = {"before": host_load_before, "after": _host_load()}
    _jb = host_load_before.get("cpu_jiffies")
    _ja = host_load["after"].get("cpu_jiffies")
    if _jb and _ja:
        _tot = sum(_ja.values()) - sum(_jb.values())
        if _tot > 0:
            # whole-run CPU split; steal > ~2-3% = host-side contention
            # even when the guest loadavg reads idle
            host_load["run_cpu_fractions"] = {
                k: round((_ja[k] - _jb[k]) / _tot, 4) for k in _ja
            }
            # self-labeling verdict (VERDICT r11 #8): the artifact says
            # whether its own numbers were taken on a contended box, so
            # a future reader never has to re-derive the rule BASELINE.md
            # states informally (steal > 2% or iowait > 5% = contended)
            host_load["contention_verdict"] = _contention_verdict(
                host_load["run_cpu_fractions"]
            )
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "sf": _sf_from_dir(SF_DIR),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "all"),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "ref_queries": ref_timings,
        "ref_queries_min": ref_timings_min,
        "ref_total_b1_b5": ref_b,
        "spark_total_b1_b5": spark_b,
        "ratio_b1_b5": round(spark_b / ref_b, 3) if ref_b else None,
        "ref_failed": ref_failed,
        "ratio_b1_b5_min": (
            round(
                sum(timings_min[k] for k in ok_paired)
                / sum(ok_ref_min.values()),
                3,
            )
            if ok_ref_min
            else None
        ),
        # per-timed-pass ratio spread (VERDICT r6 #7): the i-th timed
        # pass on each side summed over the co-completed paired queries —
        # the same-day run-to-run variance lives in the JSON, so noise
        # vs regression is adjudicable from the artifact alone
        # list is index-aligned to the timed passes: a pass whose
        # reference sum rounds to 0 records null, never a shortened list
        "ratio_runs": (
            [
                (
                    round(
                        sum(spark_samples[k][i] for k in ok_paired) / rsum, 3
                    )
                    if (rsum := sum(ref_samples[k][i] for k in ok_ref)) > 0
                    else None
                )
                for i in range(3)
            ]
            if ok_ref
            and all(len(ref_samples.get(k, [])) == 3 for k in ok_ref)
            else []
        ),
        "samples_b1_b5": {"spark": spark_samples, "ref": ref_samples},
        "host_load": host_load,
        "cold_queries": cold,
        "cold_total": round(sum(cold.values()), 3),
        "methodology": (
            "paired same-run measurement: pandas reference and Spark "
            "measured in one process on identical data; every query "
            "on both sides is steady-state (one untimed warm pass, "
            "then timed; the paired B1-B5 set is median-of-3 on BOTH "
            "sides, with min-of-3 recorded alongside so one loaded "
            "run cannot read as a plan regression; extension queries "
            "are best-of-2 warm passes). "
            "Extension first-pass times — including one-time "
            "Janino codegen compile, which amortizes to zero on a "
            "long-running cluster — are reported separately as "
            "cold_queries."
        ),
    }
    # The full per-query map (~60 entries) outgrew the driver's tail
    # capture in round 3 (BENCH_r03.json parsed=null). Persist the full
    # record to a sidecar file and print a COMPACT summary as the final
    # stdout line — small enough that the driver's tail capture always
    # contains it whole, carrying the gate number (ratio_b1_b5) plus the
    # paired B1-B5 map and the 5 slowest extension queries.
    # A restricted battery (SPARK_GRAFT_BENCH_ONLY) or a non-default
    # scale factor is a smoke/scale run, not the canonical record — park
    # its sidecar in /tmp so it cannot clobber the committed full-battery
    # sf0.1 BENCH_FULL.json. Since r12 the contract is MECHANICAL, not
    # procedural (VERDICT r11 #3): even a full-battery sf0.1 run only
    # touches the committed BENCH_FULL.json when --commit-record (or
    # SPARK_GRAFT_COMMIT_RECORD=1) is passed on a deliberate clean-box
    # run; the driver's possibly-contended runs land in /tmp.
    commit_record = "--commit-record" in sys.argv[1:] or os.environ.get(
        "SPARK_GRAFT_COMMIT_RECORD"
    ) in ("1", "true", "yes")
    sidecar = _record_path(
        os.path.dirname(os.path.abspath(__file__)), only, SF_DIR, commit_record
    )
    with open(sidecar, "w") as fh:
        json.dump(full, fh, indent=1)
    slowest = dict(
        sorted(
            ((k, v) for k, v in timings.items() if k not in paired),
            key=lambda kv: -kv[1],
        )[:5]
    )
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": full["sf"],
        "cpus": full["cpus"],
        "default_parallelism": full["default_parallelism"],
        "queries": {k: timings[k] for k in paired},
        "queries_min": {k: timings_min[k] for k in paired},
        "ref_queries": ref_timings,
        "ref_queries_min": ref_timings_min,
        "ref_total_b1_b5": ref_b,
        "spark_total_b1_b5": spark_b,
        "ratio_b1_b5": full["ratio_b1_b5"],
        "ratio_b1_b5_min": full["ratio_b1_b5_min"],
        "ratio_runs": full["ratio_runs"],
        "ref_failed": ref_failed,
        "cold_total": full["cold_total"],
        "n_queries": len(timings),
        "slowest_extensions": slowest,
        "host_load": host_load,
        "full_results": sidecar,
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
