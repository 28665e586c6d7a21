"""Seeded input generator for the benchmark workloads.

Uses numpy, pyarrow and the standard library only -- never the program under
test -- so the program sees nothing but the files written here.  The same
``(workload, seed, scale)`` always yields byte-identical inputs.  Besides the
inputs, each workload gets a ``manifest.json`` with what the generator knows
about its own data (row counts, planted duplicate structure); the benchmark's
correctness checks read it.

Run on its own:  python3 perfbench/gen.py --workload etl_star --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import string
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Input sizes at --scale 1.  etl_star's two parts are sized so that each takes
# well under a second per warm iteration on a 4-core box.  corpus_dedup's
# iteration is dominated by the ~50 jobs the corpus functions launch, not by
# its size, so it stays small.
SIZES = {
    "ingest": {"lineitem_rows": 80_000},
    "star": {"order_rows": 160_000, "customers": 4_000},
    "corpus_dedup": {"docs": 300},
}

# ETL filter applied by the ingest config; the generator applies the same
# predicate to its own values to know the expected row count.
ETL_MAX_QUANTITY = 45
ETL_MAX_DISCOUNT_CENTS = 8  # l_discount < 0.09 after fillna(0.0)

CHAIN_LINKS = 3  # near-duplicate chain: a base doc and 3 successive edits
SEMANTIC_COPIES = 2  # semantic cluster: a base doc and 2 shuffled twins

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "was", "for", "with", "that"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "nicht", "ein", "auf"],
    "fr": ["le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des"],
    "es": ["el", "los", "las", "es", "en", "para", "por", "una", "del", "como"],
}


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def gen_ingest(out: str, seed: int, scale: float) -> dict:
    """lineitem-like CSV for the config-built ingest pipeline."""
    rng = _rng(seed, 1)
    n = max(200, int(SIZES["ingest"]["lineitem_rows"] * scale))
    quantity = rng.integers(1, 51, n).astype(np.float64)
    discount_cents = rng.integers(0, 11, n)
    discount_null = rng.random(n) < 0.05
    discount = np.where(discount_null, np.nan, discount_cents / 100.0)
    ship = np.datetime64("1992-01-02") + rng.integers(0, 2400, n).astype("timedelta64[D]")
    words = np.array(["carefully", "final", "deposits", "quickly", "ironic",
                      "packages", "sleep", "express", "accounts", "regular"])
    comment = pc.binary_join_element_wise(
        *[pa.array(words[rng.integers(0, len(words), n)]) for _ in range(4)], " ")
    table = pa.table({
        "l_orderkey": np.sort(rng.integers(1, n // 3 + 2, n)),
        "l_partkey": rng.integers(1, 20_000, n),
        "l_suppkey": rng.integers(1, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n),
        "l_quantity": quantity,
        "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
        "l_discount": pa.array(discount, mask=discount_null),
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship.astype(str)),
        "l_comment": comment,
    })
    pacsv.write_csv(table, os.path.join(out, "lineitem.csv"))
    filled_cents = np.where(discount_null, 0, discount_cents)
    kept = (quantity < ETL_MAX_QUANTITY) & (filled_cents <= ETL_MAX_DISCOUNT_CENTS)
    return {"input_rows": n, "expected_rows": int(kept.sum())}


def gen_star(out: str, seed: int, scale: float) -> dict:
    """Two order sources and a customer dimension for the star-join DAG."""
    rng = _rng(seed, 2)
    n = max(400, int(SIZES["star"]["order_rows"] * scale))
    n_cust = max(50, int(SIZES["star"]["customers"] * scale))
    # Zipf-skewed customer keys; the key range overshoots the dimension by
    # 10% so the outer join has unmatched rows on both sides.
    key_space = int(n_cust * 1.1)
    ranks = rng.zipf(1.3, n)
    ranks = np.where(ranks > key_space, rng.integers(1, key_space + 1, n), ranks)
    perm = rng.permutation(key_space) + 1
    custkey = perm[ranks - 1]
    orderdate = np.datetime64("1993-01-01") + rng.integers(0, 2000, n).astype("timedelta64[D]")
    half = n // 2
    cols = {
        "o_orderkey": np.arange(1, n + 1, dtype=np.int64),
        "o_custkey": custkey.astype(np.int64),
        "o_totalprice": rng.integers(100_000, 50_000_000, n) / 100.0,
        "o_orderdate": orderdate.astype("datetime64[ms]"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n)],
    }
    web = pa.table({k: v[:half] for k, v in cols.items()})
    web = web.append_column("o_channel", pa.array(["web"] * half))
    store = pa.table({k: v[half:] for k, v in cols.items()})
    store = store.append_column(
        "o_clerk", pa.array([f"Clerk#{i:05d}" for i in rng.integers(1, 1000, n - half)])
    )
    pq.write_table(web, os.path.join(out, "orders_web.parquet"))
    pq.write_table(store, os.path.join(out, "orders_store.parquet"))
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": rng.integers(-99_999, 999_999, n_cust) / 100.0,
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    pq.write_table(customer, os.path.join(out, "customer.parquet"))
    out_keys = np.union1d(np.unique(custkey), np.arange(1, n_cust + 1))
    return {"input_rows": n + n_cust, "expected_rows": int(len(out_keys))}


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    stop = {w for ws in STOPWORDS.values() for w in ws}
    letters = np.array(list(string.ascii_lowercase))
    vocab: set[str] = set()
    while len(vocab) < size:
        w = "".join(letters[rng.integers(0, 26, rng.integers(4, 10))])
        if w not in stop:
            vocab.add(w)
    return sorted(vocab)


def vector_bucket(token: str, seed: int = 42, dim: int = 64) -> int:
    """Bucket of ``token`` in ``semantic_dedup``'s default hashed vectors.

    Replays the documented cross-engine contract of
    ``functions.splits.hash_bucket``: the first 8 hex digits of
    md5("<seed>\\x1f<token>") as an integer, modulo ``dim``.
    """
    return int(hashlib.md5(f"{seed}\x1f{token}".encode()).hexdigest()[:8], 16) % dim


def gen_corpus_dedup(out: str, seed: int, scale: float) -> dict:
    """Document corpus with a language and quality mix and planted structure.

    - distinct English docs: 25-35 tokens from a 20k-word vocabulary plus
      ~10% English stop words, so unrelated docs share no shingles and their
      64-bucket hashed vectors sit far below the 0.9 cosine threshold;
    - other-language and low-quality docs, which ``clean_corpus`` filters;
    - exact duplicates (identical text), which exact dedup collapses;
    - near-duplicate chains: each link substitutes 2 tokens of the previous
      one, so neighbours have 3-shingle Jaccard >= 0.5 but docs two links
      apart do not -- only connected components join a chain, over several
      rounds;
    - semantic clusters: a base doc plus shuffled copies in which one word is
      swapped for another word of the same vector bucket.  Shuffling destroys
      the shingles (Jaccard ~0) and the swap changes the fingerprint, so
      ``clean_corpus`` keeps every member; the hashed vectors stay identical,
      so ``semantic_dedup`` must collapse each cluster to its min id
      whatever cell it falls in.
    """
    rng = _rng(seed, 3)
    n_target = max(60, int(SIZES["corpus_dedup"]["docs"] * scale))
    vocab = np.array(_vocabulary(rng, 20_000))

    by_bucket: dict[int, list[str]] = {}
    for w in vocab:
        by_bucket.setdefault(vector_bucket(w), []).append(w)

    def doc(lang: str = "en", lo: int = 25, hi: int = 36) -> list[str]:
        length = int(rng.integers(lo, hi))
        n_stop = max(1, length // 10)
        toks = list(vocab[rng.integers(0, len(vocab), length - n_stop)])
        stop = STOPWORDS[lang]
        for _ in range(n_stop):
            toks.insert(int(rng.integers(0, len(toks) + 1)), stop[rng.integers(0, len(stop))])
        return toks

    texts: list[list[str]] = []
    kinds: list[str] = []
    groups: list[int] = []  # group index for planted structures, -1 otherwise

    def add(toks: list[str], kind: str, group: int = -1) -> None:
        texts.append(toks)
        kinds.append(kind)
        groups.append(group)

    # Fixed shapes, so that every seed makes the same number of
    # connected-components rounds and thus the same jobs.
    n_chain = max(2, n_target // 60)
    n_sem = max(2, n_target // 40)
    n_exact = max(2, n_target // 40)
    group = 0
    chain_groups = []
    for _ in range(n_chain):
        toks = doc()
        add(toks, "chain", group)
        # Substituted positions are 3 apart and clear of the ends, so each
        # substitution kills exactly 3 of the >= 23 shingles: neighbours keep
        # Jaccard >= 17/29, docs two links apart fall to <= 21/45.
        spots = list(rng.choice(np.arange(2, 21, 3), 2 * CHAIN_LINKS, replace=False))
        for link in range(CHAIN_LINKS):
            toks = list(toks)
            for pos in spots[2 * link:2 * link + 2]:
                toks[pos] = vocab[rng.integers(0, len(vocab))]
            add(toks, "chain", group)
        chain_groups.append(group)
        group += 1
    sem_groups = []
    for _ in range(n_sem):
        base = doc()
        add(base, "semantic", group)
        content = [i for i, t in enumerate(base) if t not in STOPWORDS["en"]]
        for _ in range(SEMANTIC_COPIES):
            toks = list(base)
            pos = content[rng.integers(0, len(content))]
            twins = by_bucket[vector_bucket(toks[pos])]
            toks[pos] = twins[rng.integers(0, len(twins))]
            while toks[pos] in base:
                toks[pos] = twins[rng.integers(0, len(twins))]
            add([toks[i] for i in rng.permutation(len(toks))], "semantic", group)
        sem_groups.append(group)
        group += 1
    for _ in range(n_exact):
        toks = doc()
        for _ in range(2):
            add(toks, "exact", group)
        group += 1
    for lang in ("de", "fr", "es"):
        for _ in range(max(1, n_target // 20)):
            add(doc(lang), "foreign")
    for _ in range(max(1, n_target // 20)):
        toks = [str(v) for v in rng.integers(0, 100_000, int(rng.integers(8, 20)))]
        toks.insert(int(rng.integers(0, len(toks))), "the")
        add(toks, "low_quality")
    while len(texts) < n_target:
        add(doc(), "distinct")

    n = len(texts)
    ids = rng.permutation(n).astype(np.int64)
    for g in chain_groups:  # ids rise along each chain: the min id is at one end
        at = [i for i, gi in enumerate(groups) if gi == g]
        ids[at] = np.sort(ids[at])
    table = pa.table({
        "doc_id": ids,
        "text": [" ".join(t) for t in texts],
        "lang": [("en" if k not in ("foreign",) else "xx") for k in kinds],
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": [len(" ".join(t)) for t in texts],
    })
    order = np.argsort(ids)
    pq.write_table(table.take(order), os.path.join(out, "documents.parquet"))
    members: dict[int, list[int]] = {}
    for i, g in enumerate(groups):
        if g in sem_groups:
            members.setdefault(g, []).append(int(ids[i]))
    distinct = sorted(int(ids[i]) for i, k in enumerate(kinds) if k == "distinct")
    return {
        "input_rows": n,
        "semantic_clusters": [sorted(m) for m in members.values()],
        "distinct_ids": distinct,
    }


def gen_etl_star(out: str, seed: int, scale: float) -> dict:
    ingest = gen_ingest(out, seed, scale)
    star = gen_star(out, seed, scale)
    return {"input_rows": ingest["input_rows"] + star["input_rows"],
            "ingest_rows": ingest["expected_rows"], "star_rows": star["expected_rows"]}


GENERATORS = {
    "etl_star": gen_etl_star,
    "corpus_dedup": gen_corpus_dedup,
}


def generate(workload: str, seed: int, out: str, scale: float = 1.0) -> dict:
    """Write the workload's inputs and manifest into ``out``; return the manifest."""
    os.makedirs(out, exist_ok=True)
    start = time.perf_counter()
    manifest = GENERATORS[workload](out, seed, scale)
    manifest.update(workload=workload, seed=seed, scale=scale,
                    gen_s=time.perf_counter() - start)
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args()
    m = generate(args.workload, args.seed, args.out, args.scale)
    print(json.dumps({k: m[k] for k in ("workload", "input_rows", "gen_s")}))


if __name__ == "__main__":
    main()
