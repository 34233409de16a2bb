"""Scale soak for the round-4 wave-2 operators: percolation, champion
tier, HITS, BFS link distance — run against a 1M+ doc generated corpus
(same deterministic generator as the 17M index soak) and report wall
times + result invariants as one JSON line (persisted to
BENCH/ops_soak.json by the caller or -o).

Usage: python tools/ops_soak.py [n_docs] [cpus]

What each op's soak evidences at this scale:
* percolate: the term join fans out to ~(docs·terms_per_doc) ×
  (queries_per_term) rows — the soak runs 1,024 stored queries over the
  full corpus in ONE job and cross-checks a 3-doc sample against the
  tiny-batch path.
* champion_index: WindowGroupLimit must prune per-term postings BEFORE
  the exchange; the tier's BM25 latency is compared with the full
  index's on the same hot query.
* hits / link_distance: constant-lineage loops at 2M edges; block-leak
  assert (persistent RDD count returns to ±1 of baseline).

related_docs is deliberately absent: the generator's ~2.3k-word vocab is
near-uniform (every term df ≈ n_docs/40), so any df ceiling either keeps
everything (Σdf² ~ 10^12 pairs — the quadratic regime the ceiling exists
to forbid) or keeps nothing; all-pairs similarity needs the heavy-tailed
vocabulary real corpora have. Its scale story is the ceiling itself plus
the sf-scale oracle entries.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.soak_bench import fast_synthetic_corpus  # noqa: E402

from mini_search_engine_spark.corpus import load_corpus  # noqa: E402
from mini_search_engine_spark.index.build import build_index  # noqa: E402
from mini_search_engine_spark.index.prune import champion_index  # noqa: E402
from mini_search_engine_spark.search import (  # noqa: E402
    bm25_topk,
    hits,
    link_distance,
    percolate,
)
from mini_search_engine_spark.session import get_spark  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    spark = get_spark(
        app_name="ops-soak", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"n_docs": n_docs, "cpus": cpus}

    root = os.path.join(tempfile.gettempdir(), f"ops_soak_{n_docs}")
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.time()
    fast_synthetic_corpus(spark, n_docs, 4 * cpus).write.mode("overwrite").parquet(
        f"{root}/corpus"
    )
    raw = spark.read.parquet(f"{root}/corpus")
    docs = load_corpus(raw).persist()
    docs.count()
    out["gen_load_sec"] = round(time.time() - t0, 2)

    # ---- percolation: 1,024 stored queries, one job over the corpus ----
    from mini_search_engine_spark.corpus import _ENGLISH, _KEYWORDS

    vocab = _KEYWORDS + _ENGLISH
    qrows = [
        (i, f"{vocab[(3 * i) % len(vocab)]} {vocab[(7 * i + 1) % len(vocab)]}")
        for i in range(1024)
    ]
    queries = spark.createDataFrame(qrows, "qid long, query string")
    # one FULL untimed warm run, then min-of-2 (the scaling-bench
    # protocol): at r5 job sizes the first execution's JIT/codegen/worker
    # warm-up dominates — measured 56.5 → 33.0 → ~7 s across the first
    # three identical runs in one session — and an alert pipeline runs
    # this same job every micro-batch, so steady state is the number
    percolate(docs, queries, analyzer="porter").count()
    reps = []
    for _ in range(2):
        t0 = time.time()
        n_alerts = percolate(docs, queries, analyzer="porter").count()
        reps.append(round(time.time() - t0, 2))
    out["percolate_1024q_sec"] = min(reps)
    out["percolate_1024q_reps"] = reps
    out["percolate_alerts"] = n_alerts
    # invariant: tiny-batch path agrees on a 3-doc sample
    sample = docs.filter(F.col("docid") < 3)
    small = percolate(sample, queries, analyzer="porter")
    big = percolate(docs, queries, analyzer="porter").filter(F.col("docid") < 3)
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, big.collect()))
    out["percolate_sample_parity"] = True

    # ---- index + champion tier (fused shuffle-free build path) ----
    ranged = docs.repartitionByRange(cpus, "docid").persist()
    ranged.count()
    t0 = time.time()
    idx = build_index(ranged, analyzer="porter", positional=False)
    idx.postings.count()
    out["index_build_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    tier = champion_index(idx, n_per_term=128)
    tier.postings.persist().count()
    out["champion_build_sec"] = round(time.time() - t0, 2)
    full_postings = idx.termstats.agg(F.sum("df")).collect()[0][0]
    tier_postings = tier.postings.agg(F.sum("n")).collect()[0][0]
    out["postings_full"] = int(full_postings)
    out["postings_champion"] = int(tier_postings)

    # warm serving on BOTH indexes: pins postings/sidecars + memoizes the
    # per-term dfs, so the timed calls isolate the SCORING scan — the df
    # probe is identical on both tiers and would otherwise dominate and
    # mask the postings-volume difference (observed in the first 1M run:
    # 16.9 s vs 15.5 s, both probe-bound)
    idx = idx.warm()
    tier = tier.warm()
    q = ["merge", "scan"]
    full_top = bm25_topk(idx, q, 10).collect()  # untimed: memo + cache fill
    tier_top = bm25_topk(tier, q, 10).collect()
    t0 = time.time()
    full_top = bm25_topk(idx, q, 10).collect()
    out["bm25_full_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    tier_top = bm25_topk(tier, q, 10).collect()
    out["bm25_champion_sec"] = round(time.time() - t0, 2)
    # invariant: champion docs score identically on the full index (they
    # are the per-term top-tf docs; global stats shared)
    full_scores = {r["docid"]: r["score"] for r in full_top}
    overlap = [r for r in tier_top if r["docid"] in full_scores]
    assert all(abs(full_scores[r["docid"]] - r["score"]) < 1e-9 for r in overlap)
    out["champion_topk_overlap"] = len(overlap)
    tier.unpersist(corpus=False)
    idx.unpersist(corpus=False)
    ranged.unpersist()

    # ---- graph loops at 2M edges ----
    edges = docs.select(
        F.col("docid").alias("src"), ((F.col("docid") * 7 + 3) % n_docs).alias("dst")
    ).unionByName(
        docs.select(
            F.col("docid").alias("src"), ((F.col("docid") * 13 + 5) % n_docs).alias("dst")
        )
    )
    sc = spark.sparkContext
    base_rdds = sc._jsc.getPersistentRDDs().size()
    t0 = time.time()
    hits(edges, num_iter=5).count()
    out["hits_5it_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    n_reach = link_distance(edges, seeds=[0, 1], max_hops=4).count()
    out["bfs_4hop_sec"] = round(time.time() - t0, 2)
    out["bfs_reached"] = n_reach
    out["rdd_leak_delta"] = sc._jsc.getPersistentRDDs().size() - base_rdds

    # ---- dedup family at 1M docs (the nightly 100 TB-pipeline ops) ----
    from mini_search_engine_spark.ops import (
        minhash_candidate_pairs,
        remove_duplicate_spans,
    )
    from mini_search_engine_spark.ops.dedup import duplicate_spans

    t0 = time.time()
    n_pairs = minhash_candidate_pairs(
        docs, num_hashes=16, band_size=2, max_bucket=256
    ).count()
    out["minhash_pairs_sec"] = round(time.time() - t0, 2)
    out["minhash_pairs"] = n_pairs

    t0 = time.time()
    spans = duplicate_spans(docs, window=16)
    n_span_docs = spans.count()
    out["dup_spans_sec"] = round(time.time() - t0, 2)
    out["dup_span_docs"] = n_span_docs

    t0 = time.time()
    # aggregate the REMOVED-token total, not count(): a bare count() lets
    # Catalyst prune the entire mask/rejoin compute (rows pass through
    # 1:1) and measures nothing
    removed = remove_duplicate_spans(docs, window=16).agg(
        F.sum("removed_tokens").alias("r"), F.count("*").alias("n")
    ).collect()[0]
    out["remove_spans_sec"] = round(time.time() - t0, 2)
    out["remove_spans_rows"] = int(removed["n"])
    out["removed_tokens_total"] = int(removed["r"])
    # invariant: identical counts under a different partition layout —
    # the hash-group pipeline must be layout-independent
    relaid = docs.repartition(7, "docid")
    assert duplicate_spans(relaid, window=16).count() == n_span_docs
    out["dup_spans_layout_invariant"] = True

    docs.unpersist()
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
