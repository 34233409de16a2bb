"""Block-max pruning A/B: exact vs pruned BM25 top-10.

Where pruning can win — and where it cannot: the pruned plan spends two
extra scheduling round-trips before its final job (one collect of every
block's upper bound, then phase 1's θ seed), each ~0.5 s of fixed
latency at local[8]. A single-stage exact scan over CACHED postings at
local[32] finishes in under a second even at 1.2M docs, so there is
nothing for pruning to amortize — the cost-based fallback
(`PRUNE_MIN_BLOCKS` in `search/ranking.py`) exists precisely for that
regime. Pruning pays off in the serving regime it was invented for:
stopword-grade query terms (every doc in every posting list), the index
read from storage rather than a pre-warmed cache, and bounded per-query
parallelism. This bench measures BOTH regimes honestly:

* serving: local[8], compressed index read from disk each query, 5-term
  query whose terms appear in every document, per-block tf skew
  (16× in 1 of every 64 docid ranges) — the θ from phase 1 prunes every
  cold block, and exact pays decode+explode of every posting.
* overhead control: the same corpus with uniform tf — nothing can be
  skipped; shows the fallback's raison d'être.

Prints one JSON line and writes BENCH/PRUNE.md.

Usage: python tools/prune_bench.py [n_docs] [cpus]   (default 2_400_000, 8)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from mini_search_engine_spark.corpus import load_corpus  # noqa: E402
from mini_search_engine_spark.index.build import build_index, read_index, write_index  # noqa: E402
from mini_search_engine_spark.search import bm25_topk  # noqa: E402
from mini_search_engine_spark.session import get_spark  # noqa: E402

BLOCK_SPAN = 2048
HOT_EVERY = 64  # 1 in 64 blocks is hot
TERMS = ["needle", "alpha", "kappa", "sigma", "theta"]


def skewed_corpus(spark, n_docs: int, uniform: bool = False):
    """(doc_id, text) corpus: the query terms appear in EVERY doc (stopword-
    grade df), with per-block tf skew on the skewed variant."""
    hot = (F.col("id") / BLOCK_SPAN).cast("long") % HOT_EVERY == 0
    needles = (
        F.lit("needle ")
        if uniform
        else F.when(hot, F.lit(("needle " * 16))).otherwise(F.lit("needle "))
    )
    df = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta eta theta iota "),
            needles,
            F.lit("kappa lam mu nu xi omicron pi rho sigma tau"),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("synth").alias("source"),
        F.lit(0).cast("long").alias("n_chars"),
    )
    return load_corpus(df, num_partitions=64)


def time_query(idx, prune: bool, reps: int) -> list[float]:
    out = []
    for _ in range(reps):
        t0 = time.time()
        rows = bm25_topk(idx, TERMS, 10, prune=prune).collect()
        out.append(time.time() - t0)
        assert len(rows) == 10
    return out


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_400_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    os.makedirs("/dev/shm/spark-local", exist_ok=True)
    spark = get_spark(
        app_name="mse-prune-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.local.dir": "/dev/shm/spark-local"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    results = {}
    for label, uniform in (("skewed", False), ("uniform_control", True)):
        docs = skewed_corpus(spark, n_docs, uniform=uniform)
        idx_path = f"/dev/shm/mse_prune_idx_{label}"
        if not os.path.exists(f"{idx_path}/postings/_SUCCESS"):
            built = build_index(docs, analyzer="porter", block_span=BLOCK_SPAN, compress=True)
            write_index(built, idx_path)
            built.unpersist()
        # serving shape: the index is READ from storage; postings are NOT
        # pre-cached in the block manager (the OS page cache is the only
        # warmth, as on a real cluster reading hot parquet)
        idx = read_index(spark, idx_path)
        # sanity: identical answers
        exact_rows = [
            (r["docid"], round(r["score"], 9))
            for r in bm25_topk(idx, TERMS, 10).collect()
        ]
        pruned_rows = [
            (r["docid"], round(r["score"], 9))
            for r in bm25_topk(idx, TERMS, 10, prune=True).collect()
        ]
        assert exact_rows == pruned_rows, (exact_rows, pruned_rows)
        # interleave exact/pruned reps (this box's noise comes in windows)
        ex, pr = [], []
        for _ in range(reps):
            ex.extend(time_query(idx, prune=False, reps=1))
            pr.extend(time_query(idx, prune=True, reps=1))
        results[label] = {
            "exact_sec": {"min": round(min(ex), 3), "median": round(statistics.median(ex), 3)},
            "pruned_sec": {"min": round(min(pr), 3), "median": round(statistics.median(pr), 3)},
            "speedup_min": round(min(ex) / min(pr), 2),
            "n_blocks": (n_docs + BLOCK_SPAN - 1) // BLOCK_SPAN,
        }

    summary = {
        "metric": "bm25_prune_ab",
        "n_docs": n_docs,
        "cpus": cpus,
        "query_terms": TERMS,
        "results": results,
    }
    print(json.dumps(summary))

    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    s, u = results["skewed"], results["uniform_control"]
    with open(f"{REPO}/BENCH/PRUNE.md", "w") as f:
        f.write(f"""# Block-max pruning A/B (exact vs pruned BM25 top-10)

Serving configuration: {n_docs:,} docs, block span {BLOCK_SPAN} →
{s['n_blocks']} docid-range blocks; 5-term query {TERMS} where every term
occurs in EVERY document (stopword-grade posting lists — the workload
block-max WAND exists for); compressed index read from storage per
session (no block-manager cache); local[{cpus}]; min/median of {reps}
interleaved reps per side; identical top-10 (docid, score) asserted.

| corpus | exact (min / median s) | pruned (min / median s) | speedup (min) |
|---|---|---|---|
| skewed (1/{HOT_EVERY} blocks hot, tf 16 vs 1) | {s['exact_sec']['min']} / {s['exact_sec']['median']} | {s['pruned_sec']['min']} / {s['pruned_sec']['median']} | **{s['speedup_min']}×** |
| uniform control (all blocks identical) | {u['exact_sec']['min']} / {u['exact_sec']['median']} | {u['pruned_sec']['min']} / {u['pruned_sec']['median']} | {u['speedup_min']}× |

Reading: pruning's win scales with (a) score skew across docid ranges —
phase 1 exactly scores the hot blocks, θ lands above every cold block's
upper bound, and phase 2 decodes almost nothing — and (b) how expensive
the exact scan is (posting-list length × decode work ÷ cores). Its cost
is two extra scheduling round-trips (the block bounds, collected once,
and phase 1's θ seed; ~0.5 s fixed each at local[8]), so
on small/cached indexes or uniform corpora the exact single-stage scan
wins; that regime is exactly what `bm25_topk`'s cost-based fallback
(`PRUNE_MIN_BLOCKS` in `search/ranking.py`) and the uniform control row
document. At cluster scale the fixed job latency is the same while the
exact scan grows with data per core, moving the crossover further in
pruning's favor.
""")
    spark.stop()


if __name__ == "__main__":
    main()
