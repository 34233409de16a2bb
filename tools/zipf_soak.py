"""Heavy-tailed-corpus soak: the operators whose scale arguments are
ABOUT df skew, run on a corpus that actually has it.

`ops_soak.py`'s generator draws words uniformly (~2.3k-word vocab), which
makes three mechanisms degenerate (documented there): the related_docs
df ceiling keeps everything-or-nothing, every percolation routing term is
hot, and every MinHash LSH band bucket is dense. `zipf_synthetic_corpus`
(rank = ⌊V^u⌋ over a 50k vocabulary — Zipf s≈1) restores the real-corpus
df shape; this soak reports:

* related_docs with the df ceiling — per-term pair generation bounded at
  ceiling², the regime the ceiling exists for;
* percolation candidate selectivity — stored queries of (hot, rare) term
  pairs: rarest-term routing must generate candidates ≈ df(rare term),
  orders of magnitude below Σ_t df(t)·qf(t);
* MinHash LSH pairs — sparse buckets (pair count collapses vs the
  uniform corpus's 117M at the same scale).

Usage: python tools/zipf_soak.py [n_docs] [cpus]   (default 250_000, 32)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tools.soak_bench import zipf_synthetic_corpus  # noqa: E402

from mini_search_engine_spark.corpus import load_corpus  # noqa: E402
from mini_search_engine_spark.index.build import build_index  # noqa: E402
from mini_search_engine_spark.ops import minhash_candidate_pairs  # noqa: E402
from mini_search_engine_spark.search import Percolator, percolate  # noqa: E402
from mini_search_engine_spark.search.related import related_docs  # noqa: E402
from mini_search_engine_spark.session import get_spark  # noqa: E402


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 250_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    spark = get_spark(app_name="zipf-soak", master=f"local[{cpus}]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"n_docs": n_docs, "cpus": cpus, "corpus": "zipf50k"}

    root = os.path.join(tempfile.gettempdir(), f"zipf_soak_{n_docs}")
    shutil.rmtree(root, ignore_errors=True)
    zipf_synthetic_corpus(spark, n_docs, 128).write.mode("overwrite").parquet(f"{root}/corpus")
    docs = load_corpus(spark.read.parquet(f"{root}/corpus"))

    # df shape evidence: how skewed did we get?
    idx = build_index(docs.repartitionByRange(cpus, "docid"), analyzer="porter")
    stats = idx.termstats
    row = stats.agg(
        F.count("*").alias("vocab"),
        F.max("df").alias("max_df"),
        F.expr("percentile_approx(df, 0.5)").alias("p50_df"),
        F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("singletons"),
    ).collect()[0]
    out["vocab"] = int(row["vocab"])
    out["max_df"] = int(row["max_df"])
    out["p50_df"] = int(row["p50_df"])
    out["singleton_terms"] = int(row["singletons"])

    # ---- related_docs with the df ceiling (the regime it exists for) ----
    t0 = time.time()
    n_rel = related_docs(idx, max_df=200, min_sim=0.5).count()
    out["related_docs_sec"] = round(time.time() - t0, 2)
    out["related_pairs"] = n_rel

    # ---- percolation selectivity: (hot, rare) stored queries ----
    hot = [r["term"] for r in stats.orderBy(F.desc("df")).limit(64).collect()]
    rare = [
        r["term"]
        for r in stats.filter((F.col("df") >= 3) & (F.col("df") <= 20))
        .orderBy("term")
        .limit(1024)
        .collect()
    ]
    qrows = [(i, f"{hot[i % len(hot)]} {rare[i % len(rare)]}") for i in range(1024)]
    queries = spark.createDataFrame(qrows, "qid long, query string")
    perc = Percolator(queries, analyzer="porter", df_stats=stats.select("term", "df"))
    perc.match(docs.limit(2048)).count()  # warm
    t0 = time.time()
    n_alerts = perc.match(docs).count()
    out["percolate_1024q_sec"] = round(time.time() - t0, 2)
    out["percolate_alerts"] = n_alerts
    # candidate-volume math (exact, driver-side): rarest-term routing costs
    # Σ_q df(rare term); the r4 join shipped Σ_t df(t)·qf(t)
    dfmap = {
        r["term"]: r["df"]
        for r in stats.filter(F.col("term").isin(hot + rare)).collect()
    }
    routed = sum(min(dfmap[h], dfmap[r]) for i in range(1024)
                 for h, r in [(hot[i % len(hot)], rare[i % len(rare)])])
    join_rows = sum(dfmap[h] + dfmap[r] for i in range(1024)
                    for h, r in [(hot[i % len(hot)], rare[i % len(rare)])])
    out["routing_candidates"] = routed
    out["r4_join_rows"] = join_rows
    out["candidate_reduction_x"] = round(join_rows / max(routed, 1), 1)

    # ---- MinHash LSH pair sparsity ----
    t0 = time.time()
    n_pairs = minhash_candidate_pairs(docs, num_hashes=16, band_size=2, max_bucket=256).count()
    out["minhash_pairs_sec"] = round(time.time() - t0, 2)
    out["minhash_pairs"] = n_pairs

    idx.unpersist()
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
