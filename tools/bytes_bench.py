"""Quantify the term-id dictionary encoding (VERDICT r2 item 1): bytes on
disk, bytes in the serving cache, and bytes through a merge-style shuffle,
for tid-keyed postings vs the round-2 term-string layout (emulated by
joining the dictionary back in).

Usage: python tools/bytes_bench.py [n_docs] [cpus]   (default 300000, 16)
Prints one JSON line; numbers go into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from mini_search_engine_spark.corpus import load_corpus, synthesize_source_corpus  # noqa: E402
from mini_search_engine_spark.index.build import build_index  # noqa: E402
from mini_search_engine_spark.session import get_spark  # noqa: E402


def shuffle_write_bytes(spark) -> int:
    """Total shuffle-write bytes across all completed stages (REST API)."""
    base = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{base}/api/v1/applications"))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}/stages")
    )
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def cache_mem_bytes(spark, df) -> int:
    df.persist().count()
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mem = sum(i.memSize() for i in infos)
    df.unpersist()
    return mem


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    spark = get_spark(
        app_name="mse-bytes",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.enabled": "true"},  # REST API for shuffle metrics
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_corpus(
        synthesize_source_corpus(spark, n_docs=n_docs, seed=42, num_partitions=cpus)
    ).repartitionByRange(cpus, "docid")
    docs = docs.persist()
    docs.count()

    idx = build_index(docs, analyzer="porter", compress=True)
    dict_df = F.broadcast(idx.termstats.select("tid", "term"))
    legacy = idx.postings.join(dict_df, "tid").drop("tid")  # r2 layout: term strings

    out: dict = {"n_docs": n_docs, "cpus": cpus}

    # ---- on-disk postings bytes ----
    p_tid, p_term = "/tmp/mse_bytes_tid", "/tmp/mse_bytes_term"
    idx.postings.sortWithinPartitions("tid", "block").write.mode("overwrite").parquet(p_tid)
    legacy.sortWithinPartitions("term", "block").write.mode("overwrite").parquet(p_term)
    out["disk_postings_tid_bytes"] = du(p_tid)
    out["disk_postings_term_bytes"] = du(p_term)

    # ---- serving cache bytes (decoded, as warm() pins them) ----
    dec = idx.decoded().postings
    out["cache_tid_bytes"] = cache_mem_bytes(spark, dec)
    out["cache_term_bytes"] = cache_mem_bytes(
        spark, dec.join(dict_df, "tid").drop("tid")
    )

    # ---- exchange-build shuffle bytes: the REAL (key, block) aggregation
    # over the tokenized stream, keyed by tid (r3) vs term string (r2).
    # Partial aggregation runs map-side either way; what differs on the
    # wire is the group key riding with every partial collect_list row.
    from mini_search_engine_spark.index.build import auto_block_span, tokenize_docs
    from mini_search_engine_spark.index.termid import term_id_col

    span = auto_block_span(n_docs)
    tf = (
        tokenize_docs(docs, analyzer="porter")
        .withColumn("tid", term_id_col(F.col("term")))
        .withColumn("block", (F.col("docid") / span).cast("long"))
        .persist()
    )
    tf.count()

    def agg_by(key):
        plist = F.sort_array(
            F.collect_list(F.struct(F.col("docid"), F.col("tf"), F.col("dl")))
        )
        (
            tf.groupBy(key, "block")
            .agg(plist.alias("plist"), F.count("*").alias("n"))
            .select(F.sum("n"))
            .collect()
        )

    import time

    agg_by("tid")  # warmup both plans once
    agg_by("term")
    before = shuffle_write_bytes(spark)
    t0 = time.time()
    agg_by("tid")
    t_tid = time.time() - t0
    mid = shuffle_write_bytes(spark)
    t0 = time.time()
    agg_by("term")
    t_term = time.time() - t0
    after = shuffle_write_bytes(spark)
    out["shuffle_tid_bytes"] = mid - before
    out["shuffle_term_bytes"] = after - mid
    out["agg_tid_sec"] = round(t_tid, 3)
    out["agg_term_sec"] = round(t_term, 3)
    for k in ("disk_postings", "cache", "shuffle"):
        t, s = out[f"{k}_tid_bytes"], out[f"{k}_term_bytes"]
        out[f"{k}_saving_pct"] = round(100 * (1 - t / s), 1) if s else None

    print(json.dumps(out))
    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    with open(f"{REPO}/BENCH/bytes_ab.json", "w") as f:
        json.dump(out, f)
    spark.stop()


if __name__ == "__main__":
    main()
