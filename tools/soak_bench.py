"""Large-scale soak (VERDICT r2 item 9): one fused positional+compressed
build + query pass at ≥ 10M docs — the scale where BOTH guard-rail
regimes actually engage:

* ``auto_block_span`` hits its DEFAULT_BLOCK_SPAN cap (needs n_docs ≥
  256·65536 ≈ 16.8M), so block count grows with the corpus instead of
  span growth — the block-max-pruning-friendly regime;
* ``flush_rows`` (8M postings per partition buffer) spills: partitions
  carry > 8M accumulated postings, so the fused kernel emits split rows
  mid-partition and every consumer must aggregate across them.

Reports wall time, throughput, block/row stats (split-row evidence) and
an oracle spot-check: BM25 top-10 + AND on the built index vs the same
queries against a driver-side python oracle over a SAMPLED doc subset
(full-corpus python oracle would not fit; the sample check pins the
per-doc scoring path, the distributed parity is pytest's job at small sf).

Usage: python tools/soak_bench.py [n_docs] [cpus]   (default 17_000_000, 32)
Prints one JSON line; numbers go into BENCH/SOAK.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from mini_search_engine_spark.corpus import _ENGLISH, _KEYWORDS, load_corpus  # noqa: E402
from mini_search_engine_spark.index.build import (  # noqa: E402
    DEFAULT_BLOCK_SPAN,
    auto_block_span,
    build_index,
    read_index,
    write_index,
)
from mini_search_engine_spark.search import bm25_topk, search_and  # noqa: E402
from mini_search_engine_spark.session import get_spark  # noqa: E402


def zipf_synthetic_corpus(spark, n_docs: int, num_partitions: int, vocab_size: int = 50_000):
    """``fast_synthetic_corpus``'s heavy-tailed twin: word ranks drawn
    log-uniformly over a ``vocab_size`` vocabulary (rank = ⌊V^u⌋, the
    inverse-CDF of Zipf s≈1), so term dfs span five orders of magnitude —
    the df shape real corpora have. This is the corpus the df-ceiling
    (related_docs), rarest-term routing (percolate) and LSH bucket
    sparsity arguments are ABOUT; the uniform generator's every-term-is-
    hot vocabulary makes those mechanisms degenerate (documented in
    BENCH/OPS_SOAK.md). Deterministic: rank from a (docid, position)
    hash, no RNG state."""
    import numpy as np
    import pyarrow as pa

    head = _KEYWORDS + _ENGLISH  # the hot head keeps query tooling reusable
    langs = np.array(["java", "py", "scala", "md"], dtype=object)
    V = vocab_size

    def gen(batches):
        for rb in batches:
            ids = rb.column("id").to_numpy()
            n = len(ids)
            if n == 0:
                continue
            lens = 30 + (ids % 61)
            maxlen = int(lens.max())
            j = np.arange(maxlen, dtype=np.int64)
            h = (
                ids[:, None] * np.int64(2654435761)
                + (j * j * 7 + (j << 7))[None, :] * np.int64(40503)
            ) & np.int64((1 << 62) - 1)
            u = (h % np.int64(1 << 30)).astype(np.float64) / float(1 << 30)
            rank = np.power(float(V), u).astype(np.int64)  # 1..V, log-uniform
            nh = len(head)
            head_u = np.asarray(head, dtype="U24")
            # ranks ≤ len(head) use the readable hot head; the tail is
            # synthetic rare tokens ("z<rank>") — all vectorized
            words = np.where(
                rank <= nh,
                head_u[np.clip(rank - 1, 0, nh - 1)],
                np.char.add("z", rank.astype("U8")),
            )
            content = [" ".join(words[i, : lens[i]]) for i in range(n)]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([f"org/proj{int(i) % 8}" for i in ids]),
                    pa.array([f"src/f{int(i):09d}.java" for i in ids]),
                    pa.array(["c0"] * n),
                    pa.array(langs[ids % 4]),
                    pa.array(content),
                ],
                names=["repo", "path", "commit", "lang", "content"],
            )

    base = spark.range(0, n_docs, 1, num_partitions)
    return base.mapInArrow(
        gen,
        schema="repo string, path string, commit string, lang string, content string",
    )


def fast_synthetic_corpus(spark, n_docs: int, num_partitions: int):
    """input_hint-shaped corpus generated ~50× faster than
    ``synthesize_source_corpus`` (whose per-doc ``random.Random`` is the
    bottleneck at 10M+ docs). Word choice is a deterministic hash of
    (docid, position) — no RNG state at all — over a vocabulary of the
    package's hot keywords + English words + a 2,000-symbol long tail, so
    the corpus still has stopword-grade skew terms, a realistic df curve,
    and variable doc lengths (30..90 words by docid)."""
    import numpy as np
    import pyarrow as pa

    vocab = np.array(
        _KEYWORDS + _ENGLISH + [f"sym{i}" for i in range(2000)], dtype=object
    )
    V = len(vocab)
    langs = np.array(["java", "py", "scala", "md"], dtype=object)

    def gen(batches):
        for rb in batches:
            ids = rb.column("id").to_numpy()
            n = len(ids)
            if n == 0:
                continue
            lens = 30 + (ids % 61)
            maxlen = int(lens.max())
            j = np.arange(maxlen, dtype=np.int64)
            # (n, maxlen) deterministic word indices; row i truncated to lens[i]
            idx = (
                ids[:, None] * 2654435761 + (j * j * 7 + (j << 7))[None, :]
            ) % V
            words = vocab[idx]
            content = [
                " ".join(words[i, : lens[i]]) for i in range(n)
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([f"org/proj{int(i) % 8}" for i in ids]),
                    pa.array([f"src/f{int(i):09d}.java" for i in ids]),
                    pa.array(["c0"] * n),
                    pa.array(langs[ids % 4]),
                    pa.array(content),
                ],
                names=["repo", "path", "commit", "lang", "content"],
            )

    base = spark.range(0, n_docs, 1, num_partitions)
    return base.mapInArrow(
        gen,
        schema="repo string, path string, commit string, lang string, content string",
    )


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 17_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    out: dict = {"n_docs": n_docs, "cpus": cpus}

    spark = get_spark(
        app_name="mse-soak", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    corpus_path = f"/tmp/mse_soak_corpus_{n_docs}"
    if not os.path.exists(f"{corpus_path}/_SUCCESS"):
        t0 = time.time()
        fast_synthetic_corpus(spark, n_docs, 4 * cpus).write.mode(
            "overwrite"
        ).parquet(corpus_path)
        out["corpus_gen_sec"] = round(time.time() - t0, 1)

    docs = load_corpus(spark.read.parquet(corpus_path), num_partitions=4 * cpus)
    span = auto_block_span(n_docs)
    out["block_span"] = span
    out["span_capped"] = span == DEFAULT_BLOCK_SPAN
    full_scale = n_docs >= 256 * DEFAULT_BLOCK_SPAN
    if full_scale:
        assert out["span_capped"], "soak must run in the span-cap regime"

    idx_path = f"/tmp/mse_soak_index_{n_docs}"
    t0 = time.time()
    idx = build_index(docs, analyzer="porter", positional=True, compress=True)
    write_index(idx, idx_path)
    out["build_sec"] = round(time.time() - t0, 1)
    out["files_per_sec"] = round(n_docs / out["build_sec"], 1)
    idx.unpersist()

    idx = read_index(spark, idx_path)
    out["n_docs_indexed"] = idx.n_docs
    out["avgdl"] = round(idx.avgdl, 3)

    # split-row evidence: (tid, block) keys that appear on >1 postings row
    # exist ⟺ partition-boundary blocks and/or flush_rows spills engaged
    split = (
        idx.postings.groupBy("tid", "block")
        .agg(F.count("*").alias("nrows"))
        .agg(
            F.count("*").alias("keys"),
            F.sum(F.when(F.col("nrows") > 1, 1).otherwise(0)).alias("split_keys"),
            F.max("nrows").alias("max_rows_per_key"),
        )
        .collect()[0]
    )
    out["posting_keys"] = split["keys"]
    out["split_keys"] = split["split_keys"]
    out["max_rows_per_key"] = split["max_rows_per_key"]
    if full_scale:
        assert split["split_keys"] > 0, "flush/boundary splits never engaged"
    out["postings_rows"] = idx.postings.count()

    # ---- query spot-checks against a sampled python oracle ----
    t0 = time.time()
    top = bm25_topk(idx, ["import", "merge", "tokenizer"], 10).collect()
    out["bm25_top10_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    n_and = search_and(idx, ["import", "merge"]).count()
    out["and_sec"] = round(time.time() - t0, 2)
    out["and_hits"] = n_and

    # sample ~2000 docs; recompute their BM25 scores driver-side with the
    # INDEX's global stats (df/avgdl/N) and the engine's exact formula
    # (idf = ln(1+(N-df+.5)/(df+.5)), k1=1.2, b=0.75), then assert every
    # sampled doc that appears in the spark top-10 carries the identical
    # score, and no sampled doc scores above the spark #10 without
    # appearing (within float tolerance).
    import math

    from mini_search_engine_spark.analysis.udfs import analyze_query
    from mini_search_engine_spark.index.termid import term_ids

    qterms = sorted(set(analyze_query("import merge tokenizer", idx.analyzer)))
    tids = term_ids(qterms)
    stats = {
        r["term"]: r["df"]
        for r in idx.termstats.filter(F.col("tid").isin(tids)).collect()
    }
    sample = docs.filter(F.col("docid") % 5000 == 0).select("docid", "content").collect()

    k1, b = 1.2, 0.75
    N, avgdl = idx.n_docs, idx.avgdl
    spark_scores = {r["docid"]: r["score"] for r in top}
    floor = min(spark_scores.values())
    checked = mismatches = above = 0
    for r in sample:
        toks = analyze_query(r["content"] or "", idx.analyzer)
        dl = len(toks)
        score = 0.0
        for qt in qterms:
            tf = toks.count(qt)
            if tf and qt in stats:
                df_t = stats[qt]
                idf = math.log(1.0 + (N - df_t + 0.5) / (df_t + 0.5))
                score += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
        if r["docid"] in spark_scores:
            checked += 1
            if abs(score - spark_scores[r["docid"]]) > 1e-6:
                mismatches += 1
        elif score > floor + 1e-6:
            above += 1
    out["oracle_sampled_docs"] = len(sample)
    out["oracle_in_topk_checked"] = checked
    out["oracle_mismatches"] = mismatches
    out["oracle_missed_above_floor"] = above
    assert mismatches == 0 and above == 0

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
