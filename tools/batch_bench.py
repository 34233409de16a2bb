"""Batch BM25 latency by batch size: ``bm25_topk_batch`` at 16, 64 and 256
queries per call on a warm and on an unwarmed compressed index, plus 256
concurrent callers through ``Bm25MicroBatcher`` at its default
``max_batch``. Every call carries fresh qids and fresh term draws, as the
micro-batcher's traffic does, so no SQL text repeats.

Usage: python tools/batch_bench.py [corpus] [label] [out.jsonl]
       corpus: ``synth:<n_docs>`` (default ``synth:20000``, the seeded
       source corpus) or a directory holding ``documents`` test data.
Runs at local[4]; prints one JSON line (per-call wall in ms, 5 timed
calls per cell after one warm-up) and appends it to ``out.jsonl`` when
given. For an A/B, run it from each checkout in alternating order.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.getcwd())

from mini_search_engine_spark.corpus import (  # noqa: E402
    load_corpus,
    load_documents,
    synthesize_source_corpus,
)
from mini_search_engine_spark.index.build import build_index  # noqa: E402
from mini_search_engine_spark.search import bm25_topk_batch  # noqa: E402
from mini_search_engine_spark.search.serving import Bm25MicroBatcher  # noqa: E402
from mini_search_engine_spark.session import get_spark  # noqa: E402

SIZES = (16, 64, 256)
REPS = 5


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "synth:20000"
    label = sys.argv[2] if len(sys.argv) > 2 else ""
    out = sys.argv[3] if len(sys.argv) > 3 else None
    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    if corpus.startswith("synth:"):
        src = synthesize_source_corpus(spark, n_docs=int(corpus[6:]), seed=42, num_partitions=4)
        docs = load_corpus(src, num_partitions=4).cache()
    else:
        docs = load_documents(spark, corpus).repartition(4).cache()
    cold = build_index(docs, analyzer="porter", positional=True, compress=True)
    warm = build_index(docs, analyzer="porter", positional=True, compress=True).warm()
    vocab = [r["term"] for r in cold.termstats.orderBy("term").collect()]
    rng = random.Random(7)
    seq = iter(range(1 << 62))

    def batch(n: int) -> dict[str, list[str]]:
        return {f"q{next(seq)}": rng.sample(vocab, rng.randint(1, 3)) for _ in range(n)}

    res: dict = {"label": label, "corpus": corpus, "vocab": len(vocab)}
    for name, idx in (("warm", warm), ("cold", cold)):
        for n in SIZES:
            bm25_topk_batch(idx, batch(n), 10).collect()  # warm-up
            ts = []
            for _ in range(REPS):
                q = batch(n)
                t = time.perf_counter()
                bm25_topk_batch(idx, q, 10).collect()
                ts.append(time.perf_counter() - t)
            res[f"{name}_b{n}"] = [round(x * 1000, 1) for x in ts]
            res[f"{name}_b{n}_med"] = round(statistics.median(ts) * 1000, 1)
    mb = Bm25MicroBatcher(warm)
    with ThreadPoolExecutor(256) as pool:
        list(pool.map(mb.bm25_topk, list(batch(16).values())))  # warm-up
        ts = []
        for _ in range(REPS):
            qs = list(batch(256).values())
            t = time.perf_counter()
            list(pool.map(mb.bm25_topk, qs))
            ts.append(time.perf_counter() - t)
    mb.close()
    res["mb256"] = [round(x * 1000, 1) for x in ts]
    res["mb256_med"] = round(statistics.median(ts) * 1000, 1)
    res["mb_batches"] = mb.batches
    line = json.dumps(res)
    if out:
        with open(out, "a") as f:
            f.write(line + "\n")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
