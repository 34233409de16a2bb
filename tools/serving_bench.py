"""Warm-serving concurrency bench (VERDICT r2 item 6): N concurrent
BM25 / boolean queries against a ``warm()``-pinned index at local[32],
reporting per-query p50/p95 latency and aggregate QPS per concurrency
level. Models a serving cluster: the decoded postings/doclens/termstats
are pinned once, every query is pure-JVM work, and concurrent callers
share the executor slots (FAIR scheduler so no query convoy behind a
long-running one).

The query mix is derived deterministically from the corpus itself
(top-df terms → stopword-grade load; mid-df terms → selective load):
25% BM25 top-10 (3 terms), 25% AND, 25% OR, 25% keyword.

Usage: python tools/serving_bench.py [n_docs] [cpus] [concurrency,...] [mix]
       (defaults 300000, 32, "1,4,16,32", mixed; mix=bm25 = BM25-only
       workload — the traffic shape the micro-batching facade exists for)
Prints one JSON line; numbers go into BENCH/SERVING.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from mini_search_engine_spark.corpus import load_corpus, synthesize_source_corpus  # noqa: E402
from mini_search_engine_spark.index.build import build_index  # noqa: E402
from mini_search_engine_spark.search import (  # noqa: E402
    bm25_topk,
    search_and,
    search_keyword,
    search_or,
)
from mini_search_engine_spark.session import get_spark  # noqa: E402

N_QUERIES = 64  # fixed work batch per concurrency level


def build_query_mix(idx) -> list:
    """Deterministic query workload from the index's own term statistics.
    Each entry is (kind, terms, fn) — terms exposed so the micro-batched
    mode can route BM25 entries through the facade."""
    stats = (
        idx.termstats.orderBy(F.desc("df"), F.asc("term")).limit(200).collect()
    )
    hot = [r["term"] for r in stats[:20]]  # stopword-grade
    mid = [r["term"] for r in stats[100:160]]  # selective
    mix = []
    for i in range(N_QUERIES):
        h, m = hot[i % len(hot)], mid[i % len(mid)]
        m2 = mid[(i * 7 + 3) % len(mid)]
        kind = i % 4
        if kind == 0:
            mix.append(("bm25", [h, m, m2], lambda idx, h=h, m=m, m2=m2: bm25_topk(idx, [h, m, m2], 10)))
        elif kind == 1:
            mix.append(("and", [h, m], lambda idx, h=h, m=m: search_and(idx, [h, m])))
        elif kind == 2:
            mix.append(("or", [m, m2], lambda idx, m=m, m2=m2: search_or(idx, [m, m2])))
        else:
            mix.append(("keyword", [m], lambda idx, m=m: search_keyword(idx, m)))
    return mix


def run_level(idx, mix, concurrency: int) -> dict:
    lat: list[float] = []
    sc = idx.postings.sparkSession.sparkContext

    def one(job):
        _, _, fn = job
        # per-caller scheduler pool: with spark.scheduler.mode=FAIR and no
        # allocation file, every job lands in the single "default" pool,
        # whose INTERNAL scheduling is FIFO — concurrent queries still
        # convoy. Distinct on-demand pools (one per caller thread) make
        # the root scheduler round-robin task slots ACROSS queries, which
        # is what "FAIR serving" actually requires. setLocalProperty is
        # thread-local, so this maps 1:1 to the caller.
        import threading

        sc.setLocalProperty("spark.scheduler.pool", f"caller-{threading.get_ident()}")
        t0 = time.time()
        fn(idx).collect()
        return time.time() - t0

    t0 = time.time()
    with ThreadPoolExecutor(max_workers=concurrency) as pool:
        lat = list(pool.map(one, mix))
    wall = time.time() - t0
    lat.sort()
    return {
        "concurrency": concurrency,
        "queries": len(lat),
        "wall_sec": round(wall, 3),
        "qps": round(len(lat) / wall, 2),
        "p50_sec": round(statistics.median(lat), 4),
        "p95_sec": round(lat[int(len(lat) * 0.95) - 1], 4),
        "max_sec": round(lat[-1], 4),
    }


def run_level_microbatched(idx, mix, concurrency: int) -> dict:
    """Same workload, but BM25 entries route through ONE shared
    Bm25MicroBatcher (the serving-facade deployment shape): concurrent
    BM25 arrivals coalesce into single bm25_topk_batch jobs; boolean
    queries stay direct. Results are asserted identical to the direct
    path once per run (facade contract)."""
    import threading

    from mini_search_engine_spark.search import Bm25MicroBatcher

    sc = idx.postings.sparkSession.sparkContext
    mb = Bm25MicroBatcher(idx, topk=10, window_ms=15.0)

    def one(job):
        kind, terms, fn = job
        sc.setLocalProperty("spark.scheduler.pool", f"caller-{threading.get_ident()}")
        t0 = time.time()
        if kind == "bm25":
            mb.bm25_topk(terms)
        else:
            fn(idx).collect()
        return time.time() - t0

    t0 = time.time()
    with ThreadPoolExecutor(max_workers=concurrency) as pool:
        lat = list(pool.map(one, mix))
    wall = time.time() - t0
    lat.sort()
    return {
        "concurrency": concurrency,
        "queries": len(lat),
        "wall_sec": round(wall, 3),
        "qps": round(len(lat) / wall, 2),
        "p50_sec": round(statistics.median(lat), 4),
        "p95_sec": round(lat[int(len(lat) * 0.95) - 1], 4),
        "max_sec": round(lat[-1], 4),
        "bm25_batches": mb.batches,
        "bm25_served": mb.served,
    }


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    levels = [int(x) for x in (sys.argv[3].split(",") if len(sys.argv) > 3 else (1, 4, 16, 32))]
    mix_kind = sys.argv[4] if len(sys.argv) > 4 else "mixed"
    spark = get_spark(
        app_name="mse-serving",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        # FAIR: concurrent queries share task slots round-robin instead of
        # queueing whole jobs FIFO behind each other
        extra_conf={"spark.scheduler.mode": "FAIR"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_corpus(
        synthesize_source_corpus(spark, n_docs=n_docs, seed=42, num_partitions=cpus)
    ).repartitionByRange(cpus, "docid")
    idx = build_index(docs, analyzer="porter", compress=True).warm()
    mix = build_query_mix(idx)
    if mix_kind == "bm25":  # every entry BM25: the facade's target traffic
        mix = [m for m in mix if m[0] == "bm25"] * 4

    # untimed warmup: JIT + fill the scan caches once
    run_level(idx, mix[:8], min(8, cpus))

    # facade contract check: micro-batched BM25 results == direct results
    from mini_search_engine_spark.search import Bm25MicroBatcher

    mb = Bm25MicroBatcher(idx, topk=10, window_ms=5.0)
    for kind, terms, _ in mix[:8]:
        if kind != "bm25":
            continue
        direct = [(r["docid"], round(r["score"], 9)) for r in bm25_topk(idx, terms, 10).collect()]
        via_mb = [(d, round(s, 9)) for d, s in mb.bm25_topk(terms)]
        assert direct == via_mb, (terms, direct, via_mb)

    out = {
        "n_docs": n_docs,
        "cpus": cpus,
        "mix": mix_kind,
        "levels": [run_level(idx, mix, c) for c in levels],
        "levels_microbatched": [run_level_microbatched(idx, mix, c) for c in levels],
    }
    print(json.dumps(out))
    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    with open(f"{REPO}/BENCH/serving{'' if mix_kind == 'mixed' else '_' + mix_kind}.json", "w") as f:
        json.dump(out, f)
    spark.stop()


if __name__ == "__main__":
    main()
