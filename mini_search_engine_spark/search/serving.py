"""Serving facade: micro-batching for concurrent BM25.

BENCH/SERVING.md's finding: warm-index serving latency is stage-WAVE
bound — every concurrent ``bm25_topk`` call pays its own driver round
trips and scheduling waves even though each scan is tiny, so p50 at 32
callers sat at ~4 s while the aggregate scan work was well under a
second. The fix production search tiers use (and the one
``bm25_topk_batch``'s docstring promises): coalesce concurrent arrivals
into ONE batched scoring job.

``Bm25MicroBatcher`` runs a dedicated COLLECTOR thread: the first
arrival in an empty window wakes it, it sleeps ``window_ms`` (the
batching window), drains everything that queued meanwhile, and runs a
single ``bm25_topk_batch`` job whose results fan back out to the
waiting callers' futures. A lone query therefore pays ``window_ms``
extra (bounded, ~15 ms against a ~0.5 s query) and a convoy of 32 pays
ONE job instead of 32.

Why a dedicated thread and not leader-follower (the first design): a
leader that keeps draining until the queue is empty blocks ITS caller
unboundedly under sustained traffic (its own future resolved in batch
1, but ``submit`` hasn't returned), and releasing leadership between
batches races new arrivals into concurrent leaders. The collector
thread makes both impossible: no caller thread ever runs a job, and
there is exactly one job runner by construction.

Per-query results are IDENTICAL to ``bm25_topk`` — ``bm25_topk_batch``
fills the same BM25 term-score SQL text with the same df source, the
batch's query vectors a literal in that text (no weight table to build or
broadcast: on a warm index a batch is two jobs, the scoring pass and the
per-qid top-k window), and the facade returns each query's rows in rank
order (the single-query window also routes through the batch path,
keeping one code path under test).
"""

from __future__ import annotations

import itertools
import threading
import time
from concurrent.futures import Future

from mini_search_engine_spark.index.build import InvertedIndex
from mini_search_engine_spark.search.ranking import bm25_topk_batch


class Bm25MicroBatcher:
    """Thread-safe micro-batching front for ``bm25_topk`` traffic.

    ``submit(keywords)`` returns a Future resolving to the query's
    ``[(docid, score), ...]`` top-k (rank order); ``bm25_topk(keywords)``
    is the blocking convenience. ``batches`` / ``served`` expose how many
    jobs vs queries ran (the amortization evidence). The collector is a
    daemon thread; ``close()`` stops it after draining what's queued."""

    def __init__(
        self,
        index: InvertedIndex,
        topk: int = 10,
        window_ms: float = 15.0,
        max_batch: int = 256,
    ):
        self.index = index
        self.topk = topk
        self.window_s = window_ms / 1000.0
        self.max_batch = max_batch
        self._cv = threading.Condition()
        self._pending: list[tuple[str, list[str], Future]] = []
        self._closed = False
        self._seq = itertools.count()
        self.batches = 0
        self.served = 0
        self._collector = threading.Thread(
            target=self._collect_loop, name="bm25-microbatcher", daemon=True
        )
        self._collector.start()

    def submit(self, keywords: list[str]) -> Future:
        fut: Future = Future()
        qid = f"q{next(self._seq)}"
        with self._cv:
            if self._closed:
                raise RuntimeError("Bm25MicroBatcher is closed")
            self._pending.append((qid, list(keywords), fut))
            self._cv.notify()
        return fut

    def bm25_topk(self, keywords: list[str]) -> list[tuple[int, float]]:
        return self.submit(keywords).result()

    def close(self) -> None:
        """Stop the collector after it drains the queue; idempotent."""
        with self._cv:
            self._closed = True
            self._cv.notify()
        self._collector.join()

    def _collect_loop(self) -> None:
        while True:
            with self._cv:
                while not self._pending and not self._closed:
                    self._cv.wait()
                if self._closed and not self._pending:
                    return
            # batching window: let the convoy behind the first arrival
            # queue up before draining (skipped on shutdown drain)
            time.sleep(self.window_s)
            with self._cv:
                batch = self._pending[: self.max_batch]
                self._pending = self._pending[len(batch) :]
            if batch:
                self._run(batch)  # never raises (fans errors to futures)

    def _run(self, batch: list[tuple[str, list[str], Future]]) -> None:
        try:
            queries = {qid: kws for qid, kws, _ in batch}
            rows = bm25_topk_batch(self.index, queries, topk=self.topk).collect()
            by_qid: dict[str, list[tuple[int, int, float]]] = {}
            for r in rows:
                by_qid.setdefault(r["qid"], []).append(
                    (r["rank"], r["docid"], r["score"])
                )
            self.batches += 1
            for qid, _, fut in batch:
                got = sorted(by_qid.get(qid, []))
                fut.set_result([(d, s) for _, d, s in got])
                self.served += 1
        except BaseException as e:  # fan the failure out — no caller hangs
            for _, _, fut in batch:
                if not fut.done():
                    fut.set_exception(e)
