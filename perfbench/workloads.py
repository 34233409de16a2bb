"""The workloads: serve and ingest.

Each drives the engine only through its public functions, times what a
user would wait for, and checks every result against ``oracle.Oracle``.
Sizes are fixed here, not taken from the command line, so one seed always
means one input.
"""

from __future__ import annotations

import os
import threading
import time
import traceback
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from oracle import Oracle, check, terms_of

from mini_search_engine_spark import corpus as corpus_mod
from mini_search_engine_spark import search as search_mod
from mini_search_engine_spark import streaming as streaming_mod
from mini_search_engine_spark.index import build as build_mod
from mini_search_engine_spark.streaming import ingest as ingest_mod
from pyspark.sql import functions as F

SERVE_DOCS = 1500
INGEST_DOCS = 300  # per batch, the base batch included
INGEST_BLOCK_SPAN = 4096
# Compaction merges all segments once this many are live.  The reference
# engine uses 8; at 5 a whole compaction cycle (four commits, two deletes,
# a merge) fits in one run and takes longer than --seconds, so every run
# times exactly one cycle.
MERGE_THRESHOLD = 5
# set-ups per run; the first pays the JVM's JIT warm-up, so serve's build
# throughput and commit latency are taken from the later ones
SERVE_SETUPS = 3
INGEST_SETUPS = 3
TOPK = 10
# queries at the head of serve's stream that run untimed, while the JIT
# still compiles the query path
SERVE_WARMUP = 10
SERVE_POOL = 80
READER_POOL = 30
now = time.perf_counter

# the engine's public entry points, bound once so that traced runs, which
# wrap module globals for calls the engine makes internally, still time
# the benchmark's own calls exactly once
load_corpus = corpus_mod.load_corpus
build_index = build_mod.build_index
write_index = build_mod.write_index
read_index = build_mod.read_index
write_segment = streaming_mod.write_segment
maybe_compact = streaming_mod.maybe_compact
read_segmented_index = streaming_mod.read_segmented_index
delete_docs = streaming_mod.delete_docs
current_snapshot = streaming_mod.current_snapshot

QUERY_CALLS = {
    "bm25": ("search.ranking", lambda idx, a: search_mod.bm25_topk(idx, list(a), TOPK)),
    "tfidf": ("search.ranking", lambda idx, a: search_mod.search_tfidf(idx, list(a), TOPK)),
    "keyword": ("search.boolean", lambda idx, a: search_mod.search_keyword(idx, a)),
    "and": ("search.boolean", lambda idx, a: search_mod.search_and(idx, list(a))),
    "or": ("search.boolean", lambda idx, a: search_mod.search_or(idx, list(a))),
    "phrase": ("search.boolean", lambda idx, a: search_mod.search_phrase(idx, a)),
}


def instrument(tracer) -> None:
    """Give calls the engine makes internally their own spans (traced runs
    only): analysis inside the build and query paths, the codec, and the
    merge / snapshot steps inside compaction and commits."""
    from mini_search_engine_spark.index import compress
    from mini_search_engine_spark.search import boolean, ranking

    tracer.patch(build_mod, "tokenize_docs", "analysis")
    tracer.patch(build_mod, "doc_lengths", "analysis")
    tracer.patch(ranking, "analyze_query", "analysis")
    tracer.patch(boolean, "analyze_query", "analysis")
    tracer.patch(compress, "encode_blocks_arrow", "index.compress")
    tracer.patch(build_mod.InvertedIndex, "decoded", "index.compress")
    tracer.patch(ingest_mod, "merge_segments", "index.merge")
    tracer.patch(ingest_mod, "commit_snapshot", "streaming.snapshots")
    tracer.patch(ingest_mod, "snapshot_gc", "streaming.snapshots")


class Run:
    """State of one benchmark run: samples, op counts, failures."""

    def __init__(self, spark, tracer, rss, work: str, seed: int, seconds: float, nproc: int):
        self.spark = spark
        self.tracer = tracer
        self.rss = rss  # stopped by the workload at the end of its timed phase
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.nproc = nproc
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.values: dict[str, float] = {}
        self.info: dict[str, object] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lock = threading.Lock()

    def op(self, ok: bool, what: str = "") -> None:
        with self.lock:
            self.attempted += 1
        if not ok:
            self.wrong(what)

    def wrong(self, what: str) -> None:
        """Count a failure; for a result found wrong after its op was
        counted, this is the whole record."""
        with self.lock:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _corpus_stats(run: Run, oracle: Oracle, live) -> None:
    df = {t: len(ds & live) for t, ds in oracle.postings.items()}
    df = {t: n for t, n in df.items() if n}
    run.info.update(
        docs=len(live),
        distinct_terms=len(df),
        head_term_df=max(df.values()) if df else 0,
        head_term=max(df, key=df.get) if df else None,
    )


def run_query(run: Run, idx, q: tuple, trace_id=None):
    """Execute one query to the result in hand; returns (result, seconds)."""
    layer, call = QUERY_CALLS[q[0]]
    with run.tracer.span(layer, q[0], trace_id) as sp:
        if run.tracer.enabled and q[0] == "bm25" and idx.df_cache is not None:
            terms = {t for k in q[1] for t in terms_of(k)}
            sp["terms"] = len(terms)
            sp["cold_terms"] = sum(1 for t in terms if t not in idx.df_cache)
        t0 = now()
        df = call(idx, q[1])
        t1 = now()
        rows = df.collect()
        t2 = now()
        if run.tracer.enabled:
            sp["construct_ms"] = (t1 - t0) * 1e3
            sp["exec_ms"] = (t2 - t1) * 1e3
            sp["catalyst_ms"] = run.tracer.catalyst_ms(df)
    if q[0] in ("bm25", "tfidf"):
        return [(int(r["docid"]), float(r["score"])) for r in rows], t2 - t0
    return [int(r["docid"]) for r in rows], t2 - t0


def record_query(run: Run, q: tuple, seconds: float) -> None:
    ms = seconds * 1e3
    run.samples["query_ms"].append(ms)
    kind = q[0] if q[0] in ("bm25", "tfidf") else "boolean"
    run.samples[f"{kind}_ms"].append(ms)


def check_queries(run: Run, oracle: Oracle, results: list, live_of) -> None:
    """Check the first execution of every distinct query once."""
    seen = set()
    for q, res, key in results:
        if q in seen:
            continue
        seen.add(q)
        expected = oracle.answer(q, live_of(key))
        why = check(q, res, expected, TOPK)
        if why is not None:
            run.wrong(f"{q}: {why}")
    run.info["distinct_queries_checked"] = len(seen)


def _docid_map(run: Run, raw_path: str, paths: list[str]) -> list[int]:
    """Engine-assigned docid of every generated row (by its unique path).
    Checks that the assignment is a bijection onto 0..N-1."""
    docs = load_corpus(run.spark.read.parquet(raw_path), num_partitions=run.nproc)
    by_path = {r["path"]: int(r["docid"]) for r in docs.select("path", "docid").collect()}
    corpus_mod.release_corpus_cache(docs)
    ids = [by_path.get(p, -1) for p in paths]
    run.op(sorted(ids) == list(range(len(paths))), "docids are not a bijection onto 0..N-1")
    return ids


def _write_corpus(run: Run, n_docs: int, name: str, seed: int) -> tuple[str, dict]:
    cols = gen.source_corpus(seed, n_docs)
    path = os.path.join(run.work, name)
    pq.write_table(pa.table(cols), path)
    return path, cols


def _build_and_write(run: Run, raw_path: str, out: str, trace_id=None):
    """load_corpus → build_index → write_index; returns the index handle."""
    raw = run.spark.read.parquet(raw_path)
    with run.tracer.span("corpus", "load_corpus", trace_id):
        docs = load_corpus(raw, num_partitions=run.nproc)
    with run.tracer.span("index.build", "build_index", trace_id):
        idx = build_index(docs, analyzer="porter", positional=True, compress=True)
    with run.tracer.span("index.write", "write_index", trace_id) as sp:
        write_index(idx, out)
    if run.tracer.enabled:
        files = _dir_files(out)
        sp["bytes"], sp["files"] = sum(files.values()), len(files)
    _count_postings(run, idx)
    return idx


def _count_postings(run: Run, idx) -> None:
    """Postings rows of a fresh build (traced runs only: one extra job on
    the build's cached postings, outside every span)."""
    if run.tracer.enabled:
        with run.tracer.py4j.paused():
            run.samples["postings_rows"].append(idx.postings.count())


def _bytes_per_posting(dirs: list[str]) -> float:
    """On-disk postings bytes per posting, from the written parquet files."""
    size = sum(sum(_dir_files(d).values()) for d in dirs)
    postings = sum(
        pq.read_table(d, columns=["n"]).column("n").to_numpy().sum() for d in dirs
    )
    return size / postings if postings else 0.0


def _content_bytes(texts) -> int:
    return sum(len(t.encode("utf-8")) for t in texts)


def _record_build(run: Run, n_docs: int, content: int, out: str, seconds: float) -> None:
    size = sum(_dir_files(out).values())
    run.samples["docs_per_s"].append(n_docs / seconds)
    run.samples["commit_ms"].append(seconds * 1e3)
    run.samples["bytes_written_per_doc_byte"].append(size / content)
    run.samples["bytes_stored_per_doc_byte"].append(size / content)


# --------------------------------------------------------------------------
# serve: warm index, one closed-loop client over a seeded query stream
# --------------------------------------------------------------------------


def serve(run: Run) -> None:
    warm = None
    setups = []
    out = os.path.join(run.work, "index")
    for rep in range(SERVE_SETUPS):
        if warm is not None:
            warm.unpersist()
        t0 = now()
        raw_path, cols = _write_corpus(run, SERVE_DOCS, f"corpus-{rep}.parquet", run.seed)
        t1 = now()
        idx = _build_and_write(run, raw_path, out, trace_id=f"setup-{rep}")
        t2 = now()
        idx.unpersist()
        with run.tracer.span("index.warm", "read_index", f"setup-{rep}"):
            ri = read_index(run.spark, out)
        with run.tracer.span("index.warm", "warm", f"setup-{rep}") as sp:
            warm = ri.warm()
        if run.tracer.enabled:
            sp["cached_bytes"] = _cached_bytes(run.spark)
        setups.append(now() - t0)
        content = _content_bytes(cols["content"])
        if rep:
            _record_build(run, SERVE_DOCS, content, out, t2 - t1)
    run.samples["setup_s"] = setups
    run.info["content_bytes"] = content
    run.op(True)

    rng_pool = gen.query_pool(run.seed, SERVE_POOL)
    stream = gen.query_stream(run.seed, rng_pool, 10_000)
    # untimed warm-up: the head of the stream, checked like the rest
    results = []
    enabled, run.tracer.enabled = run.tracer.enabled, False
    try:
        for i in range(SERVE_WARMUP):
            res, _dt = run_query(run, warm, stream[i])
            run.op(True)
            results.append((stream[i], res, None))
    finally:
        run.tracer.enabled = enabled

    t_all = now()
    deadline = t_all + run.seconds
    n_warm = i = SERVE_WARMUP
    while now() < deadline:
        q = stream[i]
        try:
            res, dt = run_query(run, warm, q, trace_id=f"q-{i}")
            run.op(True)
            record_query(run, q, dt)
            results.append((q, res, None))
        except Exception:  # noqa: BLE001
            run.op(False, f"{q}: " + traceback.format_exc(limit=2).replace("\n", " | "))
        i += 1
    run.values["qps"] = (len(results) - n_warm) / (now() - t_all)
    run.values["peak_rss_mb"] = run.rss.stop() / 2**20
    if run.tracer.enabled:
        run.values["bytes_per_posting"] = _bytes_per_posting([os.path.join(out, "postings")])

    oracle = Oracle()
    ids = _docid_map(run, raw_path, cols["path"])
    oracle.add(ids, cols["content"])
    live = set(ids)
    _corpus_stats(run, oracle, live)
    check_index(run, oracle, read_index(run.spark, out))
    check_queries(run, oracle, results, lambda _k: live)


def check_index(run: Run, oracle: Oracle, ri) -> None:
    """The written index read back: n_docs, the sum of df over the term
    dictionary, and one seeded posting list with its term frequencies."""
    n = len(oracle.tokens)
    run.op(ri.n_docs == n, f"n_docs {ri.n_docs} != {n}")
    sum_df = ri.termstats.agg(F.sum("df")).collect()[0][0]
    want_df = sum(len(d) for d in oracle.postings.values())
    run.op(sum_df == want_df, f"sum(df) {sum_df} != {want_df}")
    rng = np.random.default_rng([run.seed, 5])
    mid = sorted(t for t, d in oracle.postings.items() if 5 <= len(d) <= 500)
    term = mid[int(rng.integers(len(mid)))]
    tid = ri.termstats.filter(F.col("term") == term).select("tid").collect()
    got = {}
    if tid:
        rows = (
            ri.decoded().postings.filter(F.col("tid") == tid[0][0])
            .select(F.explode(F.arrays_zip("docids", "tfs")).alias("z")).collect()
        )
        got = {int(r["z"]["docids"]): int(r["z"]["tfs"]) for r in rows}
    want = {d: oracle.tf[d][term] for d in oracle.postings[term]}
    run.op(got == want, f"posting list of {term!r}: {len(got)} postings, expected {len(want)}")


def _cached_bytes(spark) -> int:
    return sum(
        r.memSize() + r.diskSize() for r in spark._jsc.sc().getRDDStorageInfo()
    )


# --------------------------------------------------------------------------
# ingest: one writer thread committing segments beside one reader thread
# --------------------------------------------------------------------------


class IngestState:
    """What the writer has committed, by snapshot id, for the reader's
    visibility checks and the oracle."""

    def __init__(self) -> None:
        self.cond = threading.Condition()
        self.expected: dict[int, frozenset] = {}
        self.last_sid = -1
        self.live: set[int] = set()
        self.texts: dict[int, str] = {}
        self.next_id = 0
        self.content_bytes = 0

    def publish(self, sid: int) -> None:
        with self.cond:
            self.expected[sid] = frozenset(self.live)
            self.last_sid = max(self.last_sid, sid)
            self.cond.notify_all()

    def wait_for(self, sid: int, timeout: float = 60.0):
        with self.cond:
            self.cond.wait_for(lambda: sid in self.expected, timeout)
            return self.expected.get(sid)


def _commit_batch(run: Run, st: IngestState, root: str, batch_no: int, n_docs: int) -> float:
    """Hand one generated batch to the writer; returns seconds until its
    snapshot is committed."""
    cols = gen.doc_batch(run.seed, batch_no, st.next_id, n_docs)
    t0 = now()
    tid = f"batch-{batch_no}"
    with run.tracer.span("corpus", "load_corpus", tid):
        docs = load_corpus(run.spark.createDataFrame(pd.DataFrame(cols)))
    with run.tracer.span("index.build", "build_index", tid):
        idx = build_index(docs, block_span=INGEST_BLOCK_SPAN)
    with run.tracer.span("streaming.ingest", "write_segment", tid):
        ok = write_segment(idx, root, f"b{batch_no}")
    dt = now() - t0
    _count_postings(run, idx)
    idx.unpersist()
    if not ok:
        raise RuntimeError(f"segment b{batch_no} was not committed")
    st.next_id += n_docs
    st.live.update(cols["doc_id"])
    st.texts.update(zip(cols["doc_id"], cols["text"]))
    st.content_bytes += _content_bytes(cols["text"])
    st.publish(current_snapshot(run.spark, root).snapshot_id)
    return dt


def _writer(run: Run, st: IngestState, root: str, deadline: float, files: dict) -> None:
    """Commit batches, delete 1% of the live docs after every second commit,
    and offer a compaction after every commit.  Stops at the first
    compaction after the run length has passed, so every run writes whole
    compaction cycles."""
    rng = np.random.default_rng([run.seed, 6])
    b = 1
    t_start = now()
    docs0 = len(st.live)
    busy = 0.0
    while True:
        t0 = now()
        sp: dict = {}
        compacted = False
        try:
            dt = _commit_batch(run, st, root, b, INGEST_DOCS)
            run.samples["commit_ms"].append(dt * 1e3)
            run.op(True)
            if b % 2 == 0:
                pick = sorted(st.live)
                dels = [pick[int(i)] for i in rng.choice(len(pick), size=len(pick) // 100, replace=False)]
                with run.tracer.span("streaming.ingest", "delete_docs", f"batch-{b}"):
                    snap = delete_docs(run.spark, root, dels)
                st.live.difference_update(dels)
                st.publish(snap.snapshot_id)
                run.op(True)
            with run.tracer.span("index.merge", "maybe_compact", f"batch-{b}") as sp:
                compacted = maybe_compact(
                    run.spark, root, threshold=MERGE_THRESHOLD, block_span=INGEST_BLOCK_SPAN
                )
                sp["compacted"] = compacted
            if compacted:
                st.publish(current_snapshot(run.spark, root).snapshot_id)
            run.op(True)
        except Exception:  # noqa: BLE001
            run.op(False, f"writer batch {b}: " + traceback.format_exc(limit=3).replace("\n", " | "))
            compacted = True  # end the run at the deadline
        busy += now() - t0
        _track_files(root, files, sp)
        b += 1
        if compacted and now() >= deadline:
            break
    run.values["docs_per_s"] = (len(st.texts) - docs0) / busy if busy else 0.0
    run.info["batches"] = b - 1
    run.info["writer_s"] = round(now() - t_start, 3)


def _track_files(root: str, files: dict, merge_span) -> None:
    """Add every file that appeared under ``root`` since the last call to
    ``files`` (path → size): the bytes the writer has written so far."""
    new = 0
    for p, size in _dir_files(root).items():
        if p not in files:
            files[p] = size
            new += size
    if merge_span and merge_span.get("compacted"):
        merge_span["bytes_rewritten"] = new


def _pool(run: Run, name: str) -> None:
    """Run this thread's Spark jobs in their own fair-scheduler pool."""
    run.spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)


def _warm_up(run: Run, st: IngestState, root: str) -> None:
    """Untimed: one writer cycle on a set-up's root (a second commit, a
    delete, a query over the two segments and their tombstones, a
    compaction), so the timed phase does not pay the JIT warm-up of the
    delete, merge-on-read and merge paths."""
    enabled, run.tracer.enabled = run.tracer.enabled, False
    try:
        _commit_batch(run, st, root, 1, INGEST_DOCS)
        delete_docs(run.spark, root, sorted(st.live)[::100])
        idx = read_segmented_index(run.spark, root, block_span=INGEST_BLOCK_SPAN)
        run_query(run, idx, ("bm25", ("import", "spark")))
        maybe_compact(run.spark, root, threshold=2, block_span=INGEST_BLOCK_SPAN)
    finally:
        run.tracer.enabled = enabled


def _reader(run: Run, st: IngestState, root: str, done: threading.Event, stream, results, ends) -> None:
    """Closed loop: reopen at the current snapshot whenever a new one has
    been committed, then run one query cycle against the open reader.
    Appends each query's completion time to ``ends``; stops before the
    next query once ``done`` is set."""
    _pool(run, "reader")
    i = 0
    opens = 0
    sid = idx = expected = None
    while not done.is_set():
        floor = st.last_sid
        try:
            snap = current_snapshot(run.spark, root)
            if snap.snapshot_id != sid:
                with run.tracer.span("streaming.ingest", "open_reader", f"open-{opens}") as sp:
                    idx = read_segmented_index(
                        run.spark, root, block_span=INGEST_BLOCK_SPAN, snapshot_id=snap.snapshot_id
                    )
                sp["live_segments"] = len(snap.segments)
                sid = snap.snapshot_id
                opens += 1
                expected = st.wait_for(sid)
                ok = expected is not None and sid >= floor and idx.n_docs == len(expected)
                run.op(ok, f"snapshot {sid}: opened with floor {floor}, n_docs {idx.n_docs}, "
                           f"expected {None if expected is None else len(expected)}")
                if not ok:
                    sid = None
                    continue
        except Exception:  # noqa: BLE001
            run.op(False, "open reader: " + traceback.format_exc(limit=3).replace("\n", " | "))
            sid = None
            continue
        for _ in gen.READER_CYCLE:
            if done.is_set():
                break
            q = stream[i]
            i += 1
            try:
                res, dt = run_query(run, idx, q, trace_id=f"q-{i}")
                run.op(True)
                record_query(run, q, dt)
                ends.append(now())
                results.append((q, res, sid))
                got = {d for d, *_ in res} if q[0] in ("bm25", "tfidf") else set(res)
                if got - expected:
                    run.wrong(f"{q} at snapshot {sid}: returned docs not live {sorted(got - expected)[:5]}")
            except Exception:  # noqa: BLE001
                run.op(False, f"{q}: " + traceback.format_exc(limit=2).replace("\n", " | "))
    run.info["reader_opens"] = opens


def ingest(run: Run) -> None:
    setups = []
    for rep in range(INGEST_SETUPS):
        if rep:
            spare = (st, root)
        root = os.path.join(run.work, f"segments-{rep}")
        st = IngestState()
        t0 = now()
        _commit_batch(run, st, root, 0, INGEST_DOCS)
        setups.append(now() - t0)
    run.samples["setup_s"] = setups
    _warm_up(run, *spare)
    _pool(run, "writer")
    files: dict[str, int] = {}
    _track_files(root, files, None)

    stream = gen.query_stream(run.seed, gen.query_pool(run.seed, READER_POOL, gen.READER_CYCLE),
                              10_000, gen.READER_CYCLE)
    results: list = []
    ends: list[float] = []
    t_start = now()
    deadline = t_start + run.seconds
    done = threading.Event()
    reader = threading.Thread(target=_reader, args=(run, st, root, done, stream, results, ends))
    reader.start()
    try:
        _writer(run, st, root, deadline, files)
    finally:
        t_end = now()
        done.set()
        reader.join()
    # reader throughput beside the writer: the queries that completed
    # while it ran, over the time up to the last of them
    timed = [t for t in ends if t <= t_end]
    run.values["qps"] = len(timed) / (timed[-1] - t_start) if timed else 0.0
    run.info["reader_queries_timed"] = len(timed)
    run.values["peak_rss_mb"] = run.rss.stop() / 2**20
    if run.tracer.enabled:
        run.values["bytes_per_posting"] = _bytes_per_posting(
            [os.path.join(root, "segments", s, "postings") for s in os.listdir(os.path.join(root, "segments"))]
        )

    live_bytes = _content_bytes(st.texts[d] for d in st.live)
    run.values["bytes_written_per_doc_byte"] = sum(files.values()) / st.content_bytes
    run.values["bytes_stored_per_doc_byte"] = sum(_dir_files(root).values()) / live_bytes
    run.info["content_bytes"] = st.content_bytes
    run.info["snapshot_files"] = sum(
        1 for f in os.listdir(os.path.join(root, "segments_meta")) if f.startswith("snap-") and f.endswith(".json")
    )

    oracle = Oracle()
    oracle.add(list(st.texts), list(st.texts.values()))
    _corpus_stats(run, oracle, st.live)
    check_queries(run, oracle, results, lambda sid: set(st.expected[sid]))


WORKLOADS = {"serve": serve, "ingest": ingest}
