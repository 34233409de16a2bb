"""Incremental index ingestion via Structured Streaming.

The reference's only incremental behavior is ``addDocument`` + auto-``flush``
at 1000 docs and merge at 8 segments (``InvertedIndexManager.java:44,52``)
— an LSM pattern. The Spark-native analog: a file-source stream of new
corpus files, ``foreachBatch`` building one index SEGMENT per micro-batch
(``Trigger.AvailableNow`` for catch-up runs), and a compaction job that
re-blocks segments (≅ ``mergeAllSegments``).

Because docids are globally unique and postings blocks are docid-range
aligned, a segmented index (multiple (term, block) rows across segments)
is ALREADY correct for every query operator — the aggregations sum across
rows. Compaction is purely a read-amplification optimization, exactly like
the reference's merge.
"""

from __future__ import annotations

import time
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_search_engine_spark.corpus import load_corpus
from mini_search_engine_spark.index.build import (
    DEFAULT_BLOCK_SPAN,
    DOCLENS_SCHEMA,
    TERMSTATS_SCHEMA,
    InvertedIndex,
    build_index,
    doc_stats,
    postings_schema,
    _hadoop_fs,
)
from mini_search_engine_spark.index.deletes import TOMBSTONE_SCHEMA, apply_deletes
from mini_search_engine_spark.index.merge import merge_segments
from mini_search_engine_spark.streaming.snapshots import (
    Snapshot,
    commit_snapshot,
    current_snapshot,
    gc as snapshot_gc,
    read_snapshot,
)

# reference: InvertedIndexManager.java:52 — auto-merge all segments when
# the segment count reaches this
DEFAULT_MERGE_THRESHOLD = 8

# compacted segments are named compact-<snapshot id> — IMMUTABLE unique
# dirs, never renamed (see streaming/snapshots.py for the commit protocol)
COMPACT_PREFIX = "compact-"


def ingest_stream(
    spark: SparkSession,
    input_path: str,
    index_path: str,
    schema: str,
    analyzer: str = "porter",
    positional: bool = False,
    block_span: int = DEFAULT_BLOCK_SPAN,
    available_now: bool = True,
    auto_compact: bool = False,
    merge_threshold: int = DEFAULT_MERGE_THRESHOLD,
    auto_champion: int | None = None,
):
    """Stream corpus files from ``input_path`` into per-batch index segments.

    Returns the StreamingQuery; call ``.awaitTermination()``. Checkpointed —
    a killed run resumes from the last committed micro-batch (this is the
    streaming counterpart of lineage-based batch resume).

    ``auto_compact=True`` reproduces the reference's inline policy: after
    each committed segment, merge ALL segments once the count reaches
    DEFAULT_MERGE_THRESHOLD (``InvertedIndexManager.java:295-297`` blocks
    addDocument the same way). Default off — a production stream keeps
    triggers short and runs ``maybe_compact`` as a separate maintenance
    job against the same segment root.

    ``auto_champion=n`` keeps a serving champion tier (top-``n`` postings
    per term, ``index.champion_store``) in step with the stream: after
    each committed segment the tier refreshes INCREMENTALLY (only the
    new segment's terms re-prune); after a compaction or delete it
    rebuilds. Default off for the same reason as ``auto_compact`` —
    production runs ``refresh_champion`` as a separate maintenance job.
    """

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        docs = load_corpus(batch_df)
        # one segment per micro-batch; its (term, block) split rows union
        # into the segmented index like any other segment's
        idx = build_index(
            docs, analyzer=analyzer, positional=positional, block_span=block_span
        )
        wrote = write_segment(idx, index_path, str(batch_id))
        idx.unpersist()
        if not wrote:
            # replayed batch whose segment a past compaction already folded
            # into seg=compact — committing the no-op batch is the fix
            return
        if auto_compact:
            maybe_compact(
                spark,
                index_path,
                threshold=merge_threshold,
                analyzer=analyzer,
                positional=positional,
                block_span=block_span,
            )
        if auto_champion is not None:
            from mini_search_engine_spark.index.champion_store import (
                refresh_champion,
            )

            refresh_champion(
                spark,
                index_path,
                n_per_term=auto_champion,
                analyzer=analyzer,
                block_span=block_span,
            )

    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(input_path)
    )
    writer = (
        reader.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", f"{index_path}/_checkpoint")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_segment(idx: InvertedIndex, index_path: str, seg_id: str) -> bool:
    """Persist one index segment (postings + doclens + the segment's
    (term, tid, df) dictionary sidecar — postings are tid-encoded), then
    COMMIT it by writing the next snapshot file (data first, one atomic
    metadata rename last — see streaming/snapshots.py).

    Replay-safe: if ``seg_id`` is in the current snapshot's ``folded``
    list its documents already live inside a compacted segment, and if it
    is already a live segment the previous attempt's commit succeeded —
    either way a replayed micro-batch is a no-op. Returns True iff the
    segment was written and committed."""
    spark = idx.postings.sparkSession
    snap = current_snapshot(spark, index_path)
    if snap is not None and (seg_id in snap.folded or seg_id in snap.segments):
        return False
    # capture the pre-snapshot bootstrap listing BEFORE writing this
    # segment's own data dirs, so the new seg=<id> is not double-counted
    prev_segs = snap.segments if snap else _legacy_dir_list(spark, index_path)
    _write_segment_files(idx, index_path, seg_id)
    commit_snapshot(
        spark,
        index_path,
        segments=[*prev_segs, seg_id],
        folded=snap.folded if snap else (),
        deletes=snap.deletes if snap else (),
        base=snap,
    )
    return True


def _write_segment_files(idx: InvertedIndex, index_path: str, seg_id: str) -> None:
    """Write a segment's postings, doclens and termstats, in that order,
    under ``segments/seg=<seg_id>``; the caller commits it."""
    base = f"{index_path}/segments/seg={seg_id}"
    for part in ("postings", "doclens", "termstats"):
        getattr(idx, part).write.mode("overwrite").parquet(f"{base}/{part}")


def _write_delete_file(spark: SparkSession, index_path: str, snap: Snapshot, tomb: DataFrame) -> str:
    """Write ``tomb`` as a delete file for the snapshot after ``snap`` →
    its name, for the caller to commit. Unique and immutable: never
    renamed, never rewritten (the snapshot id it was staged for may lose
    a commit race; the app-id + nanotime suffix keeps racers apart)."""
    name = f"del-{snap.snapshot_id + 1}-{spark.sparkContext.applicationId}-{time.monotonic_ns()}"
    tomb.write.mode("error").parquet(f"{index_path}/deletes/{name}")
    return name


def _legacy_dir_list(spark: SparkSession, index_path: str) -> list[str]:
    """Bootstrap for segment roots written before the snapshot protocol:
    the directory listing IS the live set (no compaction manifest existed
    without a snapshot either)."""
    fs, path = _hadoop_fs(spark, f"{index_path}/segments")
    if not fs.exists(path):
        return []
    return sorted(
        name[len("seg="):]
        for st in fs.listStatus(path)
        if st.isDirectory()
        and (name := st.getPath().getName()).startswith("seg=")
    )


def folded_seg_ids(spark: SparkSession, index_path: str) -> set[str]:
    """Micro-batch segment ids already folded into a compacted segment
    (from the current snapshot) — ids a replayed batch must not rewrite."""
    snap = current_snapshot(spark, index_path)
    return set(snap.folded) if snap else set()


def live_seg_ids(spark: SparkSession, index_path: str) -> list[str]:
    """Segment ids of the current snapshot — the ONLY dirs that are part
    of the index. Uncommitted stragglers (a dir force-written around the
    commit protocol, or data from a crashed compaction) are invisible by
    construction. Falls back to the directory listing for pre-snapshot
    segment roots."""
    snap = current_snapshot(spark, index_path)
    if snap is not None:
        return sorted(snap.segments)
    return _legacy_dir_list(spark, index_path)


def num_segments(spark: SparkSession, index_path: str) -> int:
    """Count committed live segments (snapshot-visible, not dir count)."""
    return len(live_seg_ids(spark, index_path))


def maybe_compact(
    spark: SparkSession,
    index_path: str,
    threshold: int = DEFAULT_MERGE_THRESHOLD,
    analyzer: str = "porter",
    positional: bool = False,
    block_span: int = DEFAULT_BLOCK_SPAN,
    retain_snapshots: int = 2,
) -> bool:
    """Reference LSM merge policy: when the number of committed segments
    reaches ``threshold``, merge ALL of them into one segment
    (``InvertedIndexManager.java:52,295-297`` — auto ``mergeAllSegments``
    at DEFAULT_MERGE_THRESHOLD=8). Returns True iff a compaction ran.

    Commit protocol (replaces the r3 directory rename-swap — see
    streaming/snapshots.py for why renames don't survive object stores):
    the merged segment is written to a NEW immutable dir
    ``seg=compact-<id>``, then one snapshot file commits it as the sole
    live segment, carrying every folded micro-batch id (old + this
    round's) for replay-safety. Nothing is ever renamed or swapped; a
    crash at any point leaves the previous snapshot current and at worst
    an unreferenced data dir for ``snapshots.gc`` to sweep. Old segment
    dirs and snapshot files beyond ``retain_snapshots`` are collected
    after the commit (default keeps one previous snapshot so in-flight
    readers of it still find their files).

    Globally-unique docids mean no rebase is needed; compaction is purely
    read-amplification control (fewer (term, block) rows per key) — plus
    physical purge of doc tombstones: the view it merges already has
    merge-on-read deletes applied, so the committed snapshot carries an
    empty ``deletes`` list and the delete files age out via ``gc``."""
    snap = current_snapshot(spark, index_path)
    seg_ids = live_seg_ids(spark, index_path)
    if len(seg_ids) < max(threshold, 2):
        return False
    merged = compact_segments(
        read_segmented_index(
            spark,
            index_path,
            analyzer=analyzer,
            positional=positional,
            block_span=block_span,
        )
    )
    next_id = (snap.snapshot_id + 1) if snap else 0
    new_seg = f"{COMPACT_PREFIX}{next_id}"
    _write_segment_files(merged, index_path, new_seg)
    # batch ids folded THIS round = every live non-compact segment; compact
    # segments are not batch ids (no stream ever replays them)
    folded = {s for s in seg_ids if not s.startswith(COMPACT_PREFIX)} | (
        set(snap.folded) if snap else set()
    )
    commit_snapshot(spark, index_path, segments=[new_seg], folded=folded, base=snap)
    snapshot_gc(spark, index_path, retain_snapshots=retain_snapshots)
    return True


def read_segmented_index(
    spark: SparkSession,
    index_path: str,
    analyzer: str = "porter",
    positional: bool = False,
    block_span: int = DEFAULT_BLOCK_SPAN,
    snapshot_id: int | None = None,
    apply_tombstones: bool = True,
) -> InvertedIndex:
    """Assemble a queryable index over all committed LIVE segments.

    Segment dirs are enumerated explicitly (not a ``seg=*`` glob) so a
    folded straggler — a batch segment a replayed stream rewrote after its
    documents were compacted into ``seg=compact`` — is never read twice.

    ``snapshot_id`` time-travels: the returned index is the exact state
    that snapshot committed — its segment list AND its tombstone set
    (within ``gc``'s retention window, like Iceberg's ``VERSION AS OF``).
    ``apply_tombstones=False`` skips merge-on-read delete filtering (used
    by audits that must see tombstoned postings).

    The snapshot's merge-on-read state is resolved here, once: every file
    is read with its declared schema (no inference job; ``positional``
    must match the segments), and ``apply_deletes`` writes the tombstones
    into the plans as literals. Opening runs the tombstone collect and the
    (n_docs, avgdl) aggregate; a query then runs only its own plan."""
    del_files: list[str] = []
    if snapshot_id is not None:
        snap = read_snapshot(spark, index_path, snapshot_id)
        if snap is None:
            raise FileNotFoundError(
                f"snapshot {snapshot_id} not found/committed under {index_path}"
            )
        segs = sorted(snap.segments)
        del_files = snap.deletes
    else:
        snap = current_snapshot(spark, index_path)
        if snap is not None:
            segs = sorted(snap.segments)
            del_files = snap.deletes
        else:
            segs = _legacy_dir_list(spark, index_path)
    if not segs:
        raise FileNotFoundError(f"no live segments under {index_path}/segments")
    seg_bases = [f"{index_path}/segments/seg={s}" for s in segs]

    def read(schema, part: str) -> DataFrame:
        return spark.read.schema(schema).parquet(*[f"{b}/{part}" for b in seg_bases])

    # per-segment dfs sum (docids are globally unique across segments);
    # hashed tids agree across independently built segments by construction
    termstats = (
        read(TERMSTATS_SCHEMA, "termstats")
        .groupBy("tid")
        .agg(F.sum("df").cast("long").alias("df"), F.min("term").alias("term"))
        .select("term", "tid", "df")
    )
    idx = InvertedIndex(
        postings=read(postings_schema(False, positional), "postings"),
        doclens=read(DOCLENS_SCHEMA, "doclens"),
        termstats=termstats,
        n_docs=0,
        avgdl=0.0,
        analyzer=analyzer,
        block_span=block_span,
        positional=positional,
        compressed=False,
    )
    if apply_tombstones and del_files:
        # apply_deletes takes n_docs and avgdl from the surviving doclens
        deletes = [f"{index_path}/deletes/{f}" for f in del_files]
        return apply_deletes(idx, spark.read.schema(TOMBSTONE_SCHEMA).parquet(*deletes))
    n_docs, avgdl = doc_stats(idx.doclens)
    return replace(idx, n_docs=n_docs, avgdl=avgdl)


def _tombstones(spark: SparkSession, docids) -> DataFrame:
    """A delete file's frame: distinct docids of a DataFrame's ``docid``
    column, or of an iterable of ints — deduplicated on the driver and
    exploded from one literal array, so writing it runs one task in the
    JVM (no shuffle, no Python worker) and leaves one file."""
    if isinstance(docids, DataFrame):
        return docids.select(F.col("docid").cast("long").alias("docid")).distinct()
    ids = ", ".join(f"{d}L" for d in sorted({int(d) for d in docids}))
    return spark.sql(f"SELECT explode(CAST(array({ids}) AS array<bigint>)) AS docid")


def delete_docs(spark: SparkSession, index_path: str, docids) -> Snapshot:
    """Doc-level delete (takedown/opt-out/dedup verdict) WITHOUT rewriting
    any segment: persist the tombstone set as a delete file and commit a
    snapshot referencing it — the Iceberg equality-delete commit. Readers
    of the new snapshot see the docs gone (merge-on-read,
    index/deletes.py); readers planned against the previous snapshot are
    undisturbed; the next compaction purges the postings physically and
    drops the delete files from the snapshot.

    ``docids``: a DataFrame with a ``docid`` column, or an iterable of
    ints. Returns the committed Snapshot."""
    snap = current_snapshot(spark, index_path)
    if snap is None:
        raise FileNotFoundError(
            f"delete_docs requires a snapshot-committed index at {index_path}"
        )
    name = _write_delete_file(spark, index_path, snap, _tombstones(spark, docids))
    return commit_snapshot(
        spark,
        index_path,
        segments=snap.segments,
        folded=snap.folded,
        deletes=[*snap.deletes, name],
        base=snap,
    )


def upsert_docs(
    spark: SparkSession,
    index_path: str,
    docs: DataFrame,
    replace_docids,
    analyzer: str = "porter",
    positional: bool = False,
    block_span: int = DEFAULT_BLOCK_SPAN,
    seg_id: str | None = None,
) -> Snapshot:
    """Atomic upsert — the Iceberg ``MERGE INTO`` commit the reference has
    no analog for (its only mutation is append; ``InvertedIndexManager``
    re-adds a changed document as a new one). ONE snapshot both appends a
    segment built from ``docs`` (the new/revised documents) and tombstones
    ``replace_docids`` (the superseded ones): readers of the new snapshot
    see the swap complete, readers of the old snapshot see neither half,
    and a crash at any point leaves the previous snapshot current with at
    worst unreferenced data for ``gc`` to sweep.

    Identity is content-addressed (``corpus.assign_docids`` derives docids
    from the document rows), so a REVISED document arrives under a FRESH
    docid and its superseded docid goes into an equality-delete file. That
    is exactly what makes one global tombstone set sufficient: no future
    segment can legitimately re-introduce a tombstoned docid, so deletes
    never need Iceberg's sequence-number scoping. A ``docs`` docid that
    also appears in ``replace_docids`` would be eaten by its own tombstone
    — that is a caller bug and raises ``ValueError``.

    ``docs``: canonical (docid, content, …) frame whose docids are not
    live in the index. ``replace_docids``: DataFrame with a ``docid``
    column or iterable of ints; may be empty (pure insert). ``seg_id``
    defaults to ``upsert-<next snapshot id>``; pass a stable id to make
    retries idempotent (an already-committed ``seg_id`` is a no-op, like
    ``write_segment``'s replay guard). Returns the committed (or current,
    on no-op) Snapshot."""
    snap = current_snapshot(spark, index_path)
    if snap is None:
        raise FileNotFoundError(
            f"upsert_docs requires a snapshot-committed index at {index_path}"
        )
    if seg_id is None:
        seg_id = f"upsert-{snap.snapshot_id + 1}"
    if seg_id in snap.folded or seg_id in snap.segments:
        return snap
    tomb = _tombstones(spark, replace_docids)
    # self-tombstone guard: one bounded job over the (small) updated frame
    clash = (
        docs.select("docid").join(tomb, "docid", "left_semi").limit(1).count()
    )
    if clash:
        raise ValueError(
            "upsert_docs: docs and replace_docids share docids — revised "
            "documents must carry fresh (content-addressed) docids"
        )
    idx = build_index(
        docs, analyzer=analyzer, positional=positional, block_span=block_span
    )
    _write_segment_files(idx, index_path, seg_id)
    deletes = list(snap.deletes)
    if tomb.limit(1).count():
        deletes.append(_write_delete_file(spark, index_path, snap, tomb))
    return commit_snapshot(
        spark,
        index_path,
        segments=[*snap.segments, seg_id],
        folded=snap.folded,
        deletes=deletes,
        base=snap,
    )


def compact_segments(index: InvertedIndex) -> InvertedIndex:
    """Merge a segmented index into single (term, block) rows (≅ mergeAllSegments)."""
    return merge_segments([index])


def streaming_exact_dedup(docs: DataFrame, content_col: str = "content") -> DataFrame:
    """Custom STATEFUL streaming operator: cross-batch exact deduplication.

    Keeps only the FIRST document ever seen per content hash — documents
    whose sha256 appeared in any earlier micro-batch (or elsewhere in the
    same batch; lowest docid wins) are dropped. Grouping key = the sha
    itself via ``applyInPandasWithState``: state is a single boolean per
    distinct hash (O(1) rows per key, the shape RocksDB-backed state
    stores scale to), per-trigger group count is bounded by the batch's
    distinct hashes, and the in-batch winner is deterministic (min docid).

    The training-data-pipeline use: continuous ingest where an exact
    duplicate of ANYTHING seen before must not enter the corpus. Batch
    oracle: ``ops.exact_dedup`` canonical docids. Works only on streaming
    DataFrames; for batch frames use ``exact_dedup``.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = docs.withColumn("sha", F.sha2(F.col(content_col), 256))
    out_schema = keyed.schema
    state_schema = "seen boolean"

    def dedup_group(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            return  # hash seen in an earlier batch — drop all rows
        first = None
        for pdf in pdfs:
            cand = pdf.sort_values("docid").head(1)
            if first is None or cand["docid"].iloc[0] < first["docid"].iloc[0]:
                first = cand
        if first is not None:
            state.update((True,))
            yield first

    return keyed.groupBy("sha").applyInPandasWithState(
        dedup_group,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream —
    handles late data up to the watermark; works on both batch and
    streaming DataFrames."""
    src = events
    if events.isStreaming:
        # watermarks require TIMESTAMP (not NTZ) event time
        src = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Session-window aggregation via the native ``F.session_window`` —
    the STREAMING counterpart of ``ops.sessionize``: data-driven windows
    that merge a user's events whose inter-event gaps stay under ``gap``,
    with watermarked late-data handling and incremental state when run on
    a stream (works on batch frames too, same plan shape).

    Boundary semantics vs ``ops.sessionize``: a session window spans
    [first_ts, last_ts + gap), end-exclusive, so an event arriving
    EXACTLY ``gap`` after the previous one starts a new session here but
    extends the session in ``sessionize`` (strict >). Identical for any
    event stream without exact-boundary timestamps.
    """
    src = events
    if events.isStreaming:
        # watermarks require TIMESTAMP (not NTZ) event time
        src = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(user_col)
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            # count_distinct is not allowed on streams; collect_set is, and
            # per-session type cardinality is tiny (bounded by the type vocab)
            F.size(F.collect_set("event_type")).cast("long").alias("n_types"),
        )
        .select(
            F.col(user_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "n_types",
        )
    )


def incremental_dedup_stream(
    spark: SparkSession,
    input_path: str,
    schema: str,
    store_path: str,
    flags_path: str,
    available_now: bool = True,
    max_files_per_trigger: int = 8,
    num_hashes: int = 16,
    band_size: int = 2,
    shingle_k: int = 3,
    compact_every: int | None = None,
):
    """Continuous incremental near-dedup: every arriving micro-batch is
    flagged against the persisted LSH band store (``ops.incremental``) PLUS
    within itself, the per-doc verdicts land in ``flags_path``, and the
    surviving (non-dup) docs' band keys are appended to the store so later
    batches dedup against them.

    ``compact_every=N`` folds the store's accumulated batch partitions
    into one (``ops.incremental.compact_minhash_store``) after every Nth
    micro-batch, inside ``foreachBatch`` — sequential with the stream's
    own jobs, so there is no read-while-delete race. Folded partitions
    take DESCENDING negative ids, so a crash-replayed batch's
    ``batch=<id+1>`` rewrite can never clobber folded data; a replay
    after compaction re-appends rows compaction already folded, which
    only duplicates them (verdicts unchanged — min over matches) until
    the next compaction clears the copies. Offline compaction of the same
    store is also safe for ids but must not run CONCURRENTLY with an
    active stream (its partition deletes race in-flight probe scans).

    Crash-replay safety, step by step:

    1. flags write → deterministic ``batch_id=<id>`` dir with overwrite
       (the percolate_stream pattern): replays rewrite, never duplicate.
    2. survivors are derived FROM THE COMMITTED FLAGS FILE, not from the
       lazy flags plan — so the store-append job's lineage contains the
       batch files + the flags parquet only, never the store itself
       (Spark refuses plans that read and overwrite the same path).
    3. store append → ``batch=<stream batch_id + 1>`` partition via dynamic
       partition overwrite (base corpus owns ``batch=0``): a replayed
       append rewrites its own partition in place.
    4. a replayed batch probes a store that may already hold its own
       survivors; the flags operator's self-match guard keeps their
       verdicts stable. The is_dup verdict and survivor set are
       replay-invariant; only the match ATTRIBUTION can shift (a
       within-batch dup's canonical may surface as store_match instead of
       batch_match on replay, since its canonical is by then a store row).

    Returns the StreamingQuery; call ``.awaitTermination()``."""
    from mini_search_engine_spark.ops.incremental import (
        append_minhash_store,
        compact_minhash_store,
        incremental_minhash_flags,
        read_minhash_store,
    )

    kw = dict(num_hashes=num_hashes, band_size=band_size, shingle_k=shingle_k)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        docs = load_corpus(batch_df)
        flags = incremental_minhash_flags(
            docs, read_minhash_store(spark, store_path), **kw
        )
        flags.write.mode("overwrite").parquet(f"{flags_path}/batch_id={batch_id}")
        committed = spark.read.parquet(f"{flags_path}/batch_id={batch_id}")
        survivors = docs.join(
            committed.filter(F.col("is_dup") == 0).select("docid"), "docid"
        )
        append_minhash_store(survivors, store_path, batch_id=batch_id + 1, **kw)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_minhash_store(spark, store_path)

    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_path)
    )
    writer = reader.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", f"{flags_path}/_checkpoint"
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def percolate_stream(
    spark: SparkSession,
    input_path: str,
    schema: str,
    queries: DataFrame,
    alerts_path: str,
    analyzer: str = "porter",
    available_now: bool = True,
    df_stats: DataFrame | None = None,
):
    """Alerting on ingest: percolate every arriving document batch against
    the stored-query table and append matches to ``alerts_path`` as
    (docid, qid, matched, nterms, batch_id) parquet.

    The percolation itself is per-document stateless (a doc's matches
    depend only on that doc and the static query table), so it runs inside
    ``foreachBatch`` — each micro-batch pays exactly ONE broadcast-routed
    kernel pass over BATCH-sized input (search/percolate.py), and the
    checkpoint gives resume-from-last-committed-batch exactly like
    ``ingest_stream``. The query table is re-analyzed per batch; pin it
    with ``.persist()`` (or pre-explode once) when the stored-query set is
    large enough for that to matter. Pass ``df_stats`` (e.g. the serving
    index's ``termstats.select(term, df)``) to route queries by corpus-
    global dfs and skip even the per-batch routing probe.

    Returns the StreamingQuery; call ``.awaitTermination()``.
    """
    from mini_search_engine_spark.search.percolate import Percolator

    # compile ONCE: query analysis + (with df_stats) the routing index
    # happen here, not per micro-batch — each trigger pays only the
    # kernel pass (plus, without df_stats, a one-time first-batch probe)
    perc = Percolator(queries, analyzer=analyzer, df_stats=df_stats)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        docs = load_corpus(batch_df)
        matches = perc.match(docs)
        # Deterministic per-batch directory + overwrite = idempotent under
        # replay: a crash between this write and the checkpoint commit
        # re-runs the batch, which REWRITES the same batch_id=<id> dir
        # instead of appending duplicate alert rows. Readers still just
        # spark.read.parquet(alerts_path) — batch_id surfaces as the
        # partition column.
        (
            matches.write.mode("overwrite").parquet(
                f"{alerts_path}/batch_id={batch_id}"
            )
        )

    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(input_path)
    )
    writer = reader.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", f"{alerts_path}/_checkpoint"
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
