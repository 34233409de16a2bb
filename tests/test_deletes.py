"""Doc-level merge-on-read deletes (index/deletes.py) + the snapshot
delete-file commit protocol (streaming delete_docs / time travel / purge).

The invariant everywhere: an index with tombstones applied is
indistinguishable — postings, statistics, scores — from a from-scratch
build over the surviving documents only. The reference has no doc-level
delete (only the lazy term-granular quirk, InvertedIndexManager.java
deleteDocuments — see index/merge.py B5); this is the Iceberg
equality-delete analog a takedown/opt-out pipeline needs at 100 TB."""

import pytest
from pyspark.sql import functions as F

from mini_search_engine_spark.corpus import load_corpus
from mini_search_engine_spark.index.build import build_index
from mini_search_engine_spark.index.deletes import apply_deletes
from mini_search_engine_spark.search import (
    bm25_topk,
    search_and,
    search_keyword,
    search_phrase,
    search_tfidf,
)
from mini_search_engine_spark.streaming import (
    current_snapshot,
    delete_docs,
    gc,
    maybe_compact,
    read_segmented_index,
    write_segment,
)
from tests.conftest import postings_with_term

SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _rows(lo, hi):
    return [(i, f"alpha word{i % 4} beta common", "en", "t", 0) for i in range(lo, hi)]


def _corpus(spark, rows):
    return load_corpus(spark.createDataFrame(rows, SCHEMA))


def _tomb(spark, ids):
    return spark.createDataFrame([(int(i),) for i in ids], "docid long")


def _postings_set(index):
    cols = ["term", "block", "docids", "tfs", "dls"]
    if index.positional:
        cols.append("positions")
    return {tuple(map(str, r)) for r in postings_with_term(index).select(*cols).collect()}


def _stats_set(index):
    return {(r["term"], r["df"]) for r in index.termstats.select("term", "df").collect()}


def test_apply_deletes_equals_rebuild(spark, tiny_corpus):
    """Tombstoning docids then querying == building only the survivors:
    postings arrays, df, doclens, n_docs/avgdl, BM25 scores, phrase hits."""
    docs = load_corpus(tiny_corpus)
    full = build_index(docs, analyzer="porter", positional=True, block_span=4)
    # 0 and 7 are the heavy 'cat' docs (df and max_tf both shift); 4 kills
    # the only 'stem*' doc entirely (its terms must vanish from the dict)
    deleted = apply_deletes(full, _tomb(spark, [0, 4, 7]))
    rebuilt = build_index(
        docs.filter(~F.col("docid").isin(0, 4, 7)),
        analyzer="porter",
        positional=True,
        block_span=4,
    )

    assert rebuilt.n_docs == 5
    _assert_same_index(deleted, rebuilt)
    assert [r["docid"] for r in search_phrase(deleted, "quick brown").collect()] == [5]
    # no empty posting rows survive and no tombstoned docid remains anywhere
    assert deleted.postings.filter(F.size("docids") == 0).count() == 0
    assert (
        deleted.postings.filter(
            F.arrays_overlap("docids", F.array(F.lit(0), F.lit(4), F.lit(7)))
        ).count()
        == 0
    )

    # a 20,000-docid tombstone set (the three above plus absent docids)
    # is one hash InSet written as SQL text: it costs about as many Py4J
    # commands as the 3-docid set (a Column call per literal would add
    # 20,000; garbage-collected proxies add noise), and it is still exact
    _, small = _py4j_commands(lambda: apply_deletes(full, _tomb(spark, [0, 4, 7])))
    big = _tomb(spark, [0, 4, 7, *range(1_000, 20_997)])
    deleted_big, calls = _py4j_commands(lambda: apply_deletes(full, big))
    assert calls < small + 1_000, (small, calls)
    _assert_same_index(deleted_big, rebuilt)
    for idx in (full, rebuilt):
        idx.unpersist()


def _py4j_commands(fn):
    """(``fn()``, the number of Py4J commands it sent)."""
    from py4j.clientserver import ClientServerConnection

    orig = ClientServerConnection.send_command
    n = [0]

    def counting(conn, command):
        n[0] += 1
        return orig(conn, command)

    ClientServerConnection.send_command = counting
    try:
        result = fn()
    finally:
        ClientServerConnection.send_command = orig
    return result, n[0]


def _assert_same_index(deleted, rebuilt):
    assert deleted.n_docs == rebuilt.n_docs
    assert deleted.avgdl == pytest.approx(rebuilt.avgdl)
    assert _stats_set(deleted) == _stats_set(rebuilt)
    assert _postings_set(deleted) == _postings_set(rebuilt)
    assert sorted(map(tuple, deleted.doclens.collect())) == sorted(
        map(tuple, rebuilt.doclens.collect())
    )
    for q in (["cat", "dog"], ["quick", "retrieval"]):
        assert _with_rows(bm25_topk(deleted, q, 8))[1] == _with_rows(bm25_topk(rebuilt, q, 8))[1]


def test_apply_deletes_nonexistent_is_noop(spark, tiny_corpus):
    docs = load_corpus(tiny_corpus)
    full = build_index(docs, analyzer="porter", block_span=4)
    same = apply_deletes(full, _tomb(spark, [999, 12345]))
    assert same.n_docs == full.n_docs
    assert same.avgdl == pytest.approx(full.avgdl)
    assert _stats_set(same) == _stats_set(full)
    assert _postings_set(same) == _postings_set(full)
    full.unpersist()


def test_apply_deletes_on_compressed_decodes_first(spark, tiny_corpus):
    docs = load_corpus(tiny_corpus)
    comp = build_index(docs, analyzer="porter", block_span=4, compress=True)
    deleted = apply_deletes(comp, _tomb(spark, [0]))
    rebuilt = build_index(
        docs.filter(F.col("docid") != 0), analyzer="porter", block_span=4
    )
    assert not deleted.compressed
    assert _postings_set(deleted) == _postings_set(rebuilt)
    for idx in (comp, rebuilt):
        idx.unpersist()


def test_delete_docs_snapshot_time_travel_and_purge(spark, tmp_path):
    """delete_docs commits a tombstone snapshot WITHOUT rewriting segments;
    older snapshots time-travel to the pre-delete state; compaction
    physically purges and drops the delete files; gc sweeps them."""
    idxp = str(tmp_path / "del_idx")
    segs = []
    for s in range(2):
        seg = build_index(
            _corpus(spark, _rows(10 * s, 10 * s + 10)), analyzer="porter", block_span=8
        )
        assert write_segment(seg, idxp, str(s)) is True
        segs.append(seg)
    pre = current_snapshot(spark, idxp)
    assert pre.deletes == []

    snap = delete_docs(spark, idxp, [5, 12, 999])
    assert snap.parent == pre.snapshot_id and len(snap.deletes) == 1
    # no segment data was rewritten — same segment list, same files
    assert snap.segments == pre.segments

    live = read_segmented_index(spark, idxp, block_span=8)
    assert live.n_docs == 18
    hits = [r["docid"] for r in search_and(live, ["alpha", "word1"]).collect()]
    assert 5 not in hits and 13 in hits
    # time travel: the pre-delete snapshot still sees all 20
    old = read_segmented_index(spark, idxp, block_span=8, snapshot_id=pre.snapshot_id)
    assert old.n_docs == 20
    # audit view: tombstones visible but unapplied
    raw = read_segmented_index(spark, idxp, block_span=8, apply_tombstones=False)
    assert raw.n_docs == 20

    # a second delete stacks a second delete file on the same snapshot chain
    snap2 = delete_docs(spark, idxp, [7])
    assert len(snap2.deletes) == 2
    assert read_segmented_index(spark, idxp, block_span=8).n_docs == 17

    # compaction merges the ALREADY-FILTERED view → physical purge,
    # tombstone-free snapshot
    assert maybe_compact(spark, idxp, threshold=2) is True
    post = current_snapshot(spark, idxp)
    assert post.deletes == []
    compacted = read_segmented_index(spark, idxp, block_span=8, apply_tombstones=False)
    assert compacted.n_docs == 17  # gone physically, not just masked
    rebuilt = build_index(
        _corpus(spark, [r for r in _rows(0, 20) if r[0] not in (5, 7, 12)]),
        analyzer="porter",
        block_span=8,
    )
    got = [(r["docid"], round(r["score"], 9)) for r in bm25_topk(compacted, ["word2"], 5).collect()]
    want = [(r["docid"], round(r["score"], 9)) for r in bm25_topk(rebuilt, ["word2"], 5).collect()]
    assert got == want

    # gc with retention 1: expired snapshots' delete files leave the disk
    gc(spark, idxp, retain_snapshots=1)
    from mini_search_engine_spark.index.build import _hadoop_fs

    fs, delroot = _hadoop_fs(spark, f"{idxp}/deletes")
    remaining = [st.getPath().getName() for st in fs.listStatus(delroot)] if fs.exists(delroot) else []
    assert remaining == []
    for s in segs + [rebuilt]:
        s.unpersist()


def test_delete_docs_requires_snapshot(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        delete_docs(spark, str(tmp_path / "nowhere"), [1])


def test_dedup_to_takedown_pipeline(spark, tmp_path):
    """The full 100 TB dedup loop end-to-end: discover near-dup clusters
    (MinHash → connected components), tombstone the non-canonical members
    of an ALREADY-BUILT segmented index via delete_docs (DataFrame form),
    and verify search serves exactly one representative per cluster."""
    from mini_search_engine_spark.ops import dedup_clusters
    from mini_search_engine_spark.search import search_keyword

    # 7 content groups × 2 exact-dup docs (i and i+7), disjoint vocabulary
    rows = [
        (i, f"group{i % 7}x token{i % 7}a token{i % 7}b token{i % 7}c", "en", "t", 0)
        for i in range(14)
    ]
    docs = _corpus(spark, rows)
    idxp = str(tmp_path / "takedown_idx")
    for s, (lo, hi) in enumerate([(0, 7), (7, 14)]):
        seg = build_index(
            _corpus(spark, rows[lo:hi]), analyzer="porter", block_span=8
        )
        assert write_segment(seg, idxp, str(s)) is True
        seg.unpersist()

    clusters = dedup_clusters(docs)
    tomb = clusters.filter(F.col("docid") != F.col("cluster")).select("docid")
    assert sorted(r["docid"] for r in tomb.collect()) == list(range(7, 14))
    delete_docs(spark, idxp, tomb)

    live = read_segmented_index(spark, idxp, block_span=8)
    assert live.n_docs == 7
    for k in range(7):
        assert [r["docid"] for r in search_keyword(live, f"token{k}a").collect()] == [k]


_WORDS = ["alpha", "beta", "gamma", "delta", "spark", "merge", "index", "query", "token", "segment"]


def _varied_rows(lo, hi):
    return [
        (i, " ".join(_WORDS[(i * k) % 10] for k in range(1, 6)) + f" w{i % 7}", "en", "t", 0)
        for i in range(lo, hi)
    ]


SEGMENTED_QUERIES = {
    "bm25": lambda idx: bm25_topk(idx, ["alpha", "spark", "w3"], 8),
    "tfidf": lambda idx: search_tfidf(idx, ["alpha", "spark"], 8),
    "keyword": lambda idx: search_keyword(idx, "spark"),
    "and": lambda idx: search_and(idx, ["alpha", "w3"]),
}
# Spark jobs per step; a reopen collects the tombstones and aggregates
# (n_docs, avgdl). search_and groups on (block, docid) by hash and orders
# by range: one more job than a keyword query's single range sort.
SEGMENTED_JOBS = {"reopen": 4, "bm25": 3, "tfidf": 3, "keyword": 3, "and": 4}


def _in_job_group(spark, group, fn):
    """(``fn()``, the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_segmented_reader_jobs(spark, tmp_path):
    """A segmented reader resolves its snapshot's merge-on-read state once,
    at open: over 3 segments and 2 delete files (one past the 10 values
    where Spark switches to a hash InSet), each query runs only its own
    plan — df in the plan, tombstones as literals, no broadcast — within
    a fixed number of jobs, with the rows of a from-scratch build over the
    surviving docs."""
    idxp = str(tmp_path / "seg_jobs")
    for s in range(3):
        seg = build_index(_corpus(spark, _varied_rows(40 * s, 40 * s + 40)), block_span=8)
        assert write_segment(seg, idxp, str(s)) is True
        seg.unpersist()
    dead = [3, 5] + list(range(10, 120, 9))
    delete_docs(spark, idxp, dead[:2])
    delete_docs(spark, idxp, dead[2:])
    rebuilt = build_index(
        _corpus(spark, [r for r in _varied_rows(0, 120) if r[0] not in dead]), block_span=8
    )

    for rep in range(2):
        idx, jobs = _in_job_group(
            spark, f"seg-reopen-{rep}", lambda: read_segmented_index(spark, idxp, block_span=8)
        )
        assert idx.n_docs == rebuilt.n_docs and jobs <= SEGMENTED_JOBS["reopen"], jobs
        assert idx.avgdl == pytest.approx(rebuilt.avgdl)
        for kind, query in SEGMENTED_QUERIES.items():
            (df, rows), jobs = _in_job_group(
                spark, f"seg-{kind}-{rep}", lambda: _with_rows(query(idx))
            )
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert jobs <= SEGMENTED_JOBS[kind], (kind, jobs)
            assert "BroadcastExchange" not in plan and "INSET" in plan, plan
            assert rows and rows == _with_rows(query(rebuilt))[1], kind
    rebuilt.unpersist()


def _with_rows(df):
    """(``df``, its collected rows with floats rounded)."""
    return df, [tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in df.collect()]


def test_declared_schemas_match_parquet(spark, tmp_path, tiny_corpus):
    """Readers declare the schemas the writers produce instead of running a
    footer-inference job: for every kind of index data on disk, the
    declared schema reads the same column names and types as inference."""
    from mini_search_engine_spark.index.build import (
        DOCLENS_SCHEMA,
        TERMSTATS_SCHEMA,
        postings_schema,
        write_index,
    )
    from mini_search_engine_spark.index.champion_store import current_champion_id, refresh_champion
    from mini_search_engine_spark.index.deletes import TOMBSTONE_SCHEMA
    from mini_search_engine_spark.index.lineage import finalize_index, resumable_build

    def same(path, schema):
        declared = spark.read.schema(schema).parquet(path).schema
        inferred = spark.read.parquet(path).schema
        assert [(f.name, f.dataType.simpleString()) for f in declared] == [
            (f.name, f.dataType.simpleString()) for f in inferred
        ], path

    def same_index(path, compressed, positional, pruned=False):
        same(f"{path}/postings", postings_schema(compressed, positional, df=pruned))
        same(f"{path}/doclens", DOCLENS_SCHEMA)
        same(f"{path}/termstats", TERMSTATS_SCHEMA)

    docs = load_corpus(tiny_corpus)
    for compressed in (False, True):
        for positional in (False, True):
            path = str(tmp_path / f"build-{compressed}-{positional}")
            idx = build_index(docs, positional=positional, compress=compressed, block_span=4)
            write_index(idx, path)
            idx.unpersist(corpus=False)
            same_index(path, compressed, positional)

    idxp = str(tmp_path / "segmented")
    for s in range(2):
        seg = build_index(_corpus(spark, _rows(10 * s, 10 * s + 10)), block_span=8)
        write_segment(seg, idxp, str(s))
        seg.unpersist()
    delete_docs(spark, idxp, [13, 2, 13])  # deduplicated on the driver
    del_file = f"{idxp}/deletes/{current_snapshot(spark, idxp).deletes[0]}"
    same(del_file, TOMBSTONE_SCHEMA)
    assert sorted(r["docid"] for r in spark.read.parquet(del_file).collect()) == [2, 13]
    assert maybe_compact(spark, idxp, threshold=2) is True
    same_index(f"{idxp}/segments/seg={current_snapshot(spark, idxp).segments[0]}", False, False)
    refresh_champion(spark, idxp, n_per_term=4)
    same_index(f"{idxp}/champion/tier-{current_champion_id(spark, idxp)}", False, False, pruned=True)

    lineage = str(tmp_path / "lineage")
    resumable_build(docs, lineage, n_parts=2, block_span=4, compress=True, positional=True)
    finalize_index(spark, lineage, block_span=4, compress=True, positional=True)
    same_index(lineage, True, True)
