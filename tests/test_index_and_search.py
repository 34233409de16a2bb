"""Index build + boolean/phrase/ranked search vs hand-derivable goldens and
the full-scan oracle (pattern of reference Team10MergeTest / Team6AndSearchTest /
Team11PhraseSearchTest / Team2TfIdfTest)."""

import math

import pytest

from conftest import (
    expected_posting_set,
    posting_set,
    postings_with_term,
    ranged_and_overlapping,
)
from mini_search_engine_spark.corpus import load_corpus
from mini_search_engine_spark.index.build import build_index, read_index, write_index
from mini_search_engine_spark.search import (
    bm25_topk,
    bm25_topk_batch,
    full_scan_search,
    search_and,
    search_keyword,
    search_or,
    search_phrase,
    search_tfidf,
)
from mini_search_engine_spark.search import ranking
from tools.plan_audit import build_exchanges, query_exchanges


@pytest.fixture(scope="module")
def corpus(tiny_corpus):
    return load_corpus(tiny_corpus).cache()


@pytest.fixture(scope="module")
def index(corpus):
    return build_index(corpus, analyzer="porter", positional=True, block_span=4)


def ids(df):
    return [r["docid"] for r in df.collect()]


def test_postings_golden(index):
    # "cat" appears in docs 0,2,7; tf 2,1,4 — hand-derived
    rows = postings_with_term(index).filter("term = 'cat'").collect()
    got = sorted((d, t) for r in rows for d, t in zip(r["docids"], r["tfs"]))
    assert got == [(0, 2), (2, 1), (7, 4)]
    # blocking: docids 0,2 are block 0; docid 7 is block 1 (span 4). Docs 0
    # and 2 sit in different input partitions, so block 0 may be two rows.
    in_block = {}
    for r in rows:
        in_block.setdefault(r["block"], []).extend(r["docids"])
    assert {b: sorted(d) for b, d in in_block.items()} == {0: [0, 2], 1: [7]}


def test_stats(index):
    assert index.n_docs == 8
    dfm = {r["term"]: r["df"] for r in index.termstats.collect()}
    assert dfm["cat"] == 3 and dfm["dog"] == 5 and dfm["inform"] == 2
    dls = {r["docid"]: r["dl"] for r in index.doclens.collect()}
    # doc 2: "the cat and the dog" → stopwords removed → [cat, dog]
    assert dls[2] == 2 and dls[6] == 0


def test_keyword(index):
    assert ids(search_keyword(index, "CATS!")) == [0, 2, 7]  # analyzed "cats"→"cat"
    assert ids(search_keyword(index, "the")) == []  # stopword → empty


def test_and_or(index, corpus):
    assert ids(search_and(index, ["cat", "dog"])) == [0, 2, 7]
    assert ids(search_and(index, ["cat", "retrieval"])) == []
    assert ids(search_and(index, ["cat", "the"])) == []  # empty-analysis kw → empty
    assert ids(search_or(index, ["cat", "retrieval"])) == [0, 1, 2, 3, 7]
    # oracle cross-check
    assert ids(search_and(index, ["quick", "fox"])) == ids(
        full_scan_search(corpus, ["quick", "fox"])
    )


def test_phrase(index):
    # "information retrieval" consecutive in docs 1 and 3
    assert ids(search_phrase(index, "information retrieval")) == [1, 3]
    assert ids(search_phrase(index, "retrieval information")) == []
    # single-token phrase degenerates to keyword
    assert ids(search_phrase(index, "fox")) == [5]
    # stopwords vanish before adjacency: "cat and the dog" → [cat, dog] adjacent in doc 2?
    # positions are post-analysis: doc 2 tokens = [cat, dog] → adjacent
    assert 2 in ids(search_phrase(index, "cat dog"))


def test_phrase_requires_positional(corpus):
    idx = build_index(corpus, analyzer="porter", positional=False, block_span=4)
    with pytest.raises(NotImplementedError):
        search_phrase(idx, "information retrieval")


def test_tfidf_reference_semantics(index):
    # idf = N/df (no log); score = dot/sqrt(len) over query terms only
    rows = search_tfidf(index, ["cat"], topk=None).collect()
    # single-term query: score = tf*idf*q / sqrt((tf*idf)^2) = q = N/df — all equal
    scores = {r["docid"]: r["score"] for r in rows}
    assert set(scores) == {0, 2, 7}
    expected = 8 / 3
    for v in scores.values():
        assert v == pytest.approx(expected)
    # ties broken by ascending docid
    assert [r["docid"] for r in rows] == [0, 2, 7]


def test_tfidf_two_terms(index):
    rows = search_tfidf(index, ["cat", "dog"], topk=3).collect()
    # hand-computed: N=8, df(cat)=3, df(dog)=5; q = (8/3, 8/5)
    def score(tfc, tfd):
        dot = 0.0
        ln = 0.0
        if tfc:
            w = tfc * 8 / 3
            dot += w * 8 / 3
            ln += w * w
        if tfd:
            w = tfd * 8 / 5
            dot += w * 8 / 5
            ln += w * w
        return dot / math.sqrt(ln)

    exp = {0: score(2, 1), 2: score(1, 1), 7: score(4, 1), 1: score(0, 1), 5: score(0, 2)}
    best = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    got = [(r["docid"], r["score"]) for r in rows]
    for (ed, es), (gd, gs) in zip(best, got):
        assert ed == gd and gs == pytest.approx(es)


def bm25_oracle(docs_tokens, terms, k1=1.2, b=0.75):
    """Plain-python BM25 oracle (north_rule rank-identity check)."""
    n = len(docs_tokens)
    dls = {d: len(t) for d, t in docs_tokens.items()}
    avgdl = sum(dls.values()) / n
    scores = {}
    for t in set(terms):
        qw = terms.count(t)
        df = sum(1 for toks in docs_tokens.values() if t in toks)
        if not df:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for d, toks in docs_tokens.items():
            tf = toks.count(t)
            if tf:
                s = qw * idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls[d] / avgdl))
                scores[d] = scores.get(d, 0.0) + s
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))


def test_bm25_rank_identical_to_oracle(index, corpus, tiny_corpus):
    from mini_search_engine_spark.analysis import analyze

    docs_tokens = {
        r["doc_id"]: analyze(r["text"]) for r in tiny_corpus.collect()
    }
    for query in (["cat"], ["cat", "dog"], ["information", "retrieval"], ["quick", "cat"]):
        analyzed = [t for k in query for t in analyze(k)]
        exp = bm25_oracle(docs_tokens, analyzed)[:5]
        got = [(r["docid"], r["score"]) for r in bm25_topk(index, query, topk=5).collect()]
        assert [d for d, _ in got] == [d for d, _ in exp], (query, got, exp)
        for (_, es), (_, gs) in zip(exp, got):
            assert gs == pytest.approx(es)


# Spark jobs per forced-pruned query, on the complete index and on a lazy
# champion tier alike: the gate's termstats probe, then the block-bound
# aggregate, phase 1 and the final plan, each shuffle stage its own job
# under AQE. A tier scoring with its stamped df probes nothing more.
PRUNED_JOBS = 11


def test_bm25_pruned_matches_exact(spark, index, monkeypatch):
    """The two-phase block-max path returns the exact rows, on the
    complete index and on a champion tier (df stamped on its rows), in a
    fixed number of Spark jobs."""
    from test_deletes import _in_job_group

    from mini_search_engine_spark.index.prune import champion_index

    # PRUNE_MIN_BLOCKS = PRUNE_MIN_POSTINGS = 0 force the true two-phase
    # block-max path even on this tiny fixture (both cost-based fallbacks
    # would pick the exact plan here)
    monkeypatch.setattr(ranking, "PRUNE_MIN_BLOCKS", 0)
    monkeypatch.setattr(ranking, "PRUNE_MIN_POSTINGS", 0)
    tier = champion_index(index, n_per_term=2)
    for name, idx in (("index", index), ("tier", tier)):
        for query in (["cat", "dog"], ["inform", "fox"], ["stem"]):
            exact = _rows(bm25_topk(idx, query, topk=3))
            pruned, jobs = _in_job_group(
                spark, f"pruned-{name}-{query}", lambda: _rows(bm25_topk(idx, query, topk=3, prune=True))
            )
            assert exact == pruned, (name, query)
            assert jobs <= PRUNED_JOBS, (name, query, jobs)


def test_search_near_proximity(spark):
    """Ordered proximity semantics: gap ≤ slop, order enforced, slop=1 ≡
    exact phrase."""
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.search import search_near, search_phrase

    rows = [
        (0, "alpha beta gamma delta", "en", "t", 0),  # alpha..gamma gap 2
        (1, "alpha gamma delta", "en", "t", 0),  # gap 1 (adjacent)
        (2, "gamma beta alpha", "en", "t", 0),  # wrong order
        (3, "alpha beta beta beta gamma", "en", "t", 0),  # gap 4
    ]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    )
    idx = build_index(docs, analyzer="punct_nostem", block_span=4, positional=True)

    def near(slop):
        return [r["docid"] for r in search_near(idx, ["alpha", "gamma"], slop=slop).collect()]

    assert near(1) == [1]
    assert near(2) == [0, 1]
    assert near(4) == [0, 1, 3]
    # slop=1 is exactly phrase search
    ph = [r["docid"] for r in search_phrase(idx, ["alpha", "gamma"]).collect()]
    assert near(1) == ph
    # three-term chain: every consecutive gap must satisfy the slop — doc 3
    # matches through its MIDDLE beta (alpha@0 → beta@2 → gamma@4)
    assert [
        r["docid"]
        for r in search_near(idx, ["alpha", "beta", "gamma"], slop=2).collect()
    ] == [0, 3]
    assert [
        r["docid"]
        for r in search_near(idx, ["alpha", "beta", "gamma"], slop=1).collect()
    ] == [0]
    idx.unpersist()


WARM_QUERIES = {
    "bm25": lambda idx: bm25_topk(idx, ["cat", "dog", "retrieval"], 5),
    "tfidf": lambda idx: search_tfidf(idx, ["cat", "dog"], 5),
    "keyword": lambda idx: search_keyword(idx, "dog"),
    "and": lambda idx: search_and(idx, ["cat", "dog"]),
    "or": lambda idx: search_or(idx, ["cat", "retrieval"]),
    "phrase": lambda idx: search_phrase(idx, "information retrieval"),
}


def _rows(df):
    return [tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in df.collect()]


@pytest.fixture(scope="module")
def warm_pair(corpus):
    cold = build_index(corpus, analyzer="porter", positional=True, block_span=4, compress=True)
    warm = cold.warm()
    yield cold, warm
    warm.unpersist()
    cold.unpersist()


@pytest.mark.parametrize("kind", sorted(WARM_QUERIES))
def test_warm_query_is_one_job_without_exchange(spark, warm_pair, kind):
    """On warm()'s block-range layout every query kind groups and orders on
    (block, docid) with no exchange, so it runs as exactly ONE Spark job,
    with the same rows as on the unwarmed index."""
    cold, warm = warm_pair
    want = _rows(WARM_QUERIES[kind](cold))
    assert want  # the query matches something
    sc = spark.sparkContext
    df = WARM_QUERIES[kind](warm)
    group = f"warm-{kind}"
    sc.setJobGroup(group, group)
    try:
        got = _rows(df)
    finally:
        sc.setJobGroup(None, None)
    assert got == want
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert query_exchanges(df) == [], df._jdf.queryExecution().executedPlan().toString()


def test_warm_deletes_drop_stamped_df(spark, corpus):
    """A warm index stamps each term's df onto its postings. Doc and term
    deletes change df, so they drop the stamped column and the serving
    view: scores then equal a fresh build over the live docs."""
    from pyspark.sql import functions as F

    from mini_search_engine_spark.index.deletes import apply_deletes
    from mini_search_engine_spark.index.merge import delete_terms

    def build(docs):
        return build_index(docs, analyzer="porter", positional=True, block_span=4, compress=True)

    idx = build(corpus)
    warm = idx.warm()
    assert warm.df_cache == {} and "df" in warm.postings.columns
    gone = apply_deletes(warm, spark.createDataFrame([(0,), (7,)], "docid long"))
    fresh = build(corpus.filter(~F.col("docid").isin(0, 7)))
    assert gone.serving_view is None and "df" not in gone.postings.columns
    for q in (["cat", "dog"], ["retrieval", "quick"]):
        assert _rows(bm25_topk(gone, q, 8)) == _rows(bm25_topk(fresh, q, 8))
        assert _rows(search_tfidf(gone, q, 8)) == _rows(search_tfidf(fresh, q, 8))
    dropped = delete_terms(warm, ["cat"])
    assert dropped.serving_view is None and dropped.df_cache is None
    assert bm25_topk(dropped, ["cat"], 5).collect() == []
    assert _rows(bm25_topk(dropped, ["cat", "dog"], 8)) == _rows(bm25_topk(idx, ["dog"], 8))
    for i in (warm, fresh, idx):
        i.unpersist(corpus=False)


def test_warm_unpersist_releases_every_cache(spark, warm_pair, tmp_path):
    """warm() decodes into a temporary cache on the way to its layout; the
    index it returns owns everything else, so unpersist() leaves no
    cached RDD and no view behind."""
    path = str(tmp_path / "idx")
    write_index(warm_pair[0], path)
    jsc = spark.sparkContext._jsc.sc()

    def cached():
        return {r.id() for r in jsc.getRDDStorageInfo()}

    before = cached()
    warm = read_index(spark, path).warm()
    assert cached() - before  # the layout and sidecar pins
    assert bm25_topk(warm, ["cat"], 3).collect()
    warm.unpersist()
    assert cached() == before
    assert warm.serving_view not in {t.name for t in spark.catalog.listTables()}


def test_warm_df_memo(corpus):
    """The warm index memoizes per-term dfs plain-Python for the callers
    that take df as a literal (the BM25 prune gate here): it starts empty,
    fills on use, negative-caches absent terms, answers identically to the
    cold path, and delete_terms drops it so deleted terms cannot resolve
    from it. bm25_topk and bm25_topk_batch read the stamped df instead and
    leave it untouched."""
    from mini_search_engine_spark.index.merge import delete_terms

    def top(rows):
        return [(r["docid"], round(r["score"], 9)) for r in rows.collect()]

    idx = build_index(corpus, analyzer="porter", block_span=4, compress=True)
    warm = idx.warm()
    assert warm.df_cache == {}
    cold = top(bm25_topk(idx, ["cat", "dog"], 5))
    assert top(bm25_topk(warm, ["cat", "dog"], 5)) == top(bm25_topk(warm, ["cat", "dog"], 5)) == cold
    assert warm.df_cache == {}

    def batch(i):
        return top(bm25_topk_batch(i, {"q": ["cat", "dog"]}, 5).orderBy("rank"))

    assert batch(warm) == batch(warm) == batch(idx) == cold
    assert warm.df_cache == {}  # batch reads the stamped df too

    def pruned(i, q):
        return top(bm25_topk(i, q, 5, prune=True))

    assert pruned(warm, ["cat", "dog"]) == pruned(warm, ["cat", "dog"]) == pruned(idx, ["cat", "dog"]) == cold
    assert warm.df_cache["cat"] > 0 and warm.df_cache["dog"] > 0
    assert pruned(warm, ["zzzunseen"]) == []
    assert 0 in warm.df_cache.values()  # absent term negative-cached
    deleted = delete_terms(warm, ["cat"])
    assert deleted.df_cache is None
    assert bm25_topk(deleted, ["cat"], 5).collect() == []
    warm.unpersist()
    idx.unpersist()


def test_batch_ltr_explain_share_one_template(spark, corpus):
    """bm25_topk_batch, ltr_features and bm25_explain fill bm25_topk's term
    score into SQL text run by InvertedIndex.query, the query vectors a
    literal: no weight table, so no broadcast, and on a warm index the
    batch is at most two jobs (the scoring pass, then the per-qid top-k
    window). Batch rows, the LTR bm25 feature and the explain contribution
    sums equal per-query bm25_topk on the cold index, warm or not. One qid
    carries the characters SQL and format strings treat specially."""
    from mini_search_engine_spark.search import bm25_explain, ltr_features

    queries = {
        "q_cat": ["cat", "dog", "cat"],
        "q_ir": ["information", "retrieval"],
        "q'{odd}\\": ["quick", "fox"],
        "q_none": ["zzznope"],
    }
    cold = build_index(corpus, analyzer="porter", block_span=4, compress=True)
    want = {
        qid: [(r["docid"], round(r["score"], 9)) for r in bm25_topk(cold, kws, 5).collect()]
        for qid, kws in queries.items()
    }
    warm = build_index(corpus, analyzer="porter", block_span=4, compress=True).warm()
    sc = spark.sparkContext
    sc.setJobGroup("batch-warm", "batch-warm")
    try:
        bm25_topk_batch(warm, queries, 5).collect()
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup("batch-warm")) <= 2
    for idx in (warm, cold):
        batch = bm25_topk_batch(idx, queries, 5)
        ltr = ltr_features(idx, queries)
        for df in (batch, ltr):
            df.collect()  # finalize AQE
            assert not [e for e in query_exchanges(df) if e.startswith("BroadcastExchange")]
        got: dict[str, list] = {}
        for r in sorted(batch.collect(), key=lambda r: (r["qid"], r["rank"])):
            got.setdefault(r["qid"], []).append((r["docid"], round(r["score"], 9)))
        assert got == {qid: rows for qid, rows in want.items() if rows}
        feats = {(r["qid"], r["docid"]): r["bm25"] for r in ltr.collect()}
        for qid, rows in want.items():
            for docid, score in rows:
                assert feats[(qid, docid)] == pytest.approx(score, abs=1e-9)
            sums: dict[int, float] = {}
            for r in bm25_explain(idx, queries[qid], [d for d, _ in rows]).collect():
                sums[r["docid"]] = sums.get(r["docid"], 0.0) + r["contribution"]
            assert sums == pytest.approx(dict(rows), abs=1e-5)
    warm.unpersist()
    cold.unpersist()


def test_bm25_fused_cold_single_job(spark, corpus):
    """On a warm serving index a BM25 query whose terms are NOT in the df
    memo runs as ONE Spark job (df comes stamped on the postings rows, so
    there is no termstats probe wave and no background memo fill), is
    score-identical to the unwarmed index, and stays one job on repeat."""
    ref = build_index(corpus, analyzer="porter", block_span=4, compress=True)
    want = [
        (r["docid"], round(r["score"], 9))
        for r in bm25_topk(ref, ["cat", "retrieval"], 5).collect()
    ]
    warm = build_index(corpus, analyzer="porter", block_span=4, compress=True).warm()
    assert warm.df_cache == {}
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(group):
        sc.setJobGroup(group, group)
        try:
            return [
                (r["docid"], round(r["score"], 9))
                for r in bm25_topk(warm, ["cat", "retrieval"], 5).collect()
            ]
        finally:
            sc.setJobGroup(None, None)

    assert run("bm25-cold") == want
    assert len(tracker.getJobIdsForGroup("bm25-cold")) == 1
    assert warm.df_cache == {}  # nothing filled it behind the query
    assert run("bm25-hot") == want
    assert len(tracker.getJobIdsForGroup("bm25-hot")) == 1
    ref.unpersist()
    warm.unpersist()


def test_compressed_roundtrip_index(corpus):
    idx = build_index(corpus, analyzer="porter", block_span=4, compress=True)
    rows = postings_with_term(idx).filter("term = 'cat'").collect()
    got = sorted((d, t) for r in rows for d, t in zip(r["docids"], r["tfs"]))
    assert got == [(0, 2), (2, 1), (7, 4)]
    assert ids(bm25_topk(idx, ["cat"], topk=3)) == [7, 0, 2]
    # warm (decode-once serving) index answers identically, pure JVM
    warm = idx.warm()
    assert not warm.compressed
    assert ids(bm25_topk(warm, ["cat"], topk=3)) == [7, 0, 2]
    assert ids(search_and(warm, ["cat", "dog"])) == [0, 2, 7]
    warm.unpersist()
    idx.unpersist()


def test_write_read_roundtrip(index, corpus, tmp_path, spark):
    path = str(tmp_path / "idx")
    write_index(index, path)
    idx2 = read_index(spark, path)
    assert idx2.n_docs == index.n_docs
    assert idx2.avgdl == pytest.approx(index.avgdl)
    assert ids(search_and(idx2, ["cat", "dog"])) == [0, 2, 7]
    assert ids(search_phrase(idx2, "information retrieval")) == [1, 3]


def test_write_index_modes(index, tmp_path, spark):
    """The meta.json sidecar goes through the Hadoop FileSystem API (same
    filesystem as the parquet) and honors the write mode like the
    dataframe writers do (ADVICE r1)."""
    import json
    import os

    path = str(tmp_path / "idx_modes")
    write_index(index, path)
    assert os.path.exists(f"{path}/meta.json")  # local fs → local file
    meta0 = json.load(open(f"{path}/meta.json"))
    # error: the parquet write raises before the sidecar is touched
    with pytest.raises(Exception):
        write_index(index, path, mode="error")
    assert json.load(open(f"{path}/meta.json")) == meta0
    # ignore: everything (including the sidecar) is left as-is
    write_index(index, path, mode="ignore")
    assert json.load(open(f"{path}/meta.json")) == meta0
    # overwrite: still a readable index
    write_index(index, path, mode="overwrite")
    assert read_index(spark, path).n_docs == index.n_docs


def test_sha_invariant(corpus, tiny_corpus):
    import hashlib

    got = {r["docid"]: r["sha"] for r in corpus.select("docid", "sha").collect()}
    for r in tiny_corpus.collect():
        assert got[r["doc_id"]] == hashlib.sha256(r["text"].encode()).hexdigest()


def test_local_blocks_build_matches_default(corpus, tiny_corpus):
    """A docid-ranged input and the same corpus in overlapping partitions
    build the same postings — the plain-Python analyzer's — and the same
    stats and rankings; blocks straddling partition edges may split into
    several rows per (term, block), which every consumer re-aggregates.
    The ignored ``local_blocks`` knob changes nothing."""
    texts = {r["doc_id"]: r["text"] for r in tiny_corpus.collect()}
    want = expected_posting_set(texts, "porter")
    ranged, overlapping = ranged_and_overlapping(corpus)
    a = build_index(ranged, analyzer="porter", block_span=4, compress=True)
    b = build_index(overlapping, analyzer="porter", block_span=4, compress=True)
    c = build_index(ranged, analyzer="porter", block_span=4, compress=True, local_blocks=True)
    assert posting_set(a) == posting_set(b) == posting_set(c) == want
    # stats and a ranked query agree too
    assert a.n_docs == b.n_docs == len(texts)
    assert a.avgdl == pytest.approx(b.avgdl)
    assert a.avgdl == pytest.approx(sum(p[1] for v in want.values() for p in v) / len(texts))
    dfa = {r["term"]: r["df"] for r in a.termstats.collect()}
    dfb = {r["term"]: r["df"] for r in b.termstats.collect()}
    assert dfa == dfb == {t: len(v) for t, v in want.items()}
    qa = [(r["docid"], round(r["score"], 9)) for r in bm25_topk(a, ["cat", "dog"], 5).collect()]
    qb = [(r["docid"], round(r["score"], 9)) for r in bm25_topk(b, ["cat", "dog"], 5).collect()]
    assert qa == qb

    # flush_rows spill: force multiple emits per partition; split rows per
    # (term, block) must re-aggregate to the identical posting set
    from dataclasses import replace

    from mini_search_engine_spark.index.build import _fused_blocked_postings

    spilled = _fused_blocked_postings(ranged, block_span=4, compress=True, flush_rows=3)
    assert posting_set(replace(a, postings=spilled)) == want
    for idx in (a, b, c):
        idx.unpersist(corpus=False)


def test_local_blocks_positional_matches_default(corpus, tiny_corpus):
    """POSITIONAL builds: positions (C4-encoded when compressed) equal the
    plain-Python analyzed-stream indices on ranged and overlapping input,
    and phrase results agree."""
    texts = {r["doc_id"]: r["text"] for r in tiny_corpus.collect()}
    want = expected_posting_set(texts, "porter", positional=True)
    ranged, overlapping = ranged_and_overlapping(corpus)
    built = [
        build_index(src, analyzer="porter", block_span=4, positional=True, compress=comp)
        for src in (ranged, overlapping)
        for comp in (True, False)
    ]
    for idx in built:
        assert posting_set(idx) == want
        assert [r["docid"] for r in search_phrase(idx, "information retrieval").collect()] == [1, 3]


def test_term_filter_pushed_to_parquet_scan(index, tmp_path, spark):
    """The reference reads the dictionary before touching postings
    (InvertedIndexManager.java:757-766); the Spark analog is the term-ID
    predicate reaching the parquet scan (PushedFilters) so row groups are
    pruned before the decode UDF sees a byte. Postings are tid-encoded:
    the pushed filter is an int In/EqualTo on tid (the id is hashed
    plain-Python — no job resolves query terms)."""
    from mini_search_engine_spark.index.termid import term_id_py

    path = str(tmp_path / "idx_pushdown")
    write_index(index, path)
    idx = read_index(spark, path)
    from mini_search_engine_spark.search.boolean import _postings_for

    tid = term_id_py("cat")
    plan = _postings_for(idx, ["cat"])._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and (
        f"In(tid, [{tid}])" in plan or f"EqualTo(tid,{tid})" in plan
    ), plan


def test_fused_build_plan_has_no_exchange(corpus, tiny_corpus):
    """The build adds NO shuffle over docid-ranged input — documents go in,
    posting blocks come out of one mapInArrow stage — and exactly one
    range exchange on docid over overlapping input; both hold the
    plain-Python postings."""
    from mini_search_engine_spark.index.build import _docid_ranged, _fused_blocked_postings

    def build_plan(docs):
        src, n_docs = _docid_ranged(docs)
        assert n_docs == 8
        # a span no other test builds with: a cached build of the same plan
        # would stand in for it as one opaque InMemoryTableScan
        postings = _fused_blocked_postings(src, block_span=3, compress=True)
        assert "MapInArrow" in postings._jdf.queryExecution().executedPlan().toString()
        return build_exchanges(postings, docs)

    ranged, overlapping = ranged_and_overlapping(corpus)
    assert build_plan(ranged) == []
    added = build_plan(overlapping)
    assert len(added) == 1 and "rangepartitioning(docid" in added[0], added
    texts = {r["doc_id"]: r["text"] for r in tiny_corpus.collect()}
    for src in (ranged, overlapping):
        idx = build_index(src, analyzer="porter", block_span=4, compress=True)
        assert posting_set(idx) == expected_posting_set(texts, "porter")
        idx.unpersist(corpus=False)


def test_bm25_plan_has_no_broadcast_exchange(index):
    """Query-term weights are folded into the scoring expression as
    literals; the exact BM25 plan must not build a broadcast exchange
    (measured ~0.2-0.5 s of fixed latency per job)."""
    plan = (
        bm25_topk(index, ["cat", "dog"], 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_null_content_builds_as_empty_doc(spark):
    """NULL text canonicalizes to an empty document (dl 0, no postings)
    whether or not the input partitions are docid ranges — the reference
    requires non-null text; the engine degrades gracefully instead of
    crashing an executor."""
    rows = [
        (0, "cat dog", "en", "t", 0),
        (1, None, "en", "t", 0),
        (2, "dog bird", "en", "t", 0),
    ]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    )
    want = expected_posting_set({r[0]: r[1] for r in rows}, "porter")
    for src in ranged_and_overlapping(docs, 2):
        idx = build_index(src, analyzer="porter", block_span=4)
        dls = {r["docid"]: r["dl"] for r in idx.doclens.collect()}
        assert dls == {0: 2, 1: 0, 2: 2}
        assert posting_set(idx) == want
        assert ids(search_keyword(idx, "dog")) == [0, 2]
        assert idx.n_docs == 3


def test_local_blocks_non_porter_path(spark):
    """The Catalyst-tokenized analyzers enter the same fused kernel as a
    JVM token list: positional postings equal the plain-Python analyzer's
    on ranged and overlapping input, compressed or not."""
    texts = {
        i: f"Alpha beta doc{i % 3}, getUserName" + (" beta_alpha" * (i % 2))
        for i in range(10)
    }
    docs = load_corpus(
        spark.createDataFrame(
            [(i, t, "en", "t", 0) for i, t in texts.items()],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    )
    ranged, overlapping = ranged_and_overlapping(docs)
    for analyzer in ("naive", "punct_nostem", "code"):
        want = expected_posting_set(texts, analyzer, positional=True)
        for src, comp in ((ranged, False), (overlapping, True)):
            idx = build_index(
                src, analyzer=analyzer, block_span=4, positional=True, compress=comp
            )
            assert posting_set(idx) == want, (analyzer, comp)
            dls = {r["docid"]: r["dl"] for r in idx.doclens.collect()}
            assert dls == {p[0]: p[2] for v in want.values() for p in v}
            idx.unpersist(corpus=False)


def test_termid_collision_detector(spark, corpus):
    """assert_no_tid_collisions passes on a real vocabulary and fires on a
    manufactured collision."""
    from mini_search_engine_spark.index.termid import assert_no_tid_collisions

    idx = build_index(corpus, analyzer="porter", block_span=4)
    assert_no_tid_collisions(idx.termstats)  # no raise
    bad = spark.createDataFrame(
        [("a", 1, 1), ("b", 1, 1)], "term string, tid long, df long"
    )
    with pytest.raises(RuntimeError, match="collision"):
        assert_no_tid_collisions(bad)
    idx.unpersist()


def test_fused_term_column_is_sparse(corpus, tiny_corpus):
    """The fused kernel emits each term string AT MOST once per partition
    (the sparse dictionary column) — string bytes out of the kernel are
    O(vocabulary), not O(posting rows) — while termstats still recovers
    every term, with the plain-Python df, on ranged and overlapping input."""
    from pyspark.sql import functions as F

    from mini_search_engine_spark.index.build import _docid_ranged, _fused_blocked_postings

    texts = {r["doc_id"]: r["text"] for r in tiny_corpus.collect()}
    want_df = {t: len(v) for t, v in expected_posting_set(texts, "porter").items()}
    for src in ranged_and_overlapping(corpus, 2):
        raw = _fused_blocked_postings(_docid_ranged(src)[0], block_span=2, compress=True)
        rows = raw.count()
        nonnull = raw.filter(F.col("term").isNotNull()).count()
        vocab = raw.select("tid").distinct().count()
        assert nonnull <= 2 * vocab  # ≤ vocab × n_partitions
        assert nonnull < rows  # actually sparse (blocks repeat tids)
        # per (partition-run of) tid the dictionary is complete:
        assert raw.filter(F.col("term").isNotNull()).select("tid").distinct().count() == vocab
        idx = build_index(src, analyzer="porter", block_span=2, compress=True)
        assert {r["term"]: r["df"] for r in idx.termstats.collect()} == want_df
        idx.unpersist(corpus=False)


def test_corpus_cache_released_and_docids_deterministic(spark):
    """VERDICT r3 item 2: an input_hint-shaped load_corpus must not pin its
    exchange cache for the session lifetime — retiring the index built from
    it (idx.unpersist()) releases it. And the docid rule survives the
    release: re-executing the plan after the cache is gone reproduces the
    IDENTICAL ids (hash partitioning is a pure row function, unlike
    repartitionByRange's per-execution bound sampling)."""
    from mini_search_engine_spark.corpus import release_corpus_cache, synthesize_source_corpus

    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    docs = load_corpus(
        synthesize_source_corpus(spark, n_docs=300, seed=3), num_partitions=4
    )
    ids1 = {
        (r["repo"], r["path"]): r["docid"]
        for r in docs.select("repo", "path", "docid").collect()
    }
    assert sorted(ids1.values()) == list(range(300))  # dense 0..N-1
    idx = build_index(docs, analyzer="porter", block_span=64)
    assert idx.n_docs == 300
    assert sc._jsc.getPersistentRDDs().size() > before  # caches live while in use
    idx.unpersist()
    assert sc._jsc.getPersistentRDDs().size() == before  # incl. the corpus exchange
    assert release_corpus_cache(docs) is True  # idempotent double-release is safe
    # deterministic re-execution: same docids with no cache at all
    ids2 = {
        (r["repo"], r["path"]): r["docid"]
        for r in docs.select("repo", "path", "docid").collect()
    }
    assert ids1 == ids2


def test_snippets_and_serving_page(spark):
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.index.build import build_index
    from mini_search_engine_spark.search import search_with_snippets, snippets

    rows = [
        (0, "alpha beta spark gamma delta epsilon zeta", "en", "t", 0),
        (1, "spark at the very start of this document", "en", "t", 0),
        (2, "no hits here whatsoever", "en", "t", 0),
        (3, "tail words then merge", "en", "t", 0),
    ]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    ).cache()

    out = {r["docid"]: r for r in snippets(docs, ["spark", "merge"], width=2).collect()}
    assert set(out) == {0, 1, 3}
    # centered window, highlighted hit
    assert out[0]["pos"] == 3 and out[0]["snippet"] == "alpha beta [spark] gamma delta"
    # clamped at the left edge; snippet shows the ANALYZED stream (what the
    # index matched on), so stopwords are gone
    assert out[1]["pos"] == 1 and out[1]["snippet"] == "[spark] start document"
    # clamped at the right edge ("the" is a stopword -> analyzed stream drops it)
    assert out[3]["snippet"].endswith("[merge]")

    idx = build_index(docs, analyzer="punct_nostem")
    page = search_with_snippets(idx, docs, "spark merge", k=2, width=2)
    got = page.collect()
    assert len(got) == 2
    assert all(r["snippet"] and ("[spark]" in r["snippet"] or "[merge]" in r["snippet"]) for r in got)
    assert got[0]["score"] >= got[1]["score"]


def test_multi_field_bm25(spark):
    """Path-field boost: a term in the (code-analyzed) path outranks the
    same term buried in a longer body; weights reorder results."""
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.index.build import build_index
    from mini_search_engine_spark.search import bm25_topk, multi_field_bm25

    # (docid, path, body)
    raw = [
        (0, "src/index/FlushWriter.java", "unrelated body text entirely"),
        (1, "src/util/Strings.java", "flush appears once in this longer body of words"),
        (2, "docs/readme.md", "nothing relevant"),
    ]

    mk = lambda texts: load_corpus(
        spark.createDataFrame(
            [(d, t, "en", "t", 0) for d, t in texts],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    )
    paths = mk([(r[0], r[1]) for r in raw])
    bodies = mk([(r[0], r[2]) for r in raw])

    idx_path = build_index(paths, analyzer="code")  # FlushWriter -> [flush, writer]
    idx_body = build_index(bodies, analyzer="punct_nostem")

    body_only = [r["docid"] for r in bm25_topk(idx_body, ["flush"], 3).collect()]
    assert body_only == [1]  # body index alone can't see the path hit

    combined = [
        r["docid"]
        for r in multi_field_bm25([(idx_path, 3.0), (idx_body, 1.0)], ["flush"], 3).collect()
    ]
    assert combined[0] == 0 and set(combined) == {0, 1}

    # with the boost inverted toward the body, the body hit wins
    flipped = [
        r["docid"]
        for r in multi_field_bm25([(idx_path, 0.1), (idx_body, 5.0)], ["flush"], 3).collect()
    ]
    assert flipped[0] == 1


def test_hybrid_rrf(spark):
    """RRF fusion vs a plain-python reference; a doc ranked mid-list by
    BOTH retrievers beats docs that only one retriever found."""
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.index.build import build_index
    from mini_search_engine_spark.search import hybrid_search, rrf_fuse

    rows = [
        (0, "spark merge spark merge spark", "en", "t", 0),  # lexical champion
        (1, "spark merge and other words here", "en", "t", 0),  # both lists
        (2, "unrelated text entirely", "en", "t", 0),  # vector champion
        (3, "spark appears once", "en", "t", 0),
    ]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    )
    idx = build_index(docs, analyzer="punct_nostem")
    # embeddings: doc 2 closest to the query vec, doc 1 second, others far
    emb = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [0.7, 0.7]), (2, [1.0, 0.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    from pyspark.sql import functions as F

    out = hybrid_search(idx, emb, ["spark", "merge"], [1.0, 0.0], k_each=3, topk=4)
    got = [(r["docid"], r["rrf"]) for r in out.collect()]

    # python reference: lex ranks (bm25 desc) = [0,1,3]; vec ranks = [2,1,0]
    lex = {0: 1, 1: 2, 3: 3}
    vec = {2: 1, 1: 2, 0: 3}
    exp = {}
    for d in set(lex) | set(vec):
        exp[d] = round(
            (1 / (60 + lex[d]) if d in lex else 0) + (1 / (60 + vec[d]) if d in vec else 0), 6
        )
    exp_order = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == exp_order, (got, exp_order)
    # a doc in BOTH lists (1: rank 2+2) outranks every doc in only one
    # list (2: vec rank 1; 3: lex rank 3)
    order = [d for d, _ in got]
    assert order.index(1) < order.index(2) and order.index(1) < order.index(3)

    # rrf_fuse with one ranking degenerates to that ranking's order
    one = rrf_fuse([(out.select("docid", F.col("rrf").alias("score")), "score")], topk=2)
    assert [r["docid"] for r in one.collect()] == [g[0] for g in got[:2]]


def test_facet_counts(spark):
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.search import facet_counts, search_keyword

    rows = [
        (0, "spark things", "en", "web", 0),
        (1, "spark stuff", "en", "web", 0),
        (2, "spark more", "de", "web", 0),
        (3, "nothing here", "en", "web", 0),
        (4, "spark encore", "fr", "book", 0),
    ]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    ).cache()
    idx = build_index(docs, analyzer="punct_nostem")
    got = [
        (r["lang"], r["n_docs"])
        for r in facet_counts(search_keyword(idx, "spark"), docs, ["lang"]).collect()
    ]
    assert got == [("en", 2), ("de", 1), ("fr", 1)]  # count desc, value asc
    with pytest.raises(ValueError):
        facet_counts(search_keyword(idx, "spark"), docs, [])


def test_more_like_this(spark):
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.search import distinctive_terms, more_like_this

    rows = [
        (0, "zebra quagga zebra okapi common common common", "en", "t", 0),
        (1, "zebra quagga okapi herd common", "en", "t", 0),  # shares the rare terms
        (2, "common common common words only", "en", "t", 0),  # shares only the common one
        (3, "entirely unrelated content common", "en", "t", 0),  # df(common)=4 -> near-zero idf
    ]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    ).cache()
    idx = build_index(docs, analyzer="punct_nostem")

    # distinctive terms of doc 0: rare 'zebra' (tf 2) outranks frequent 'common'
    terms = distinctive_terms(idx, rows[0][1], max_terms=2)
    assert terms[0] == "zebra" and "common" not in terms

    out = [r["docid"] for r in more_like_this(idx, docs, 0, k=3, max_terms=3).collect()]
    assert out[0] == 1  # the rare-term sharer is the most similar
    assert 0 not in out  # source excluded
    with pytest.raises(ValueError):
        more_like_this(idx, docs, 999)


def test_index_stats(index):
    from mini_search_engine_spark.index.build import index_stats

    r = index_stats(index).collect()[0]
    assert r["n_docs"] == 8
    assert r["max_df"] == 5  # 'dog' in 5 docs (hand-derived fixture fact)
    assert r["total_tokens"] == sum(
        x["dl"] for x in index.doclens.collect()
    ) and r["total_postings"] == sum(x["df"] for x in index.termstats.collect())
    assert abs(r["avgdl"] - r["total_tokens"] / 8) < 1e-6


def test_bm25_page_keyset_pagination(index):
    """Pages of 2 chained via the search_after cursor must concatenate to
    exactly the single top-k list (no gap, no overlap), and the paged plan
    must stay a TakeOrderedAndProject (constant per-page cost — never a
    global sort or an offset-discard)."""
    from mini_search_engine_spark.search import bm25_page

    full = [
        (r["docid"], r["score"]) for r in bm25_topk(index, ["cat", "dog"], 10).collect()
    ]
    assert len(full) >= 5  # corpus has ≥5 cat/dog docs
    paged, cursor = [], None
    for _ in range(4):
        page_df = bm25_page(index, ["cat", "dog"], page_size=2, after=cursor)
        page = [(r["docid"], r["score"]) for r in page_df.collect()]
        if not page:
            break
        paged.extend(page)
        cursor = (page[-1][1], page[-1][0])
    assert paged == full[: len(paged)] and len(paged) >= 5
    plan = (
        bm25_page(index, ["cat", "dog"], 2, after=(full[1][1], full[1][0]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_bm25_topk_batch_matches_per_query(spark, index):
    """Batch scoring must be score- and rank-identical to N separate
    bm25_topk calls, while spending strictly fewer Spark jobs than the
    sequential protocol (the whole point: one wave for the batch)."""
    from mini_search_engine_spark.search import bm25_topk_batch

    queries = {
        "q_cat": ["cat", "dog"],
        "q_ir": ["information", "retrieval"],
        "q_fox": ["quick", "fox"],
        "q_none": ["zzznope"],
    }
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    sc.setJobGroup("bm25-batch", "batch")
    got = bm25_topk_batch(index, queries, topk=5).collect()
    sc.setJobGroup(None, None)
    jobs_batch = len(tracker.getJobIdsForGroup("bm25-batch"))

    by_qid: dict[str, list] = {}
    for r in sorted(got, key=lambda r: (r["qid"], r["rank"])):
        by_qid.setdefault(r["qid"], []).append((r["docid"], round(r["score"], 9)))

    sc.setJobGroup("bm25-seq", "sequential")
    exp = {
        qid: [
            (r["docid"], round(r["score"], 9))
            for r in bm25_topk(index, kws, 5).collect()
        ]
        for qid, kws in queries.items()
    }
    sc.setJobGroup(None, None)
    jobs_seq = len(tracker.getJobIdsForGroup("bm25-seq"))

    assert by_qid.get("q_cat") == exp["q_cat"] and len(exp["q_cat"]) > 1
    assert by_qid.get("q_ir") == exp["q_ir"]
    assert by_qid.get("q_fox") == exp["q_fox"]
    assert "q_none" not in by_qid and exp["q_none"] == []
    # ranks are 1..k dense per qid
    assert [r["rank"] for r in sorted(got, key=lambda r: (r["qid"], r["rank"]))
            if r["qid"] == "q_cat"] == list(range(1, len(by_qid["q_cat"]) + 1))
    assert jobs_batch < jobs_seq, (jobs_batch, jobs_seq)


def test_multi_field_bm25_dismax(spark):
    """Dis-max identities: tie_breaker=1 ≡ the sum mode on every doc;
    tie_breaker=0 = the single best field; a doc matching in BOTH fields
    weakly does not outrank one strong single-field hit at tb=0."""
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.index.build import build_index
    from mini_search_engine_spark.search import (
        multi_field_bm25,
        multi_field_bm25_dismax,
    )

    mk = lambda texts: load_corpus(
        spark.createDataFrame(
            [(d, t, "en", "t", 0) for d, t in texts],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    )
    # doc 0: strong title hit only; doc 1: weak hit in BOTH fields
    titles = mk([(0, "flush flush flush"), (1, "flush padding words here")])
    bodies = mk([(0, "unrelated"), (1, "flush hidden in a long body of text")])
    fields = [(build_index(titles, analyzer="punct_nostem"), 1.0),
              (build_index(bodies, analyzer="punct_nostem"), 1.0)]

    from mini_search_engine_spark.search.ranking import bm25_scores

    per_field = []
    for idx, w in fields:
        per_field.append(
            {r["docid"]: w * r["score"] for r in bm25_scores(idx, ["flush"]).collect()}
        )
    docs_all = set().union(*per_field)
    summed = {r["docid"]: r["score"] for r in multi_field_bm25(fields, ["flush"], None).collect()}
    tb1 = {r["docid"]: r["score"] for r in multi_field_bm25_dismax(fields, ["flush"], None, tie_breaker=1.0).collect()}
    tb0 = {r["docid"]: r["score"] for r in multi_field_bm25_dismax(fields, ["flush"], None, tie_breaker=0.0).collect()}
    tb3 = {r["docid"]: r["score"] for r in multi_field_bm25_dismax(fields, ["flush"], None, tie_breaker=0.3).collect()}
    assert set(summed) == set(tb1) == set(tb0) == docs_all == {0, 1}
    for d in docs_all:
        fs = [pf.get(d, None) for pf in per_field]
        fs = [x for x in fs if x is not None]
        assert abs(summed[d] - sum(fs)) < 1e-9
        assert abs(tb1[d] - sum(fs)) < 1e-9  # tie_breaker=1 ≡ sum mode
        assert abs(tb0[d] - max(fs)) < 1e-9  # tie_breaker=0 = best field
        assert abs(tb3[d] - (max(fs) + 0.3 * (sum(fs) - max(fs)))) < 1e-9
    # doc 1 matches in both fields, so blending strictly separates modes
    assert tb0[1] < tb3[1] < tb1[1]
