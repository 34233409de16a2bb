"""percolate (reverse search), relevance_metrics (nDCG/MRR/P@k),
index_diff (vocabulary drift), champion_index (static pruning) —
hand-derived goldens."""

import math

import pytest

from mini_search_engine_spark.corpus import load_corpus
from mini_search_engine_spark.index.build import build_index, index_diff
from mini_search_engine_spark.index.prune import champion_index
from mini_search_engine_spark.search import (
    bm25_topk,
    percolate,
    relevance_metrics,
    search_keyword,
)


def _corpus(spark, texts):
    rows = [(i, t, "en", "t", len(t)) for i, t in texts.items()]
    return load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    )


def test_percolate_and_semantics(spark):
    docs = _corpus(
        spark, {0: "apple banana", 1: "banana", 2: "apple cherry banana apple"}
    )
    queries = spark.createDataFrame(
        [(1, "apple banana"), (2, "banana"), (3, "durian")], "qid long, query string"
    )
    got = {
        (r["docid"], r["qid"]): (r["matched"], r["nterms"])
        for r in percolate(docs, queries, analyzer="punct_nostem").collect()
    }
    assert got == {
        (0, 1): (2, 2),
        (2, 1): (2, 2),
        (0, 2): (1, 1),
        (1, 2): (1, 1),
        (2, 2): (1, 1),
    }
    # min_should relaxation: 'apple durian' matches any doc with ≥1 term
    q2 = spark.createDataFrame([(9, "apple durian")], "qid long, query string")
    part = {
        r["docid"]
        for r in percolate(docs, q2, analyzer="punct_nostem", min_should=1).collect()
    }
    assert part == {0, 2}
    assert percolate(docs, q2, analyzer="punct_nostem").count() == 0  # full AND


def test_relevance_metrics_hand(spark):
    run = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 20, 2), ("q1", 30, 3), ("q2", 10, 1), ("q2", 20, 2)],
        "qid string, docid long, rank long",
    )
    qrels = spark.createDataFrame(
        [("q1", 20, 2), ("q1", 99, 1), ("q2", 77, 1)],
        "qid string, docid long, grade int",
    )
    got = {r["qid"]: r.asDict() for r in relevance_metrics(run, qrels, k=3).collect()}
    # q1: one hit (doc 20, grade 2, rank 2)
    dcg = (2**2 - 1) / math.log2(3)
    idcg = (2**2 - 1) / math.log2(2) + (2**1 - 1) / math.log2(3)
    q1 = got["q1"]
    assert q1["n_rel"] == 2
    assert abs(q1["p_at_k"] - 1 / 3) < 1e-9
    assert abs(q1["recall_at_k"] - 0.5) < 1e-9
    assert abs(q1["rr"] - 0.5) < 1e-9
    assert abs(q1["ndcg_at_k"] - dcg / idcg) < 1e-9
    # q2: no relevant retrieved → zeros, not NULLs
    q2 = got["q2"]
    assert (q2["p_at_k"], q2["recall_at_k"], q2["rr"], q2["ndcg_at_k"]) == (0.0, 0.0, 0.0, 0.0)
    assert q2["n_rel"] == 1


def test_index_diff_statuses(spark):
    old = build_index(
        _corpus(spark, {0: "apple banana", 1: "cherry kiwi"}),
        analyzer="punct_nostem",
        block_span=4,
    )
    new = build_index(
        _corpus(spark, {0: "apple banana", 1: "cherry cherry banana", 2: "durian apple"}),
        analyzer="punct_nostem",
        block_span=4,
    )
    got = {
        r["term"]: (r["df_old"], r["df_new"], r["delta"], r["status"])
        for r in index_diff(old, new).collect()
    }
    assert got == {
        "apple": (1, 2, 1, "grown"),
        "banana": (1, 2, 1, "grown"),
        "cherry": (1, 1, 0, "same"),
        "kiwi": (1, 0, -1, "removed"),
        "durian": (0, 1, 1, "added"),
    }


@pytest.fixture(scope="module")
def champ_setup(spark):
    texts = {
        0: "apple apple apple",        # apple tf 3 — apple's champion
        1: "apple banana",             # apple tf 1, banana tf 1
        2: "apple banana banana",      # banana tf 2 — banana's champion
        3: "cherry",
    }
    idx = build_index(_corpus(spark, texts), analyzer="punct_nostem", block_span=2)
    return idx, champion_index(idx, n_per_term=1)


def test_champion_keeps_top_tf_posting(champ_setup):
    idx, tier = champ_setup
    assert {r["docid"] for r in search_keyword(tier, "apple").collect()} == {0}
    assert {r["docid"] for r in search_keyword(tier, "banana").collect()} == {2}
    # surviving docs score EXACTLY as on the full index (global df/avgdl)
    full = {r["docid"]: r["score"] for r in bm25_topk(idx, ["apple"], topk=10).collect()}
    champ = {r["docid"]: r["score"] for r in bm25_topk(tier, ["apple"], topk=10).collect()}
    assert set(champ) == {0}
    assert abs(champ[0] - full[0]) < 1e-12
    # sidecar stats are shared, not recomputed
    assert tier.n_docs == idx.n_docs and tier.avgdl == idx.avgdl


def test_champion_block_stats_consistent(champ_setup):
    _, tier = champ_setup
    for r in tier.postings.collect():
        assert r["n"] == len(r["docids"]) == len(r["tfs"]) == len(r["dls"])
        assert r["min_docid"] == r["docids"][0] and r["max_docid"] == r["docids"][-1]
        assert r["max_tf"] == max(r["tfs"]) and r["min_dl"] == min(r["dls"])
        assert r["docids"] == sorted(r["docids"])


def test_champion_index_single_exchange(champ_setup):
    """champion_index is one window + one regroup INSIDE the same tid
    partitioning: hash-partitioning on tid satisfies the (tid, block)
    grouping, so the TRANSFORM adds exactly one shuffle over whatever the
    source postings plan already contains (here the un-materialized build
    plan), and the per-term cap runs as WindowGroupLimit (partial rank
    pushdown before the exchange). Fresh index: executed DataFrames report
    AQE-final plan strings whose Exchange counts aren't comparable."""
    spark = champ_setup[0].postings.sparkSession
    idx = build_index(
        _corpus(spark, {0: "apple apple", 1: "apple banana"}),
        analyzer="punct_nostem",
        block_span=2,
    )
    tier = champion_index(idx, n_per_term=1)

    def n_ex(df):
        return df._jdf.queryExecution().executedPlan().toString().count(
            "Exchange hashpartitioning"
        )

    plan = tier.postings._jdf.queryExecution().executedPlan().toString()
    assert n_ex(tier.postings) - n_ex(idx.postings) == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_relevance_metrics_randomized_parity(spark):
    """200-row randomized run/qrels (fixed seed) vs a from-scratch pure
    Python implementation — one Spark job, all four metrics + n_rel."""
    import numpy as np

    rng = np.random.RandomState(42)
    run_rows, qrels_rows = [], []
    for q in range(20):
        qid = f"q{q}"
        docs = rng.choice(1000, size=10, replace=False)
        for rank, d in enumerate(docs, start=1):
            run_rows.append((qid, int(d), rank))
        rel_docs = rng.choice(1000, size=rng.randint(0, 30), replace=False)
        for d in rel_docs:
            qrels_rows.append((qid, int(d), int(rng.randint(1, 4))))
    run = spark.createDataFrame(run_rows, "qid string, docid long, rank long")
    qrels = spark.createDataFrame(qrels_rows, "qid string, docid long, grade int")
    got = {r["qid"]: r.asDict() for r in relevance_metrics(run, qrels, k=10).collect()}

    gr = {}
    for qid, d, g in qrels_rows:
        gr.setdefault(qid, {})[d] = g
    for q in range(20):
        qid = f"q{q}"
        mine = [(r, gr.get(qid, {}).get(d, 0)) for (qq, d, r) in run_rows if qq == qid]
        hits = sum(1 for _, g in mine if g > 0)
        dcg = sum((2**g - 1) / math.log2(r + 1) for r, g in mine)
        rr = max((1.0 / r for r, g in mine if g > 0), default=0.0)
        rel = sorted(
            ((g, d) for d, g in gr.get(qid, {}).items()), key=lambda x: (-x[0], x[1])
        )[:10]
        idcg = sum((2**g - 1) / math.log2(i + 2) for i, (g, _) in enumerate(rel))
        n_rel = len(gr.get(qid, {}))
        o = got[qid]
        assert abs(o["p_at_k"] - hits / 10) < 1e-9, qid
        assert abs(o["recall_at_k"] - (hits / n_rel if n_rel else 0.0)) < 1e-9, qid
        assert abs(o["rr"] - rr) < 1e-9, qid
        assert abs(o["ndcg_at_k"] - (dcg / idcg if idcg > 0 else 0.0)) < 1e-9, qid
        assert o["n_rel"] == n_rel, qid


def test_macro_metrics_matches_per_query_means(spark):
    from mini_search_engine_spark.search import macro_metrics, relevance_metrics

    run = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 20, 2), ("q2", 10, 1), ("q3", 5, 1)],
        "qid string, docid long, rank long",
    )
    qrels = spark.createDataFrame(
        [("q1", 20, 2), ("q2", 99, 1), ("q3", 5, 3)],
        "qid string, docid long, grade int",
    )
    per_q = relevance_metrics(run, qrels, k=3).collect()
    got = macro_metrics(run, qrels, k=3).collect()[0]
    assert got["n_queries"] == 3
    for col, out in [("p_at_k", "mean_p_at_k"), ("recall_at_k", "mean_recall_at_k"),
                     ("rr", "mrr"), ("ndcg_at_k", "mean_ndcg_at_k")]:
        exp = sum(r[col] for r in per_q) / 3
        assert abs(got[out] - exp) < 1e-12, col


def test_significant_terms_hand(spark):
    from mini_search_engine_spark.search import significant_terms

    texts = {
        0: "kafka stream kafka",   # fg
        1: "kafka topic",          # fg
        2: "apple pie",            # bg only
        3: "apple kafka",          # bg only
    }
    docs = _corpus(spark, texts)
    idx = build_index(docs, analyzer="punct_nostem", block_span=4)
    fg = spark.createDataFrame([(0,), (1,)], "docid long")
    got = {
        r["term"]: (r["fg_df"], r["bg_df"], r["score"])
        for r in significant_terms(idx, fg, topk=10, min_fg_df=2).collect()
    }
    # only 'kafka' has fg_df >= 2: fg 2/2 docs vs bg 3/4 docs
    import math

    assert list(got) == ["kafka"]
    assert got["kafka"][:2] == (2, 3)
    assert abs(got["kafka"][2] - round(math.log((2 / 2) / (3 / 4)), 6)) < 1e-9
    # min_fg_df=1 admits the singles; 'apple' (bg-heavy, fg-absent) never appears
    all_terms = {r["term"] for r in significant_terms(idx, fg, topk=10, min_fg_df=1).collect()}
    assert "apple" not in all_terms and {"stream", "topic"} <= all_terms
    # empty foreground → empty frame with the right schema
    empty = significant_terms(idx, spark.createDataFrame([], "docid long"), topk=5)
    assert empty.count() == 0 and empty.columns == ["term", "fg_df", "bg_df", "score"]


def test_champion_warmed_cold_terms_use_global_df(champ_setup):
    """warm() gives the champion tier a df memo (df_cache={}), making every
    first-seen term 'cold'. The fused-cold path recovers df by summing
    posting counts — on a PRUNED tier that is the capped df and would
    inflate idf (ADVICE r4). Pruned indexes must route to the global
    termstats probe, so warmed-champion scores equal full-index scores on
    first ask AND on repeat (the async memo must not change answers)."""
    idx, tier = champ_setup
    assert tier.pruned is True
    warm = tier.warm()
    try:
        full = {r["docid"]: r["score"] for r in bm25_topk(idx, ["apple"], topk=10).collect()}
        first = {r["docid"]: r["score"] for r in bm25_topk(warm, ["apple"], topk=10).collect()}
        again = {r["docid"]: r["score"] for r in bm25_topk(warm, ["apple"], topk=10).collect()}
        assert set(first) == {0} and set(again) == {0}
        assert abs(first[0] - full[0]) < 1e-12, (first, full)
        assert abs(again[0] - full[0]) < 1e-12, (again, full)
    finally:
        warm.unpersist(corpus=False)


def test_doc_term_sets_matches_tokenize_docs(spark):
    """doc_term_sets (the fused within-row term-set kernel percolation
    routes through) must agree with tokenize_docs' distinct terms per doc
    for every analyzer path, including zero-term and unicode docs."""
    from mini_search_engine_spark.index.build import doc_term_sets, tokenize_docs

    docs = _corpus(
        spark,
        {
            0: "Apple banana! the apple;  cherry",
            1: "",
            2: "the of and",  # all stopwords -> empty
            3: "İstanbul Σίσυφος ΣΊΣΥΦΟΣ running runs",
            4: "x" * 5 + "\t spark\x01merge  spark",
        },
    )
    for analyzer in ("porter", "punct_nostem", "naive", "code"):
        ref = {}
        for r in tokenize_docs(docs, analyzer).collect():
            ref.setdefault(r["docid"], set()).add(r["term"])
        got = {
            r["docid"]: set(r["terms"])
            for r in doc_term_sets(docs, analyzer).collect()
        }
        # every doc appears, zero-term docs as empty sets
        assert set(got) == {0, 1, 2, 3, 4}, analyzer
        for d in got:
            assert got[d] == ref.get(d, set()), (analyzer, d, got[d], ref.get(d))
        # within-row kernel: no exchange anywhere in the plan
        plan = (
            doc_term_sets(docs, analyzer)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, (analyzer, plan)


def test_percolate_join_fallback_parity(spark):
    """broadcast_queries=False (the huge-query-set fallback: routing +
    verification as joins) must return exactly the kernel path's rows,
    for AND and for min_should."""
    docs = _corpus(
        spark,
        {
            0: "apple banana cherry date",
            1: "apple banana",
            2: "cherry date elderberry",
            3: "unrelated words entirely",
            4: "",
        },
    )
    queries = spark.createDataFrame(
        [
            (0, "apple banana"),
            (1, "cherry date elderberry"),
            (2, "apple cherry"),
            (3, "the of and"),  # analyzes to nothing
        ],
        "qid long, query string",
    )
    for ms in (None, 1, 2):
        a = sorted(
            map(tuple, percolate(docs, queries, analyzer="punct_nostem", min_should=ms).collect())
        )
        b = sorted(
            map(
                tuple,
                percolate(
                    docs, queries, analyzer="punct_nostem", min_should=ms,
                    broadcast_queries=False,
                ).collect(),
            )
        )
        assert a == b, (ms, a, b)
        assert len(a) > 0


def test_percolate_with_index_df_stats(spark):
    """df_stats from an index's termstats (the zero-probe serving shape)
    must change ONLY routing, never results."""
    docs = _corpus(
        spark,
        {0: "apple banana cherry", 1: "apple banana", 2: "cherry date", 3: ""},
    )
    queries = spark.createDataFrame(
        [(0, "apple banana"), (1, "cherry date"), (2, "date elderberry")],
        "qid long, query string",
    )
    idx = build_index(docs, analyzer="punct_nostem", block_span=8)
    try:
        stats = idx.termstats.select("term", "df")
        a = sorted(map(tuple, percolate(docs, queries, analyzer="punct_nostem").collect()))
        b = sorted(
            map(
                tuple,
                percolate(
                    docs, queries, analyzer="punct_nostem", df_stats=stats
                ).collect(),
            )
        )
        assert a == b and len(a) > 0
    finally:
        idx.unpersist()


def test_percolator_compile_once_reuse(spark):
    """A compiled Percolator must give identical results across multiple
    batches (the percolate_stream shape), with the routing index built
    exactly once."""
    from mini_search_engine_spark.search import Percolator

    queries = spark.createDataFrame(
        [(0, "apple banana"), (1, "cherry date")], "qid long, query string"
    )
    b1 = _corpus(spark, {0: "apple banana cherry", 1: "cherry date"})
    b2 = _corpus(spark, {2: "apple banana", 3: "date cherry apple"})
    perc = Percolator(queries, analyzer="punct_nostem")
    r1 = sorted(map(tuple, perc.match(b1).collect()))
    built = perc._b_index
    r2 = sorted(map(tuple, perc.match(b2).collect()))
    assert perc._b_index is built  # compiled once, reused
    ref1 = sorted(map(tuple, percolate(b1, queries, analyzer="punct_nostem").collect()))
    ref2 = sorted(map(tuple, percolate(b2, queries, analyzer="punct_nostem").collect()))
    assert r1 == ref1 and r2 == ref2 and len(r2) == 2


# --------------------------------------------------------------------------
# two-phase retrieval (champion candidates -> exact rescore)
# --------------------------------------------------------------------------

def test_rescore_returns_exact_scores_for_nominated_docs(champ_setup):
    """A doc pruned out of one term's champion list underscores in phase 1
    but must come back with its EXACT full-index score from phase 2."""
    from mini_search_engine_spark.search import rescore_topk

    idx, tier = champ_setup  # n_per_term=1: apple keeps doc0, banana keeps doc2
    exact = {r["docid"]: r["score"] for r in bm25_topk(idx, ["apple", "banana"], topk=10).collect()}
    tier_scores = {r["docid"]: r["score"] for r in bm25_topk(tier, ["apple", "banana"], topk=10).collect()}
    out = {r["docid"]: r["score"] for r in rescore_topk(idx, tier, ["apple", "banana"], fetch_k=10, topk=10).collect()}
    # doc2 survives only banana's champion list -> tier underscores it
    assert tier_scores[2] < exact[2] - 1e-9
    # ...but phase 2 restores the exact score for every returned doc
    for d, s in out.items():
        assert abs(s - exact[d]) < 1e-12
    # doc1 survives NO champion list -> never nominated, absent even at
    # fetch_k=corpus: the recall trade lives entirely in candidate gen
    assert 1 in exact and 1 not in out


def test_rescore_equals_exact_when_tier_keeps_everyone(champ_setup):
    from mini_search_engine_spark.search import rescore_topk

    idx, _ = champ_setup
    wide = champion_index(idx, n_per_term=10)  # nothing pruned
    exact = [(r["docid"], round(r["score"], 9)) for r in bm25_topk(idx, ["apple", "banana"], topk=4).collect()]
    out = [(r["docid"], round(r["score"], 9)) for r in rescore_topk(idx, wide, ["apple", "banana"], fetch_k=10, topk=4).collect()]
    assert out == exact


def test_rescore_candidate_broadcast_plan(champ_setup):
    """Phase 2 must join the bounded candidate set as a broadcast — the
    full index's postings never shuffle for the rescore."""
    from mini_search_engine_spark.search import rescore_topk

    idx, tier = champ_setup
    df = rescore_topk(idx, tier, ["apple", "banana"], fetch_k=10, topk=4)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_split_block_rows_keep_pruning_exact(spark):
    """A partition-local build writes a (term, block) whose docs span k
    input partitions as k rows. With blocks straddling three partitions,
    block-max pruned BM25 and the champion tier must return exactly the
    rows of a 1-partition build of the same corpus (one row per key), and
    the pruned path must equal the exact one."""
    from pyspark.sql import functions as F

    from mini_search_engine_spark.corpus import synthesize_source_corpus

    docs = load_corpus(
        synthesize_source_corpus(spark, n_docs=1200, seed=11, num_partitions=4),
        num_partitions=12,
    ).persist()
    span = 300  # ~100 docs per partition → each block straddles 3 partitions
    split = build_index(docs, analyzer="porter", block_span=span)
    whole = build_index(docs.coalesce(1), analyzer="porter", block_span=span)
    keys = split.postings.select("tid", "block").distinct().count()
    assert split.postings.count() > keys == whole.postings.count()
    per_key = split.postings.groupBy("tid", "block").count().agg(F.max("count")).first()[0]
    assert per_key >= 3

    def top(idx, terms, **kw):
        return [
            (r["docid"], round(r["score"], 9))
            for r in bm25_topk(idx, terms, 10, **kw).collect()
        ]

    pruned = dict(prune=True, prune_min_blocks=1, prune_min_postings=0)
    for terms in (["spark", "merge"], ["index", "segment", "posting"], ["ident7", "block"]):
        want = top(whole, terms, **pruned)
        assert want and top(whole, terms) == want
        assert top(split, terms, **pruned) == want
        assert top(split, terms) == want
        for n in (4, 32):
            assert top(champion_index(split, n), terms) == top(champion_index(whole, n), terms)
    split.unpersist(corpus=False)
    whole.unpersist(corpus=False)
    docs.unpersist()
