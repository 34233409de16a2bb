"""Stress-pattern test following the reference suite's shape
(``Team2StressTest.java:32-59``: ~1500 docs, default thresholds, searches
must return sane results inside a time budget; ``Team1StressTest.java:68-78``
adds IO-counter lower bounds — here: the index must actually hit parquet).
"""

import time

import pytest

from mini_search_engine_spark.corpus import load_corpus, synthesize_source_corpus
from mini_search_engine_spark.index.build import build_index, read_index, write_index
from mini_search_engine_spark.search import bm25_topk, search_and, search_keyword, search_phrase

N_DOCS = 1500
TIME_BUDGET_S = 300  # reference stress budget (Team1StressTest.java:68)


@pytest.fixture(scope="module")
def stress_index(spark, tmp_path_factory):
    t0 = time.time()
    corpus = load_corpus(
        synthesize_source_corpus(spark, n_docs=N_DOCS, seed=7), num_partitions=4
    ).cache()
    assert corpus.count() == N_DOCS
    idx = build_index(corpus, analyzer="porter", positional=True, compress=True)
    path = str(tmp_path_factory.mktemp("stress") / "idx")
    write_index(idx, path)
    built = time.time() - t0
    assert built < TIME_BUDGET_S, f"build took {built:.0f}s"
    spark_idx = read_index(corpus.sparkSession, path)
    return spark_idx


def test_stress_build_and_search(stress_index, spark):
    t0 = time.time()
    idx = stress_index
    assert idx.n_docs == N_DOCS
    # hot code keyword present across the corpus
    n_import = search_keyword(idx, "import").count()
    assert n_import > N_DOCS * 0.5
    # conjunction narrower than either term
    n_and = search_and(idx, ["index", "merge"]).count()
    assert 0 < n_and <= min(
        search_keyword(idx, "index").count(), search_keyword(idx, "merge").count()
    )
    # planted phrase (corpus.py _PHRASES) must be findable
    assert search_phrase(idx, "block max wand").count() > 0
    # ranked top-k is full and rank-sane
    top = bm25_topk(idx, ["inverted", "index"], 10).collect()
    assert len(top) == 10
    scores = [r["score"] for r in top]
    assert scores == sorted(scores, reverse=True)
    assert time.time() - t0 < TIME_BUDGET_S


def test_stress_index_really_on_disk(stress_index):
    # IO lower bound (Team1StressTest.java:77-78 analog): the postings
    # parquet must contain > 0 files with > 0 compressed posting bytes
    import pyspark.sql.functions as F

    n_bytes = stress_index.postings.agg(
        F.sum(F.octet_length("docids_bytes"))
    ).collect()[0][0]
    assert n_bytes and n_bytes > 1000


def test_hot_term_blocks_bounded(spark):
    """A stopword-grade term (present in EVERY doc) must fan out over
    docid-range blocks — no posting row may exceed the block span, which
    is the skew bound that keeps reducers and writers balanced at scale.
    The partition-local build writes one row per (input partition, block)
    the term occurs in, and the rows hold every posting exactly once."""
    from conftest import ranged_and_overlapping
    from mini_search_engine_spark.corpus import load_corpus
    from pyspark.sql import functions as F

    from mini_search_engine_spark.index.build import _docid_ranged
    from mini_search_engine_spark.index.termid import term_id_py

    n = 2000
    rows = [(i, f"hot filler{i % 7} words", "en", "t", 0) for i in range(n)]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    )
    span = 256
    # the input as built (ranged), range-repartitioned, and in partitions
    # overlapping in docid that the build must range itself
    for src in (docs, *ranged_and_overlapping(docs, 4)):
        idx = build_index(src, analyzer="porter", block_span=span)
        hot = idx.postings.filter(F.col("tid") == term_id_py("hot"))
        sizes = hot.select("block", F.size("docids").alias("sz")).collect()
        assert {r["block"] for r in sizes} == set(range(n // span + (1 if n % span else 0)))
        assert all(r["sz"] <= span for r in sizes)
        assert sum(r["sz"] for r in sizes) == n
        built_from = _docid_ranged(src)[0]
        pieces = (
            built_from.select(
                F.spark_partition_id().alias("p"), (F.col("docid") / span).cast("long").alias("b")
            )
            .distinct()
            .count()
        )
        assert len(sizes) == pieces
        idx.unpersist(corpus=False)


def test_empty_corpus_builds_and_queries(spark):
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.search import bm25_topk, search_and, search_keyword

    empty = load_corpus(
        spark.createDataFrame(
            [], "doc_id long, text string, lang string, source string, n_chars long"
        )
    )
    idx = build_index(empty, analyzer="porter", block_span=16)
    assert idx.n_docs == 0 and idx.avgdl == 0.0
    assert search_keyword(idx, "anything").count() == 0
    assert search_and(idx, ["a", "b"]).count() == 0
    assert bm25_topk(idx, ["anything"], 5).count() == 0


def test_ics_style_end_to_end(spark):
    """Reference end-to-end shape (IcsSearchEngineTest.java:33-54): build
    the index, run PageRank(100) over the link graph, answer combined
    tfidf+pagerank queries — all inside the reference's 900 s budget
    (sf0.001 corpus here; the reference used ~selected ICS webpages)."""
    import time

    from pyspark.sql import functions as F

    from mini_search_engine_spark.corpus import load_documents
    from mini_search_engine_spark.search import search_tfidf
    from mini_search_engine_spark.search.pagerank import combined_search, pagerank

    t0 = time.time()
    docs = load_documents(spark, "/root/testdata/sf0.001").cache()
    n = docs.count()
    idx = build_index(docs, analyzer="porter", compress=True)
    edges = docs.select(
        F.col("docid").alias("src"), ((F.col("docid") * 7 + 3) % n).alias("dst")
    ).unionByName(
        docs.select(F.col("docid").alias("src"), ((F.col("docid") * 13 + 5) % n).alias("dst"))
    )
    pr = pagerank(edges, num_iter=100, nodes=docs.select("docid"))
    n_ranked = pr.count()
    assert n_ranked == n
    for q in (["spark"], ["merge", "index"]):
        scored = search_tfidf(idx, q, topk=None)
        top = combined_search(scored, pr, weight=1.0, topk=10).collect()
        assert 0 < len(top) <= 10
        scores = [r["combined"] for r in top]
        assert scores == sorted(scores, reverse=True)
    # weight=0 ≡ pure tf-idf ranking (IcsSearchEngineTest.java:121-136)
    scored = search_tfidf(idx, ["spark"], topk=None)
    w0 = [r["docid"] for r in combined_search(scored, pr, weight=0.0, topk=10).collect()]
    t10 = [r["docid"] for r in scored.orderBy(F.desc("score"), F.asc("docid")).limit(10).collect()]
    assert w0 == t10
    wall = time.time() - t0
    assert wall < 900, f"end-to-end took {wall:.0f}s"
    idx.unpersist()
    pr.unpersist()
    docs.unpersist()
