import os

import pytest

from mini_search_engine_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mse-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tiny_corpus(spark):
    """Hand-written 8-doc corpus in the driver testdata shape; golden-checkable
    (pattern of reference Team10MergeTest / Team2TfIdfTest fixtures)."""
    rows = [
        (0, "cat dog cat", "en", "t", 11),
        (1, "dog information retrieval", "en", "t", 25),
        (2, "the cat and the dog", "en", "t", 19),
        (3, "information retrieval systems", "en", "t", 29),
        (4, "stemming stems stemmed", "en", "t", 22),
        (5, "quick brown fox; quick brown dog!", "en", "t", 33),
        (6, "", "en", "t", 0),
        (7, "cat cat cat cat dog", "en", "t", 19),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def postings_with_term(index):
    """Decoded postings joined back to term strings via the termstats
    dictionary sidecar (postings themselves are tid-encoded)."""
    from pyspark.sql import functions as F

    p = index.decoded().postings
    if "term" in p.columns:  # raw fused output carries a sparse term column
        p = p.drop("term")
    return p.join(F.broadcast(index.termstats.select("tid", "term")), "tid")


def posting_set(index):
    """term → sorted [(docid, tf, dl[, positions])] over every postings row
    of the index: split (term, block) rows and segments pool, so two
    indexes compare equal iff they hold the same postings."""
    out = {}
    for r in postings_with_term(index).collect():
        cols = [r["docids"], r["tfs"], r["dls"]]
        if index.positional:
            cols.append([tuple(p) for p in r["positions"]])
        out.setdefault(r["term"], []).extend(zip(*cols))
    return {t: sorted(v) for t, v in out.items()}


_PLAIN_ANALYZERS = {
    "porter": ("punctuation", True),
    "punct_nostem": ("punctuation", False),
    "naive": ("naive", False),
    "code": ("code", False),
}


def expected_posting_set(texts, analyzer="porter", positional=False, tokenize=None):
    """The ``posting_set`` an index over ``texts`` ({docid: text}) must
    hold, built in plain Python from ``analysis.analyze`` (or ``tokenize``,
    text → token list): positions are indices into the analyzed stream."""
    from mini_search_engine_spark.analysis import analyze

    if tokenize is None:
        tokenizer, stem = _PLAIN_ANALYZERS[analyzer]
        tokenize = lambda t: analyze(t, tokenizer=tokenizer, stem=stem)  # noqa: E731
    out = {}
    for docid, text in texts.items():
        toks = tokenize(text)
        at = {}
        for i, t in enumerate(toks):
            at.setdefault(t, []).append(i)
        for t, ps in at.items():
            row = (docid, len(ps), len(toks)) + ((tuple(ps),) if positional else ())
            out.setdefault(t, []).append(row)
    return {t: sorted(v) for t, v in out.items()}


def ranged_and_overlapping(docs, n=3):
    """``docs`` twice, in ``n`` partitions each: docid ranges, and
    partitions whose docid intervals overlap — range-partitioned on
    (docid parity, docid), so evens precede odds and the build must
    range-repartition the input itself. (Round-robin ``repartition(n)``
    leaves a 3- or 4-doc corpus in disjoint intervals.)"""
    from pyspark.sql import functions as F

    from mini_search_engine_spark.index.build import _docid_ranged

    ranged = docs.repartitionByRange(n, "docid")
    overlapping = docs.repartitionByRange(n, F.col("docid") % 2, "docid")
    assert _docid_ranged(ranged)[0] is ranged
    assert _docid_ranged(overlapping)[0] is not overlapping
    return ranged, overlapping
