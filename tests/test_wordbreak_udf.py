"""Word-break tokenizer as a distributed Arrow UDF with a broadcast dict."""

from mini_search_engine_spark.analysis.tokenizers import load_frequency_dict
from mini_search_engine_spark.analysis.udfs import word_break_col
from pyspark.sql import functions as F


def test_word_break_col(spark):
    d = load_frequency_dict(["cat 10", "dog 10", "and 10", "informationretrieval 1", "information 5", "retrieval 5"])
    df = spark.createDataFrame(
        [(0, "catanddog"), (1, "informationretrieval"), (2, "zzz"), (3, "")],
        "id long, s string",
    )
    got = {r["id"]: r["toks"] for r in df.select("id", word_break_col(F.col("s"), d).alias("toks")).collect()}
    assert got[0] == ["cat", "dog"]  # "and" filtered as stopword
    # product: p(informationretrieval)=1/41 > p(information)*p(retrieval)=(5/41)^2? 1/41≈0.024 vs 0.0149 → single token wins
    assert got[1] == ["informationretrieval"]
    assert got[2] is None  # unbreakable → NULL (reference throws)
    assert got[3] == []


def test_wordbreak_build_inline_dict(spark):
    """A registered word-break analyzer builds through the fused kernel's
    per-doc DP stage: positional postings (compressed and not) and doclens
    equal the plain-Python ``word_break_logp`` counts on ranged and
    overlapping input; an unbreakable or empty doc is an empty doc (dl 0).
    The stemming variant stems each segment, as ``analyze_query`` does."""
    from conftest import expected_posting_set, posting_set, ranged_and_overlapping

    from mini_search_engine_spark.analysis import porter_stem
    from mini_search_engine_spark.analysis.tokenizers import (
        WordBreakError,
        prepare_logprob_dict,
        word_break_logp,
    )
    from mini_search_engine_spark.analysis.udfs import register_wordbreak_analyzer
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.index.build import build_index, doc_term_sets

    d = load_frequency_dict(
        ["cat 10", "cats 4", "dog 10", "dogs 3", "and 10", "the 12", "running 2",
         "run 5", "fish 6", "fishing 2"]
    )
    texts = {
        0: "catanddog",
        1: "thecatsanddogs",
        2: "runningdogcat",
        3: "zzz",  # unbreakable
        4: "",
        5: None,
        6: "fishingcatsfishdogdog",
        7: "  DogCat\t",
    }
    logp, max_word = prepare_logprob_dict(d)

    def expected_tokens(text, stem):
        try:
            toks = word_break_logp(text, logp, max_word)
        except WordBreakError:
            return []
        return [porter_stem(t) for t in toks] if stem else toks

    docs = load_corpus(
        spark.createDataFrame(
            [(i, t, "en", "t", 0) for i, t in texts.items()],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    )
    name = register_wordbreak_analyzer(d, name="wb_inline")
    name_stem = register_wordbreak_analyzer(d, name="wb_inline_stem", stem=True)
    for analyzer, stem in ((name, False), (name_stem, True)):
        tokenize = lambda t, s=stem: expected_tokens(t, s)  # noqa: E731
        want = expected_posting_set(texts, positional=True, tokenize=tokenize)
        assert want  # the dictionary breaks most docs
        want_dl = {i: len(tokenize(t)) for i, t in texts.items()}
        for src, comp in zip(ranged_and_overlapping(docs), (True, False)):
            idx = build_index(src, analyzer=analyzer, block_span=4, positional=True, compress=comp)
            assert posting_set(idx) == want, (analyzer, comp)
            assert {r["docid"]: r["dl"] for r in idx.doclens.collect()} == want_dl
            assert idx.avgdl == sum(want_dl.values()) / len(texts)
            idx.unpersist(corpus=False)
        sets = {r["docid"]: set(r["terms"]) for r in doc_term_sets(docs, analyzer).collect()}
        assert sets == {i: set(tokenize(t)) for i, t in texts.items()}
    # the stemming variant: "fishing" and "fish" are one term
    assert (6, 2, 5, (0, 2)) in want["fish"]
