"""Analyzer parity tests — goldens taken from the reference test suite
(`src/test/java/edu/uci/ics/cs221/analysis/...`, see file:line cites)."""

import pytest

from mini_search_engine_spark.analysis import (
    STOP_WORDS,
    analyze,
    naive_tokenize,
    porter_stem,
    punctuation_tokenize,
    word_break_tokenize,
)
from mini_search_engine_spark.analysis.tokenizers import (
    WordBreakError,
    load_frequency_dict,
)

# PorterStemmerTest.java:20-120 golden sentences
PORTER_GOLDENS = [
    ("stemming is an important concept in computer science",
     "stem is an import concept in comput scienc"),
    ("clothes satisfactory wearing worn wore", "cloth satisfactori wear worn wore"),
    ("Intellij IDEA is so popular among programmers that my friends Tom and Jerry both use it often.",
     "Intellij IDEA is so popular among programm that my friend Tom and Jerri both us it often."),
    ("how ever however", "how ever howev"),
    ("I am writing to test the Stemmer. Turning in the final results of the applications is due this week",
     "I am write to test the Stemmer. Turn in the final result of the applic is due thi week"),
    ("information retrieval is the activity of obtaining information system resources relevant to an information need from a collection",
     "inform retriev is the activ of obtain inform system resourc relev to an inform need from a collect"),
    ("rate roll sky feed bled sing caress 1234", "rate roll sky feed bled sing caress 1234"),
    ("caresses ponies cats", "caress poni cat"),
    # Team19-23 golden sentences
    ("He is an old man who fished alone in a skiff in the Gulf Stream and he had gone twenty-two weeks without taking a fish",
     "He is an old man who fish alon in a skiff in the Gulf Stream and he had gone twenty-two week without take a fish"),
    ("ties dogs caress need agreed disabled fitting making missing meeting meetings",
     "ti dog caress need agre disabl fit make miss meet meet"),
    ("organization organizer international responsibility fitness",
     "organ organ intern respons fit"),
    ("department humorousness dependence helpfulness analytical despotism",
     "depart humor depend help analyt despot"),
    ("hopefully the refrigerator start working again in that chen li made some adjustment with carefulness",
     "hopefulli the refriger start work again in that chen li made some adjust with care"),
    ("the allowance of collaboration between media and tech company help activate the revival of journalism",
     "the allow of collabor between media and tech compani help activ the reviv of journal"),
    ("conflated troubled sized hopping fizzed failing filing",
     "conflat troubl size hop fizz fail file"),
]


@pytest.mark.parametrize("original,expected", PORTER_GOLDENS)
def test_porter_goldens(original, expected):
    got = " ".join(porter_stem(t) for t in original.split())
    assert got == expected


def test_porter_short_words_pass_through():
    # PorterStemmer.java:324 — k > k0+1 guard
    for w in ["a", "is", "be", "ox", ""]:
        assert porter_stem(w) == w


def test_stopword_list_is_exactly_127():
    assert len(STOP_WORDS) == 127
    assert "the" in STOP_WORDS and "now" in STOP_WORDS and "don" in STOP_WORDS


def test_punctuation_tokenizer_doc_example():
    # PunctuationTokenizer.java:9 — documented example
    assert punctuation_tokenize("I am Happy Today!") == ["happy", "today"]


def test_punctuation_tokenizer_literal_caret_and_controls():
    # the ^ inside the class is literal (PunctuationTokenizer.java:20)
    assert punctuation_tokenize("up^down") == []  # both stopwords
    assert punctuation_tokenize("cat^dog") == ["cat", "dog"]
    assert punctuation_tokenize("cat\tdog\ncow\x0bfox") == ["cat", "dog", "cow", "fox"]
    assert punctuation_tokenize("") == []
    assert punctuation_tokenize(None) == []


def test_naive_tokenizer():
    assert naive_tokenize("The  Quick\tBrown") == ["the", "quick", "brown"]


def test_composed_analyzer():
    assert analyze("Stemming is an important Concept!") == ["stem", "import", "concept"]


def test_word_break():
    # WordBreakTokenizer.java:20-33 documented example semantics
    d = load_frequency_dict(["a 10", "i 10", "ai 5", "cat 10", "and 10", "dog 10"])
    assert word_break_tokenize("catanddog", d) == ["cat", "dog"]  # "and" is a stopword
    assert word_break_tokenize("ai", d) == ["ai"]  # product 5/55 > (10/55)^2
    with pytest.raises(WordBreakError):
        word_break_tokenize("xyz", d)
    assert word_break_tokenize("", d) == []


def test_arrow_split_kernel_unicode_parity(spark):
    """The Arrow C++ tokenize path (utf8_trim/lower/RE2 split) must match
    the Python kernel on unicode content (Cyrillic, CJK, accents, emoji)."""
    from collections import Counter

    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.index.build import tokenize_docs
    from mini_search_engine_spark.analysis.tokenizers import analyze

    texts = [
        "Привет мир ПРИВЕТ МИР",
        "grüße STRASSE çöğüşı İstanbul",
        "日本語のテキスト 中文文本 混合 mixed TEXT",
        "emoji 🙂 here, and\taccents: café CAFÉ",
        "   leading and trailing   ",
    ]
    rows = [(i, t, "xx", "t", 0) for i, t in enumerate(texts)]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    )
    tf = tokenize_docs(docs, analyzer="porter")
    got = {}
    for r in tf.collect():
        got[(r["docid"], r["term"])] = r["tf"]
    for i, t in enumerate(texts):
        exp = Counter(analyze(t, tokenizer="punctuation", stem=True))
        mine = {k[1]: v for k, v in got.items() if k[0] == i}
        assert mine == dict(exp), (i, t, mine, dict(exp))


def test_java_trim_parity_across_paths(spark):
    """All tokenization paths use Java String.trim semantics (strip every
    char <= U+0020, keep NBSP & friends): python kernel == native Catalyst
    column == fused Arrow build == doc_lengths, on control-char/NBSP-edged
    content (ADVICE r2 item 2)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from mini_search_engine_spark.analysis.tokenizers import analyze, punctuation_tokenize
    from mini_search_engine_spark.analysis.udfs import analyze_col
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.index.build import build_index, doc_lengths

    texts = [
        "\x01 x hello  world\x1f",   # control-char edges, NBSP kept
        "\x00\x08ctrl\x0e\x1fedge\x00",          # chars python str.strip() keeps
        "  nbsp only ",           # unicode ws python strips, Java keeps
        "\t\n  plain  \r\x0b",                    # chars everyone strips
        "inner\x01ctrl stays",
    ]
    # python kernel expectation (now the Java-trim reference semantics)
    exp_toks = {i: punctuation_tokenize(t) for i, t in enumerate(texts)}
    assert exp_toks[0][0] == " x"  # NBSP survives Java trim
    assert exp_toks[2] == ["  nbsp", "only "]

    rows = [(i, t, "xx", "t", 0) for i, t in enumerate(texts)]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    )
    # native Catalyst column (punct_nostem)
    got_native = {
        r["docid"]: list(r["toks"])
        for r in docs.select("docid", analyze_col(F.col("content"), "punct_nostem").alias("toks")).collect()
    }
    assert got_native == exp_toks
    # doc_lengths (porter routes through the native tokenizer)
    dls = {r["docid"]: r["dl"] for r in doc_lengths(docs, "porter").collect()}
    assert dls == {i: len(v) for i, v in exp_toks.items()}
    # fused Arrow build: postings tf per doc must match the stemmed kernel
    idx = build_index(docs, analyzer="porter")
    level = idx.decoded().postings
    got = Counter()
    for r in level.select("docids", "tfs").collect():
        for d, tf in zip(r["docids"], r["tfs"]):
            got[d] += tf
    exp_counts = {i: len(analyze(t, tokenizer="punctuation", stem=True)) for i, t in enumerate(texts)}
    assert {k: v for k, v in got.items()} == {k: v for k, v in exp_counts.items() if v}
    idx.unpersist()


CODE_CASES = {
    "parseHTTPResponse_v2": ["parse", "http", "response", "v2"],
    "getUserName": ["get", "user", "name"],
    "snake_case_name": ["snake", "case", "name"],
    "SimpleHTTPServer42 x": ["simple", "http", "server42", "x"],
    "def foo(bar): return bar.baz[0]": ["def", "foo", "bar", "return", "bar", "baz", "0"],
    "XMLHttpRequest": ["xml", "http", "request"],
    "a_b__c": ["a", "b", "c"],
    "": [],
}


def test_code_tokenizer_goldens():
    from mini_search_engine_spark.analysis.tokenizers import code_tokenize

    for s, want in CODE_CASES.items():
        assert code_tokenize(s) == want, s


def test_code_tokenizer_catalyst_parity(spark):
    """The pure-Catalyst column twin must agree token-for-token with the
    Python kernel (same CODE_* spec, two regex engines)."""
    import pyspark.sql.functions as F

    from mini_search_engine_spark.analysis.udfs import analyze_col, analyze_query

    df = spark.createDataFrame([(s,) for s in CODE_CASES if s], "content string")
    got = {
        r["content"]: r["toks"]
        for r in df.select(
            "content", analyze_col(F.col("content"), "code").alias("toks")
        ).collect()
    }
    for s, want in CODE_CASES.items():
        if s:
            assert got[s] == want, s
    assert analyze_query("getWindowCount", "code") == ["get", "window", "count"]


def test_code_analyzer_end_to_end_search(spark):
    """camelCase Java + snake_case Python spellings of the same concept
    land on the same subtokens; an AND query finds both."""
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.index.build import build_index
    from mini_search_engine_spark.search import search_and, search_phrase

    rows = [
        (0, "class InvertedIndexManager { void flushSegment() {} }", "en", "t", 0),
        (1, "def flush_segment(): pass", "en", "t", 0),
        (2, "nothing relevant here", "en", "t", 0),
    ]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    )
    idx = build_index(docs, analyzer="code", positional=True)
    assert sorted(r["docid"] for r in search_and(idx, ["flush", "segment"]).collect()) == [0, 1]
    # positions survive subtokenization: "flush segment" is adjacent in both
    assert sorted(
        r["docid"] for r in search_phrase(idx, ["flush", "segment"]).collect()
    ) == [0, 1]
