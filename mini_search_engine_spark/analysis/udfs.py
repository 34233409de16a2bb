"""Spark column surface for the analyzers.

Design rule (BASELINE.json input_hint): no per-row Python. Two execution
paths:

* **native** — tokenization without stemming is pure Catalyst
  (`split`/`lower`/`trim`/`filter`), stays inside whole-stage codegen,
  zero Python.
* **arrow** — the composed punctuation+Porter analyzer needs the stemmer,
  so it runs as an Arrow-batched ``pandas_udf`` returning
  ``array<string>`` with a process-wide memo dict (token vocabulary is
  far smaller than token count, so stemming amortizes to a dict lookup).

Reference: ``analysis/ComposableAnalyzer.java:21-23`` (tokenize → stem).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from mini_search_engine_spark.analysis.stopwords import STOP_WORDS_SORTED
from mini_search_engine_spark.analysis.tokenizers import (
    JAVA_TRIM_CHARS,
    PUNCT_SPLIT_PATTERN,
    analyze,
)


def _punct_tokens_native(col: Column) -> Column:
    """PunctuationTokenizer as pure Catalyst: trim → lower → regex split →
    drop empties → drop stopwords. ``isin`` over the 127-word list compiles
    to an InSet hash probe. The trim is ``btrim`` over the Java
    ``String.trim`` char set (every char ≤ U+0020) — NOT ``F.trim`` (space
    only) — so dl/terms agree byte-for-byte with the Python kernel and the
    fused Arrow build on control-char-edged content."""
    toks = F.split(F.lower(F.btrim(col, F.lit(JAVA_TRIM_CHARS))), PUNCT_SPLIT_PATTERN)
    return F.filter(toks, lambda t: (t != F.lit("")) & ~t.isin(*STOP_WORDS_SORTED))


def _naive_tokens_native(col: Column) -> Column:
    toks = F.split(F.lower(col), "\\s+")
    return F.filter(toks, lambda t: t != F.lit(""))


def _code_tokens_native(col: Column) -> Column:
    """Code-aware tokenizer as pure Catalyst (north_star's "code-aware
    tokenization" — realized as three JVM regexp passes inside whole-stage
    codegen rather than an Arrow UDF: no Python, no batch transfer). Spec
    twin of ``tokenizers.code_tokenize``; the DuckDB oracle runs the same
    two boundary rules + split with ``regexp_replace(…, 'g')``."""
    from mini_search_engine_spark.analysis.tokenizers import (
        CODE_BOUNDARY_1,
        CODE_BOUNDARY_2,
        CODE_SPLIT_PATTERN,
    )

    s = F.regexp_replace(col, CODE_BOUNDARY_1, "$1 $2")
    s = F.regexp_replace(s, CODE_BOUNDARY_2, "$1 $2")
    toks = F.split(F.lower(s), CODE_SPLIT_PATTERN)
    return F.filter(toks, lambda t: t != F.lit(""))


def _make_analyze_pandas(tokenizer: str, stem: bool):
    @F.pandas_udf(ArrayType(StringType()))
    def _analyze(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: analyze(t, tokenizer=tokenizer, stem=stem))

    return _analyze


_ANALYZE_PORTER = _make_analyze_pandas("punctuation", True)

# name -> Column -> Column producing array<string> tokens
ANALYZERS: dict[str, Callable[[Column], Column]] = {
    # flagship: reference ComposableAnalyzer(PunctuationTokenizer, PorterStemmer)
    "porter": lambda c: _ANALYZE_PORTER(c),
    # tokenizer-only (native, codegen) — used for DuckDB-oracle parity queries
    "punct_nostem": _punct_tokens_native,
    # reference NaiveAnalyzer (native)
    "naive": _naive_tokens_native,
    # code-aware camelCase/snake_case subtoken analyzer (native, codegen)
    "code": _code_tokens_native,
}

# word-break analyzers registered at runtime: name -> (logp dict, max word
# len). The reference composes WordBreakTokenizer into the index via
# ComposableAnalyzer (``analysis/ComposableAnalyzer.java:8-24``); here the
# same composability is a registry entry — ``register_wordbreak_analyzer``
# wires a frequency dictionary in as analyzer ``name`` for analyze_col,
# analyze_query AND build_index (whose Arrow kernels run the DP per batch).
WORDBREAK_ANALYZERS: dict[str, tuple[dict[str, float], int]] = {}


def register_wordbreak_analyzer(
    prob_dict: dict[str, float], name: str = "wordbreak", stem: bool = False
) -> str:
    """Register a word-break frequency dictionary (``load_frequency_dict``
    output — any ``word freq`` source, e.g. the reference's public 82k-entry
    EN / 45k-entry JP dictionaries) as a first-class analyzer ``name``.
    ``stem=True`` additionally Porter-stems each segment, mirroring
    ``ComposableAnalyzer(WordBreakTokenizer, PorterStemmer)``."""
    from mini_search_engine_spark.analysis.tokenizers import prepare_logprob_dict

    logp, max_word = prepare_logprob_dict(prob_dict)
    WORDBREAK_ANALYZERS[name] = (logp, max_word)
    _WORDBREAK_STEM[name] = stem
    ANALYZERS[name] = lambda c: _wordbreak_registered_col(c, name)
    return name


_WORDBREAK_STEM: dict[str, bool] = {}
_WB_BROADCASTS: dict[str, object] = {}  # name -> Broadcast[(logp, max_word, stem)]


def _wordbreak_broadcast(name: str):
    """Broadcast the registered dict ONCE per session per name (the 82k-entry
    log-prob table must not re-ship per query/job)."""
    from pyspark.sql import SparkSession

    b = _WB_BROADCASTS.get(name)
    if b is None:
        sc = SparkSession.getActiveSession().sparkContext
        logp, mw = WORDBREAK_ANALYZERS[name]
        b = sc.broadcast((logp, mw, _WORDBREAK_STEM.get(name, False)))
        _WB_BROADCASTS[name] = b
    return b


def _wordbreak_registered_col(col: Column, name: str) -> Column:
    from mini_search_engine_spark.analysis.tokenizers import (
        WordBreakError,
        _stem_cached,
        word_break_logp,
    )

    bdict = _wordbreak_broadcast(name)

    @F.pandas_udf(ArrayType(StringType()))
    def _wb(texts: pd.Series) -> pd.Series:
        d, mw, stem = bdict.value

        def run(t):
            try:
                toks = word_break_logp(t, d, mw)
            except WordBreakError:
                return None  # unbreakable → NULL row (reference throws)
            return [_stem_cached(x) for x in toks] if stem else toks

        return texts.map(run)

    return _wb(col)


def analyze_col(col: Column, analyzer: str = "porter") -> Column:
    try:
        return ANALYZERS[analyzer](col)
    except KeyError:
        raise ValueError(f"unknown analyzer {analyzer!r}; one of {sorted(ANALYZERS)}")


def word_break_col(col: Column, prob_dict: dict[str, float], spark=None) -> Column:
    """WordBreakTokenizer as an Arrow UDF with a broadcast dictionary
    (reference loads an 82k-entry frequency dict,
    ``WordBreakTokenizer.java:55-62``; the dict here is caller-supplied —
    any ``word freq`` source parsed by ``load_frequency_dict``).
    The log-prob table and max word length are computed ONCE driver-side
    and broadcast; the per-row kernel only runs the DP. Unbreakable
    strings yield NULL (the reference throws; a distributed scan surfaces
    failures as rows to inspect, not task aborts)."""
    from pyspark.sql import SparkSession

    from mini_search_engine_spark.analysis.tokenizers import (
        WordBreakError,
        prepare_logprob_dict,
        word_break_logp,
    )

    sc = (spark or SparkSession.getActiveSession()).sparkContext
    logp, max_word = prepare_logprob_dict(prob_dict)
    bdict = sc.broadcast((logp, max_word))

    @F.pandas_udf(ArrayType(StringType()))
    def _wb(texts: pd.Series) -> pd.Series:
        d, mw = bdict.value

        def run(t):
            try:
                return word_break_logp(t, d, mw)
            except WordBreakError:
                return None

        return texts.map(run)

    return _wb(col)


def analyze_query(text: str, analyzer: str = "porter") -> list[str]:
    """Driver-side query analysis with semantics identical to analyze_col.
    Word-break analyzers raise ``WordBreakError`` on an unbreakable query
    (matching the reference's tokenize-time throw)."""
    if analyzer == "porter":
        return analyze(text, tokenizer="punctuation", stem=True)
    if analyzer == "punct_nostem":
        return analyze(text, tokenizer="punctuation", stem=False)
    if analyzer == "naive":
        return analyze(text, tokenizer="naive", stem=False)
    if analyzer == "code":
        return analyze(text, tokenizer="code", stem=False)
    if analyzer in WORDBREAK_ANALYZERS:
        from mini_search_engine_spark.analysis.tokenizers import (
            _stem_cached,
            word_break_logp,
        )

        logp, mw = WORDBREAK_ANALYZERS[analyzer]
        toks = word_break_logp(text, logp, mw)
        return [_stem_cached(t) for t in toks] if _WORDBREAK_STEM.get(analyzer) else toks
    raise ValueError(f"unknown analyzer {analyzer!r}")
