"""Structured + fulltext serving surfaces: filtered ranked search, field
collapsing, and per-term score explanation.

The reference's query surface is pure fulltext; production engines always
serve fulltext AND a structured predicate ("spark merge, but only
lang=java repos"), collapse results by a field ("best hit per repo"), and
explain scores. These compose the existing pruned scoring passes with the
corpus table — no new index state.

Scale shape of each:

* ``bm25_topk_filtered`` — the postings side is already term-pruned
  (int-tid ``In`` pushdown); the corpus side applies the predicate BEFORE
  the join so partition/stats pruning reaches the parquet scan (filter on
  a Hive-partition column → directory pruning, see
  ``corpus.load_corpus_partitioned``). The join is a semi-join on docid;
  with both sides pruned it is two small frames, and the final cut is a
  ``TakeOrderedAndProject`` of k rows.
* ``collapse_results`` — one join from the (small, term-pruned) scored
  frame to the corpus for the collapse key, one window per key; never a
  corpus-wide window.
* ``bm25_explain`` — per-(docid, term) contribution rows for a HANDFUL of
  docids: ``bm25_topk``'s SQL text without the GROUP BY (term names a
  literal ``CASE tid``, df from the index's own source, no weight table
  or join), the docid filter on the exploded postings, so the explain
  pass reads the postings the query read, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mini_search_engine_spark.index.build import InvertedIndex, sql_int_list
from mini_search_engine_spark.index.termid import term_id_py
from mini_search_engine_spark.search.ranking import (
    _analyzed_with_counts,
    _bm25_term,
    _sql_string,
    _tid_case,
    bm25_scores,
)

_EXPLAIN_SQL = """SELECT docid, {terms} AS term, CAST(tf AS BIGINT) AS tf, df,
  round({idf}, 6) AS idf, round({sat}, 6) AS tf_factor,
  round({qw} * {bm25}, 6) AS contribution
FROM {postings} LATERAL VIEW inline(arrays_zip(docids, tfs, dls)) z AS docid, tf, dl
WHERE tid IN {tids} AND docid IN {docids}
ORDER BY docid, term"""


def bm25_topk_filtered(
    index: InvertedIndex,
    docs: DataFrame,
    keywords: list[str],
    predicate: Column | str,
    topk: int = 10,
) -> DataFrame:
    """Exact BM25 top-k restricted to corpus rows satisfying ``predicate``
    → (docid, score). The predicate is applied to ``docs`` BEFORE the
    semi-join so Catalyst pushes it into the corpus scan (PushedFilters /
    PartitionFilters); ranking happens AFTER the restriction, so the
    returned page is the true top-k of the filtered set — not a filtered
    top-k page (which under-fills when matches are rare in the filter)."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    keep = docs.filter(pred).select("docid")
    return (
        bm25_scores(index, keywords)
        .join(keep, "docid", "semi")
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(topk)
    )


def collapse_results(
    scored: DataFrame,
    docs: DataFrame,
    collapse_col: str,
    per_group: int = 1,
    topk: int = 10,
) -> DataFrame:
    """Field collapsing (dedup-by-field): keep the best ``per_group`` rows
    of ``scored`` (docid, score) per value of ``docs.collapse_col``, then
    the global top-k → (docid, score, <collapse_col>). One result per repo
    / domain / author — the standard search-UI diversification."""
    j = scored.join(docs.select("docid", collapse_col), "docid")
    w = Window.partitionBy(collapse_col).orderBy(F.desc("score"), F.asc("docid"))
    return (
        j.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= per_group)
        .drop("_r")
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(topk)
        .select("docid", "score", collapse_col)
    )


def bm25_explain(
    index: InvertedIndex, keywords: list[str], docids: list[int]
) -> DataFrame:
    """Score breakdown for specific result docs → one row per
    (docid, term): tf, df, idf, the tf-saturation factor, and the term's
    additive contribution (contributions sum to ``bm25_topk``'s score —
    asserted in pytest). The docid filter is applied to the term-pruned
    postings, so explaining a page of results re-reads only the postings
    the query read."""
    counts = _analyzed_with_counts(index, keywords)
    by_tid = {term_id_py(t): t for t in sorted(counts)} if docids else {}
    if not by_tid:
        return index.postings.sparkSession.range(0).select(
            F.col("id").alias("docid"),
            F.lit("").alias("term"),
            F.col("id").alias("tf"),
            F.col("id").alias("df"),
            F.lit(0.0).alias("idf"),
            F.lit(0.0).alias("tf_factor"),
            F.lit(0.0).alias("contribution"),
        )
    names = " ".join(f"WHEN {tid}L THEN {_sql_string(t)}" for tid, t in by_tid.items())
    return index.query(
        _EXPLAIN_SQL,
        list(by_tid),
        terms=f"CASE tid {names} END",
        qw=_tid_case({tid: counts[t] for tid, t in by_tid.items()}),
        docids=sql_int_list(docids),
        **_bm25_term(index),
    )
