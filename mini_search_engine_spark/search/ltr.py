"""Learning-to-rank feature export — the training-data product of a search
engine: one row per (query, candidate doc) with the ranking signals a
reranker trains on. The reference engine ranks with single signals
(TF-IDF `InvertedIndexManager.java:1292`, PageRank+combined `Team5*`);
this operator materializes those same signals side by side, which is how a
modern pipeline would consume them (first-stage retrieval → feature join →
LTR model training).

Features per (qid, docid), candidates = docs matching ≥1 analyzed query
term (standard OR first-stage retrieval), optionally cut to the per-query
BM25 top-N:

* ``bm25``          — k1=1.2, b=0.75, Lucene/ATIRE idf (== bm25_topk)
* ``tfidf_dot``     — Σ_t (tf·N/df)·(qtf·N/df), the reference's
                      un-normalized TF-IDF dot (idf = N/df, no log)
* ``matched_terms`` — distinct query terms present in the doc
* ``sum_tf``        — Σ matched-term frequencies
* ``dl``            — document length (tokens)
* ``pagerank``      — caller-supplied graph score (e.g. search.pagerank)

Scale shape: ``bm25_topk_batch``'s plan — ONE postings scan filtered to
the union of all queries' term ids (int-IN parquet pushdown), the query
vectors a literal in the SQL text (no weight table, no join), df from
the index's own source (see ``search/ranking.py``); every feature is an
aggregate of the same ``(qid, block, docid)`` group, top-N one window
pass. The pagerank join runs AFTER the top-N cut, so it moves queries×N
rows, not the candidate set. Rank cutoffs compare scores rounded to 6dp
(repo convention) so the exported candidate set is engine-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mini_search_engine_spark.index.build import InvertedIndex

from .ranking import _BATCH_FROM, _batch_query

__all__ = ["ltr_features"]

_LTR_SQL = """SELECT qid, docid, sum(qc * {bm25}) AS bm25,
  sum(tf * ({n} / df) * (qc * ({n} / df))) AS tfidf_dot,
  count(*) AS matched_terms, CAST(sum(tf) AS BIGINT) AS sum_tf,
  CAST(max(dl) AS BIGINT) AS dl
""" + _BATCH_FROM


def ltr_features(
    index: InvertedIndex,
    queries: dict[str, list[str]],
    pagerank_df: DataFrame | None = None,
    topk: int | None = None,
) -> DataFrame:
    """→ (qid, docid, bm25, tfidf_dot, matched_terms, sum_tf, dl[, pagerank]).

    ``queries`` maps qid → raw keywords (analyzed with the index's
    analyzer, multiplicity kept). ``pagerank_df`` is any (docid, pagerank)
    frame; absent docids export NULL. ``topk`` keeps the per-query BM25
    top-N candidates (ties: rounded score desc, docid asc)."""
    feats = _batch_query(index, _LTR_SQL, queries)
    if feats is None:
        empty = index.postings.sparkSession.range(0).select(
            F.lit("").alias("qid"),
            F.col("id").alias("docid"),
            F.lit(0.0).alias("bm25"),
            F.lit(0.0).alias("tfidf_dot"),
            F.col("id").alias("matched_terms"),
            F.col("id").alias("sum_tf"),
            F.col("id").alias("dl"),
        )
        if pagerank_df is not None:
            empty = empty.withColumn("pagerank", F.lit(0.0))
        return empty
    if topk is not None:
        rw = Window.partitionBy("qid").orderBy(
            F.desc(F.round(F.col("bm25"), 6)), F.asc("docid")
        )
        feats = (
            feats.withColumn("_rnk", F.row_number().over(rw))
            .filter(F.col("_rnk") <= topk)
            .drop("_rnk")
        )
    if pagerank_df is None:
        return feats
    return feats.join(pagerank_df.select("docid", "pagerank"), "docid", "left").select(
        *feats.columns, "pagerank"
    )
