"""Static index pruning — champion lists (impact-ordered posting caps).

Keep only each term's ``n_per_term`` highest-impact postings — ordered
(tf DESC, dl ASC, docid ASC): raw tf first, and among tf ties the
SHORTEST doc, because every tf-saturating scorer (BM25's dl
normalization included) scores the shorter doc higher at equal tf. On
corpora with near-uniform tf (tf ties dominate), dl is what actually
ranks the champions; breaking ties by docid instead silently keeps
low-docid junk. This is the classic champion-list / static-pruning trade
(Manning, Raghavan & Schütze §7.1.3): a bounded index that still answers
top-k ranked queries almost exactly, because a doc that scores into the
top k for a term is overwhelmingly one of that term's highest-impact
docs. Collection statistics
(df, N, avgdl) intentionally stay GLOBAL — pruning changes which postings
are scorable, not what the scores mean — so surviving docs score
identically to the unpruned index.

Spark shape: one window over the exploded postings (partitioned by tid —
the same hash layout the posting blocks already live in) + one re-group
back into docid-sorted, block-aligned arrays. The result is a regular
``InvertedIndex`` (same schema, block alignment preserved), so every
searcher — boolean, BM25, block-max pruned — runs on it unchanged. At
100 TB this is the serving-tier build: the full index stays on cheap
storage for exactness-critical jobs, the champion tier (α·n_per_term·vocab
postings, independent of corpus size) is what query traffic hits.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mini_search_engine_spark.index.build import InvertedIndex


def prune_postings(posts: DataFrame, n_per_term: int = 128) -> DataFrame:
    """The pruning core: uncompressed postings → postings keeping only
    each term's top ``n_per_term`` docs by (tf DESC, dl ASC, docid ASC),
    re-grouped into docid-sorted block-aligned arrays. Factored out so the
    incremental champion store can run it restricted to CHANGED terms."""
    ex = posts.select(
        "tid",
        "block",
        F.explode(F.arrays_zip("docids", "tfs", "dls")).alias("z"),
    ).select(
        "tid",
        "block",
        F.col("z.docids").alias("docid"),
        F.col("z.tfs").alias("tf"),
        F.col("z.dls").alias("dl"),
    )
    w = Window.partitionBy("tid").orderBy(F.desc("tf"), F.asc("dl"), F.asc("docid"))
    kept = ex.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= n_per_term)
    re = (
        kept.groupBy("tid", "block")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("docid", "tf", "dl"))
            ).alias("z"),
        )
        .select(
            "tid",
            "block",
            F.size("z").alias("n"),
            F.transform("z", lambda s: s["docid"]).alias("docids"),
            F.transform("z", lambda s: s["tf"]).alias("tfs"),
            F.transform("z", lambda s: s["dl"]).alias("dls"),
        )
        .withColumn("min_docid", F.element_at("docids", 1))
        .withColumn("max_docid", F.element_at("docids", -1))
        .withColumn("max_tf", F.array_max("tfs"))
        .withColumn("min_dl", F.array_min("dls"))
    )
    return re


def champion_index(index: InvertedIndex, n_per_term: int = 128) -> InvertedIndex:
    """→ a new InvertedIndex whose postings keep only each term's top
    ``n_per_term`` docs by (tf DESC, dl ASC, docid ASC). Sidecars (termstats df,
    doclens, n_docs, avgdl) are shared with the source index, uncompressed
    and non-positional (champion tiers serve ranked top-k, not phrase)."""
    posts = index.postings
    if index.compressed:
        posts = replace(index, postings=posts).decoded().postings
    return replace(
        index,
        postings=prune_postings(posts, n_per_term),
        positional=False,
        compressed=False,
        build_cache=None,
        df_cache=None,
        serving_view=None,
        # Champion postings are capped at n_per_term per term, so df must
        # never be recovered from them: scoring reads the global termstats
        # df (stamped by warm(), probed otherwise).
        pruned=True,
    )
