"""Doc-level deletes: merge-on-read tombstones over the blocked index.

The reference's only deletion is term-granular and lazy
(``InvertedIndexManager.java`` deleteDocuments quirk — see index/merge.py
B5); a training-data pipeline needs DOC-granular deletes (takedowns,
opt-outs, dedup verdicts) without rewriting a 100 TB index. This module is
the Iceberg equality-delete analog over our postings layout:

* a tombstone set is a plain ``docid`` DataFrame (a delete *file* once
  persisted — see streaming/ingest.delete_docs);
* postings blocks are docid-range aligned (``block = docid //
  block_span``), so tombstones map to exactly the blocks they touch —
  the rewrite joins per-BLOCK tombstone arrays against postings and
  positionally filters the parallel arrays (docids/tfs/dls[/positions])
  in pure Catalyst. Blocks with no tombstone pass through untouched; at
  realistic delete rates (≪1% of docs) that is almost all of them, and
  the block filter is pushed to the parquet scan.
* term/doc statistics stay EXACT: per-tid df deltas are computed from the
  affected rows only, doc count and avgdl from the filtered doclens —
  BM25 over the merged view is identical to a from-scratch build on the
  surviving documents (asserted in tests/test_deletes.py).

Merge-on-read is the serving path; compaction (streaming/ingest.
maybe_compact) physically drops tombstoned postings because it merges the
ALREADY-FILTERED view, after which the snapshot carries no delete files.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mini_search_engine_spark.index.build import InvertedIndex

# tombstoned block ids are inlined as a parquet-pushable IN filter up to
# this many; beyond it the per-block join alone prunes (same bound/pattern
# as search/ranking.py's block-prefix pushdown)
MAX_INLINE_BLOCKS = 8192


def _mask_keep(arr: Column, mask: Column) -> Column:
    """Positional filter: keep ``arr[i]`` where ``mask[i]`` (0-based)."""
    return F.filter(arr, lambda _, i: F.get(mask, i))


def apply_deletes(index: InvertedIndex, tombstones: DataFrame) -> InvertedIndex:
    """Return a view of ``index`` with every docid in ``tombstones``
    removed, statistics exact. Lazy — no job runs until the result is
    queried, except one small agg recomputing (n_docs, avgdl).

    ``tombstones``: any DataFrame with a ``docid`` column (deleting a
    docid that does not exist is a no-op). The input index must be
    uncompressed (serving indexes are — ``decoded()``/``warm()`` first)."""
    if index.compressed:
        index = index.decoded()
    tomb = tombstones.select("docid").distinct()

    # per-block tombstone arrays: |deletes|/span rows, broadcast to the join
    tomb_blocks = (
        tomb.withColumn("block", (F.col("docid") / index.block_span).cast("long"))
        .groupBy("block")
        .agg(F.collect_set("docid").alias("_tomb"))
    )
    block_ids = [r["block"] for r in tomb_blocks.select("block").limit(MAX_INLINE_BLOCKS + 1).collect()]
    inline = len(block_ids) <= MAX_INLINE_BLOCKS

    # a warm index's stamped df would go stale: drop it, and its serving
    # view below; the result takes df from the rewritten termstats
    p = index.postings.drop("df")
    positional = "positions" in p.columns
    joined = p.join(F.broadcast(tomb_blocks), "block", "left")
    mask = F.transform(F.col("docids"), lambda d: ~F.array_contains(F.col("_tomb"), d))
    touched = F.col("_tomb").isNotNull() & F.array_contains(mask, False)

    new_docids = F.when(touched, _mask_keep(F.col("docids"), mask)).otherwise(F.col("docids"))
    cleaned = joined.withColumn("_mask", mask).withColumn("_new_docids", new_docids)
    cleaned = cleaned.filter(F.size("_new_docids") > 0)

    def rewritten(col: str) -> Column:
        return F.when(touched, _mask_keep(F.col(col), F.col("_mask"))).otherwise(F.col(col))

    arr_cols = {"tfs": rewritten("tfs"), "dls": rewritten("dls")}
    if positional:
        arr_cols["positions"] = rewritten("positions")
    out_cols = []
    for c in p.columns:
        if c == "docids":
            out_cols.append(F.col("_new_docids").alias("docids"))
        elif c in arr_cols:
            out_cols.append(arr_cols[c].alias(c))
        elif c == "n":
            out_cols.append(F.size("_new_docids").alias("n"))
        elif c == "min_docid":
            out_cols.append(
                F.when(touched, F.element_at("_new_docids", 1))
                .otherwise(F.col("min_docid")).alias("min_docid")
            )
        elif c == "max_docid":
            out_cols.append(
                F.when(touched, F.element_at("_new_docids", -1))
                .otherwise(F.col("max_docid")).alias("max_docid")
            )
        elif c == "max_tf":
            out_cols.append(
                F.when(touched, F.array_max(arr_cols["tfs"]))
                .otherwise(F.col("max_tf")).alias("max_tf")
            )
        elif c == "min_dl":
            out_cols.append(
                F.when(touched, F.array_min(arr_cols["dls"]))
                .otherwise(F.col("min_dl")).alias("min_dl")
            )
        else:
            out_cols.append(F.col(c))
    new_postings = cleaned.select(*out_cols)

    # exact df deltas from the AFFECTED blocks only — the block filter is
    # pushed to the parquet scan, so a df lookup on an untouched term never
    # reads untouched row groups
    affected = p.join(F.broadcast(tomb_blocks), "block", "inner")
    if inline and block_ids:
        affected = affected.filter(F.col("block").isin(block_ids))
    amask = F.transform(F.col("docids"), lambda d: ~F.array_contains(F.col("_tomb"), d))
    deltas = (
        affected.select(
            "tid",
            (F.size("docids") - F.size(F.filter(amask, lambda m: m))).alias("_deleted"),
        )
        .filter(F.col("_deleted") > 0)
        .groupBy("tid")
        .agg(F.sum("_deleted").alias("_deleted"))
    )
    new_termstats = (
        index.termstats.join(F.broadcast(deltas), "tid", "left")
        .withColumn("df", (F.col("df") - F.coalesce(F.col("_deleted"), F.lit(0))).cast("long"))
        .filter(F.col("df") > 0)
        .select(*index.termstats.columns)
    )

    new_doclens = index.doclens.join(F.broadcast(tomb), "docid", "left_anti")
    stats = new_doclens.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]

    return replace(
        index,
        postings=new_postings,
        doclens=new_doclens,
        termstats=new_termstats,
        n_docs=int(stats["n"]),
        avgdl=float(stats["avgdl"] or 0.0),
        # views over rewritten frames own no caches of their own
        build_cache=None,
        corpus_cache=index.corpus_cache,
        df_cache=None,
        serving_view=None,
    )
