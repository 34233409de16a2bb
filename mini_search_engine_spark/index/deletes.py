"""Doc-level deletes: merge-on-read tombstones over the blocked index.

The reference's only deletion is term-granular and lazy
(``InvertedIndexManager.java`` deleteDocuments quirk — see index/merge.py
B5); a training-data pipeline needs DOC-granular deletes (takedowns,
opt-outs, dedup verdicts) without rewriting a 100 TB index. This module is
the Iceberg equality-delete analog over our postings layout:

* a tombstone set is a plain ``docid`` DataFrame (a delete *file* once
  persisted — see streaming/ingest.delete_docs);
* its distinct docids enter the postings and doclens plans as SQL ``IN``
  literals (past 10 values a hash ``InSet``): no join, no broadcast.
  Postings blocks are docid-range aligned (``block = docid //
  block_span``), so the tombstones name exactly the blocks they touch;
  only those rows get their parallel arrays (docids/tfs/dls[/positions])
  positionally filtered, in pure Catalyst. At realistic delete rates
  (≪1% of docs) almost every block passes through untouched.
* term/doc statistics stay EXACT: per-tid df deltas are computed from the
  touched blocks only, doc count and avgdl from the filtered doclens —
  BM25 over the merged view is identical to a from-scratch build on the
  surviving documents (asserted in tests/test_deletes.py).

Merge-on-read is the serving path; compaction (streaming/ingest.
maybe_compact) physically drops tombstoned postings because it merges the
ALREADY-FILTERED view, after which the snapshot carries no delete files:
that bounds the literal set.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mini_search_engine_spark.index.build import InvertedIndex, doc_stats, sql_int_list

# the schema of a delete file
TOMBSTONE_SCHEMA = "docid long"


def _in(col: str, values: list[int]) -> str:
    """SQL text ``col IN (v, …)`` — ``false`` for no values."""
    if not values:
        return "false"
    return f"{col} IN {sql_int_list(values)}"


def apply_deletes(index: InvertedIndex, tombstones: DataFrame) -> InvertedIndex:
    """Return a view of ``index`` with every docid in ``tombstones``
    removed, statistics exact. Two small jobs run here: one collects the
    tombstone docids, one takes (n_docs, avgdl) from the surviving doclens
    (the input's are not read). The rewrite is SQL text, so its Py4J cost
    does not grow with the number of tombstones.

    ``tombstones``: any DataFrame with a ``docid`` column (deleting a
    docid that does not exist is a no-op). A compressed input is decoded
    first."""
    if index.compressed:
        index = index.decoded()
    ids = sorted({int(r[0]) for r in tombstones.select("docid").collect()})
    touched_blocks = _in("block", sorted({d // index.block_span for d in ids}))

    # a warm index's stamped df would go stale: drop it, and its serving
    # view below; the result takes df from the rewritten termstats. Every
    # rewrite tests the INPUT docids against the literal set, once per
    # element: an intermediate mask column would be inlined by Catalyst
    # into each pushed-down filter and evaluated again per element.
    p = index.postings.drop("df")

    def kept(arr: str) -> str:
        return f"filter({arr}, (x, i) -> NOT {_in('docids[i]', ids)})"

    # rewritten only in touched blocks; a row whose docs all go is dropped
    rewritten = {
        "n": f"size({kept('docids')})",
        "min_docid": f"element_at({kept('docids')}, 1)",
        "max_docid": f"element_at({kept('docids')}, -1)",
        "max_tf": f"array_max({kept('tfs')})",
        "min_dl": f"array_min({kept('dls')})",
        **{arr: kept(arr) for arr in ("docids", "tfs", "dls", "positions")},
    }
    new_postings = p.filter(
        f"NOT ({touched_blocks} AND forall(docids, d -> {_in('d', ids)}))"
    ).selectExpr(
        *[
            f"CASE WHEN {touched_blocks} THEN {rewritten[c]} ELSE {c} END AS {c}"
            if c in rewritten
            else c
            for c in p.columns
        ]
    )

    # exact df deltas from the touched blocks only — the block filter is
    # pushed to the parquet scan, so untouched row groups are never read
    deltas = (
        p.filter(touched_blocks)
        .selectExpr("tid", f"size(filter(docids, d -> {_in('d', ids)})) AS _deleted")
        .filter("_deleted > 0")
        .groupBy("tid")
        .agg(F.sum("_deleted").alias("_deleted"))
    )
    new_termstats = (
        index.termstats.join(F.broadcast(deltas), "tid", "left")
        .withColumn("df", (F.col("df") - F.coalesce(F.col("_deleted"), F.lit(0))).cast("long"))
        .filter(F.col("df") > 0)
        .select(*index.termstats.columns)
    )

    new_doclens = index.doclens.filter(f"NOT {_in('docid', ids)}")
    n_docs, avgdl = doc_stats(new_doclens)

    return replace(
        index,
        postings=new_postings,
        doclens=new_doclens,
        termstats=new_termstats,
        n_docs=n_docs,
        avgdl=avgdl,
        # views over rewritten frames own no caches of their own
        build_cache=None,
        corpus_cache=index.corpus_cache,
        df_cache=None,
        serving_view=None,
    )
