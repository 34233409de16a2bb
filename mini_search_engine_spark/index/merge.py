"""Segment merge + lazy term deletion.

Reference: ``mergeAllSegments`` (``InvertedIndexManager.java:327-440``)
pairwise-merges segments — outer-joining term dictionaries
(``Utils.mergeWordBlocks``), rebasing the right segment's docids by the
left store size (``Utils.increaseDocId``) and concatenating posting lists.
``deleteDocuments(keyword)`` (``:1548-1551``) is LAZY: it records the
keyword; search filters the posting list out (``filterDeletedWordBlocks``,
``:861-869``) and merge drops it permanently. NB the reference deletes the
*posting list by keyword*, not documents — kept verbatim (quirk #9,
SURVEY.md §7.1).

Spark-first: a segment is just an InvertedIndex whose docids may be
segment-local. Merge = (optional docid rebase by cumulative offsets) →
union → re-block → re-aggregate. The re-aggregation replaces the
reference's O(segments²) pairwise loop with ONE shuffle on (term, block) —
the docid-range blocking bounds every reduce group, which is what makes
the merge skew-safe for stopword-grade terms at scale.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mini_search_engine_spark.analysis.udfs import analyze_query
from mini_search_engine_spark.index.build import InvertedIndex


def _posting_level(index: InvertedIndex) -> DataFrame:
    """Blocked postings → posting granularity (docid, tid, tf, dl[, positions]).
    Term strings never enter the merge — every row moves an 8-byte tid; the
    merged dictionary comes from the segments' termstats sidecars."""
    idx = index.decoded()
    arrays = ["docids", "tfs", "dls"] + (["positions"] if index.positional else [])
    z = idx.postings.select("tid", F.explode(F.arrays_zip(*arrays)).alias("z"))
    cols = [
        "tid",
        F.col("z.docids").alias("docid"),
        F.col("z.tfs").alias("tf"),
        F.col("z.dls").alias("dl"),
    ]
    if index.positional:
        cols.append(F.col("z.positions").alias("positions"))
    return z.select(*cols)


def merge_segments(
    segments: list[InvertedIndex],
    rebase_docids: bool = False,
    block_span: int | None = None,
) -> InvertedIndex:
    """Merge index segments into one. ``rebase_docids=True`` reproduces the
    reference's segment-local-docid + offset scheme
    (``Utils.increaseDocId``, cumulative left-store sizes); with globally
    assigned docids (this engine's default) leave it False.

    The re-aggregation is Catalyst's hash aggregation on (tid, block) —
    ``collect_list`` of (docid, tf, dl[, positions]) structs, sorted
    within each group — so every (tid, block) comes out as ONE row, the
    split rows of partition-local builds included. It is the only merge
    path (ingest compaction runs it) and the one posting-level exchange
    in the engine: the segments' rows for a key live in different files,
    and a hash agg over int keys beats sorting raw rows when they must
    meet anyway. The merged postings are uncompressed."""
    assert segments, "need at least one segment"
    span = block_span or segments[0].block_span
    positional = all(s.positional for s in segments)

    parts = []
    offset = 0
    for seg in segments:
        p = _posting_level(seg)
        if not positional and seg.positional:
            p = p.drop("positions")
        if rebase_docids:
            p = p.withColumn("docid", F.col("docid") + F.lit(offset))
        parts.append(p)
        offset += seg.n_docs
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)

    blocked = merged.withColumn("block", (F.col("docid") / span).cast("long"))
    fields = [F.col("docid"), F.col("tf"), F.col("dl")]
    if positional:
        fields.append(F.col("positions"))
    agg = blocked.groupBy("tid", "block").agg(
        F.sort_array(F.collect_list(F.struct(*fields))).alias("plist"),
        F.count("*").cast("int").alias("n"),
        F.min("docid").alias("min_docid"),
        F.max("docid").alias("max_docid"),
        F.max("tf").alias("max_tf"),
        F.min("dl").alias("min_dl"),
    )
    cols = [
        "tid",
        "block",
        "n",
        F.transform("plist", lambda x: x["docid"]).alias("docids"),
        F.transform("plist", lambda x: x["tf"]).alias("tfs"),
        F.transform("plist", lambda x: x["dl"]).alias("dls"),
        "min_docid",
        "max_docid",
        "max_tf",
        "min_dl",
    ]
    if positional:
        cols.insert(6, F.transform("plist", lambda x: x["positions"]).alias("positions"))
    postings = agg.select(*cols)

    n_docs = sum(s.n_docs for s in segments)
    doclens = None
    off = 0
    for seg in segments:
        d = seg.doclens
        if rebase_docids:
            d = d.withColumn("docid", F.col("docid") + F.lit(off))
        doclens = d if doclens is None else doclens.unionByName(d)
        off += seg.n_docs
    avgdl_row = doclens.agg(F.avg("dl")).collect()[0]
    # merged dictionary: union of the segments' (term, tid) sidecars —
    # tids are a pure hash of the term, so identical terms from different
    # segments already carry identical ids (no remapping, no rebase)
    tdict = None
    for seg in segments:
        d = seg.termstats.select("term", "tid")
        tdict = d if tdict is None else tdict.unionByName(d)
    tdict = tdict.dropDuplicates(["tid"])
    termstats = (
        postings.groupBy("tid")
        .agg(F.sum("n").cast("long").alias("df"))
        .join(tdict, "tid")
        .select("term", "tid", "df")
    )

    return InvertedIndex(
        postings=postings,
        doclens=doclens,
        termstats=termstats,
        n_docs=n_docs,
        avgdl=float(avgdl_row[0] or 0.0),
        analyzer=segments[0].analyzer,
        block_span=span,
        positional=positional,
        compressed=False,
    )


def delete_terms(index: InvertedIndex, keywords: list[str]) -> InvertedIndex:
    """Lazy deletion of posting lists by keyword (reference semantics:
    deletes the TERM's posting list, not documents). The returned index is
    a filtered view — ``write_index`` materializes the purge (≅ merge-time
    permanent drop)."""
    terms = sorted({t for k in keywords for t in analyze_query(k, index.analyzer)})
    if not terms:
        return index
    from mini_search_engine_spark.index.termid import term_ids

    tids = term_ids(terms)
    # a pruned tier's stamped df is index data, unchanged for other terms
    postings = (index.postings if index.pruned else index.postings.drop("df")).filter(
        ~F.col("tid").isin(tids)
    )
    termstats = index.termstats.filter(~F.col("tid").isin(tids))
    # drop any warm-mode df memo, stamped df and serving view: deleted
    # terms must not resolve from them
    return replace(
        index, postings=postings, termstats=termstats, df_cache=None, serving_view=None
    )
