"""Maintained champion tier over a snapshot-committed segmented index.

``prune.champion_index`` is the batch primitive; this module keeps a
champion tier ON DISK in step with a streaming index root
(``streaming.ingest``): after micro-batches append segments, the tier
refreshes INCREMENTALLY — only terms whose postings changed (the new
segments' term set) are re-pruned against the full index; every other
term's champion postings are carried over from the previous tier
byte-for-byte. A 100 TB serving tier re-prunes the day's touched
vocabulary, not the whole dictionary. A tier's rows carry their term's
global df on disk (``prune.prune_postings``): read back, it scores with
no termstats probe.

Refresh policy (recorded in the tier's meta):

* segments APPENDED since the tier's base snapshot, folded/deletes
  unchanged → incremental re-prune of the new segments' terms.
* anything else — tombstones added, compaction folded segments (which
  may also have physically purged tombstones the tier never saw) → full
  rebuild. Compaction itself is content-preserving, but distinguishing
  "fold only" from "fold + purge" would need snapshot history the gc
  may have collected, so the safe answer is rebuild.
* base snapshot == current snapshot → no-op.

Commit protocol mirrors the segment store: each tier is an IMMUTABLE
dir ``champion/tier-<snapshot_id>`` (written via ``index.write_index``,
so ``read_index`` serves it directly with ``pruned=True``); a
``_champion.json`` written LAST makes it visible; readers take the
highest committed id. A crash mid-write leaves an invisible dir.
"""

from __future__ import annotations

import json
import uuid
from dataclasses import replace

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mini_search_engine_spark.index.build import (
    TERMSTATS_SCHEMA,
    InvertedIndex,
    _hadoop_fs,
    read_index,
    write_index,
)
from mini_search_engine_spark.index.prune import champion_index, prune_postings
from mini_search_engine_spark.streaming.ingest import read_segmented_index
from mini_search_engine_spark.streaming.snapshots import (
    _read_sidecar,
    current_snapshot,
)


def _tier_root(index_path: str) -> str:
    return f"{index_path}/champion"


def _meta_path(tier_dir: str) -> str:
    return f"{tier_dir}/_champion.json"


def _list_tiers(spark: SparkSession, index_path: str) -> list[int]:
    fs, root = _hadoop_fs(spark, _tier_root(index_path))
    if not fs.exists(root):
        return []
    ids = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("tier-"):
            meta_fs, meta = _hadoop_fs(spark, _meta_path(f"{_tier_root(index_path)}/{name}"))
            if meta_fs.exists(meta):
                ids.append(int(name[len("tier-") :]))
    return sorted(ids)


def _read_meta(spark: SparkSession, tier_dir: str) -> dict:
    return json.loads(_read_sidecar(spark, _meta_path(tier_dir)))


def _write_meta(spark: SparkSession, tier_dir: str, meta: dict) -> None:
    # stage-then-rename: the meta file is the tier's COMMIT marker
    # (_list_tiers checks its existence), so it must appear atomically —
    # a direct create() could crash mid-write and leave a torn-but-
    # visible marker that breaks every later _read_meta.
    fs, p = _hadoop_fs(spark, _meta_path(tier_dir))
    _, tmp = _hadoop_fs(
        spark, _meta_path(tier_dir) + f".{uuid.uuid4().hex}.tmp"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(meta).encode()))
    finally:
        out.close()
    if not fs.rename(tmp, p):
        fs.delete(tmp, False)
        raise IOError(f"champion meta commit failed: rename to {p} lost")


def current_champion_id(spark: SparkSession, index_path: str) -> int | None:
    ids = _list_tiers(spark, index_path)
    return ids[-1] if ids else None


def read_champion(spark: SparkSession, index_path: str) -> InvertedIndex:
    """Read the newest committed champion tier (an ordinary pruned
    InvertedIndex — every searcher runs on it unchanged)."""
    cid = current_champion_id(spark, index_path)
    if cid is None:
        raise FileNotFoundError(f"no committed champion tier under {index_path}")
    return read_index(spark, f"{_tier_root(index_path)}/tier-{cid}")


def refresh_champion(
    spark: SparkSession,
    index_path: str,
    n_per_term: int = 128,
    analyzer: str = "porter",
    block_span: int | None = None,
) -> tuple[InvertedIndex, str]:
    """Bring the champion tier up to the CURRENT snapshot; returns
    (tier index, mode) with mode ∈ {"noop", "incremental", "full"}.

    The incremental path computes changed terms as the union of the NEW
    segments' dictionaries (each segment writes a (term, tid, df)
    sidecar, so this is a metadata-sized read, not a postings scan),
    re-prunes ONLY those terms against the full segmented index
    (tid-pushdown semi-join before the explode), and unions the previous
    tier's untouched terms as-is (their postings, so their stamped df, did
    not change; a re-pruned term's df counts all its current postings).
    Global sidecars (termstats, doclens) are always taken fresh from the
    current snapshot — pruning changes which postings are scorable, never
    the collection statistics."""
    snap = current_snapshot(spark, index_path)
    if snap is None:
        raise FileNotFoundError(f"no snapshot-committed index at {index_path}")

    full = read_segmented_index(spark, index_path, analyzer=analyzer)
    if block_span is not None:
        full = replace(full, block_span=block_span)

    cid = current_champion_id(spark, index_path)
    prev_meta = (
        _read_meta(spark, f"{_tier_root(index_path)}/tier-{cid}")
        if cid is not None
        else None
    )

    mode = "full"
    if prev_meta is not None:
        if prev_meta["base_snapshot_id"] == snap.snapshot_id:
            return read_champion(spark, index_path), "noop"
        append_only = (
            prev_meta["n_per_term"] == n_per_term
            and sorted(prev_meta["folded"]) == sorted(snap.folded)
            and sorted(prev_meta["deletes"]) == sorted(snap.deletes)
            and set(prev_meta["segments"]) <= set(snap.segments)
        )
        if append_only:
            mode = "incremental"

    if mode == "incremental":
        new_segs = sorted(set(snap.segments) - set(prev_meta["segments"]))
        changed = (
            spark.read.schema(TERMSTATS_SCHEMA)
            .parquet(*[f"{index_path}/segments/seg={s}/termstats" for s in new_segs])
            .select("tid")
            .distinct()
        )
        prev_tier = read_champion(spark, index_path)
        kept = prev_tier.postings.join(F.broadcast(changed), "tid", "left_anti")
        repruned = prune_postings(
            full.postings.join(F.broadcast(changed), "tid", "left_semi"),
            n_per_term,
        )
        tier = replace(
            full,
            postings=kept.unionByName(repruned),
            positional=False,
            compressed=False,
            build_cache=None,
            df_cache=None,
            serving_view=None,
            pruned=True,
        )
    else:
        tier = champion_index(full, n_per_term=n_per_term)

    tier_dir = f"{_tier_root(index_path)}/tier-{snap.snapshot_id}"
    write_index(tier, tier_dir)
    _write_meta(
        spark,
        tier_dir,
        {
            "base_snapshot_id": snap.snapshot_id,
            "segments": sorted(snap.segments),
            "folded": sorted(snap.folded),
            "deletes": sorted(snap.deletes),
            "n_per_term": n_per_term,
            "mode": mode,
        },
    )
    return read_index(spark, tier_dir), mode


def gc_champion(spark: SparkSession, index_path: str, retain: int = 2) -> list[int]:
    """Drop all but the newest ``retain`` committed tiers; returns the
    collected ids (in-flight readers of the previous tier keep working,
    same retention idea as snapshots.gc)."""
    ids = _list_tiers(spark, index_path)
    victims = ids[:-retain] if retain > 0 else ids
    for cid in victims:
        fs, p = _hadoop_fs(spark, f"{_tier_root(index_path)}/tier-{cid}")
        fs.delete(p, True)
    return victims
