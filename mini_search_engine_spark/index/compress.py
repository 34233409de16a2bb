"""Posting-list codecs: delta + varint, and the naive 4-byte format.

Byte-compatible with the reference codecs:

* ``DeltaVarLenCompressor`` (``index/positional/DeltaVarLenCompressor.java:14-91``):
  gaps (``g[0]=v[0]``, ``g[i]=v[i]-v[i-1]``), each gap emitted as 7-bit
  groups most-significant-first with continuation bit 0x80 on every byte
  except the last; zero encodes as a single ``0x00``. Byte goldens from
  ``Team1CompressorTest.java:46-75`` are replicated in tests.
* ``NaiveCompressor`` (``index/positional/NaiveCompressor.java:11-29``):
  4-byte big-endian ints, no compression.

Python-side kernels are numpy-vectorized where it matters (delta via
``np.diff``/``np.cumsum``; varint group extraction via shifts) and exposed
as Arrow-batched pandas UDF column functions so encode/decode stays off the
per-row-Python slow path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)


# --------------------------- scalar/numpy kernels ---------------------------

def _varint_bytes(values: np.ndarray) -> bytes:
    """Encode a non-negative int64 array as concatenated varints
    (7-bit groups, MSB-group first, 0x80 continuation on all but last)."""
    if len(values) == 0:
        return b""
    vals = values.astype(np.uint64)
    # bit length per value, then 7-bit group count: ceil(bitlen/7), min 1
    bitlen = np.zeros(len(vals), dtype=np.int64)
    tmp = vals.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        bitlen[nz] += 1
        tmp = tmp >> np.uint64(1)
    ngroups = np.maximum((bitlen + 6) // 7, 1)
    total = int(ngroups.sum())
    out = np.empty(total, dtype=np.uint8)
    ends = np.cumsum(ngroups)
    starts = ends - ngroups
    # emit groups: for each value, groups MSB-first
    maxg = int(ngroups.max())
    for g in range(maxg):
        # group index from the END (LSB side): last group of value i sits at ends[i]-1
        sel = ngroups > g
        pos = ends[sel] - 1 - g
        shifted = (vals[sel] >> np.uint64(7 * g)) & np.uint64(0x7F)
        cont = np.where(g == 0, 0, 0x80)
        out[pos] = shifted.astype(np.uint8) | np.uint8(cont)
    return out.tobytes()


def _varint_parse(buf: bytes) -> np.ndarray:
    if not buf:
        return np.empty(0, dtype=np.int64)
    arr = np.frombuffer(buf, dtype=np.uint8)
    is_last = (arr & 0x80) == 0
    # value id per byte = count of previous terminators
    vid = np.zeros(len(arr), dtype=np.int64)
    vid[1:] = np.cumsum(is_last[:-1])
    nvals = int(is_last.sum())
    payload = (arr & 0x7F).astype(np.uint64)
    vals = np.zeros(nvals, dtype=np.uint64)
    # accumulate MSB-first: val = val*128 + group
    # loop over max groups per value (bounded by 10 for 64-bit)
    # position within value:
    lasts = np.nonzero(is_last)[0]
    starts = np.empty(nvals, dtype=np.int64)
    starts[0] = 0
    starts[1:] = lasts[:-1] + 1
    lens = lasts - starts + 1
    maxg = int(lens.max())
    for g in range(maxg):
        sel = lens > g
        idx = starts[sel] + g
        vals[sel] = (vals[sel] << np.uint64(7)) | payload[idx]
    return vals.astype(np.int64)


def delta_varint_encode(values) -> bytes:
    """Encode a sorted (or any) int sequence: delta then varint."""
    a = np.asarray(values, dtype=np.int64)
    if a.size == 0:
        return b""
    gaps = np.empty_like(a)
    gaps[0] = a[0]
    np.subtract(a[1:], a[:-1], out=gaps[1:])
    if (gaps[1:] < 0).any():
        raise ValueError("delta_varint_encode requires non-decreasing input")
    return _varint_bytes(gaps)


def delta_varint_decode(buf: bytes) -> np.ndarray:
    gaps = _varint_parse(bytes(buf))
    return np.cumsum(gaps)


def varint_encode(values) -> bytes:
    """Varint without delta (for tf arrays, which aren't sorted)."""
    return _varint_bytes(np.asarray(values, dtype=np.int64))


def varint_decode(buf: bytes) -> np.ndarray:
    return _varint_parse(bytes(buf))


def naive_encode(values) -> bytes:
    return np.asarray(values, dtype=">i4").tobytes()


def naive_decode(buf: bytes) -> np.ndarray:
    return np.frombuffer(bytes(buf), dtype=">i4").astype(np.int64)


# ----------------------- batch-segmented kernels ---------------------------
# The block codec UDFs process whole Arrow batches (~10k posting blocks) per
# call. Mapping the per-array kernels over rows costs 3 numpy-kernel
# invocations PER ROW — overhead-dominated for the small blocks a fine
# block_span produces (measured: the encode stage stops scaling past ~8
# cores from allocation churn). These kernels concatenate every array in
# the batch, run ONE vectorized varint pass with per-segment delta resets,
# and slice the single output buffer per row.


def _varint_ngroups(vals: np.ndarray) -> np.ndarray:
    """7-bit group count per value (ceil(bitlen/7), min 1), vectorized."""
    bitlen = np.zeros(len(vals), dtype=np.int64)
    tmp = vals.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        bitlen[nz] += 1
        tmp = tmp >> np.uint64(1)
    return np.maximum((bitlen + 6) // 7, 1)


def encode_flat_segments(
    flat: np.ndarray, starts: np.ndarray, ends: np.ndarray, delta: bool
) -> list[bytes]:
    """Encode contiguous segments of a flat int64 array (segment i =
    ``flat[starts[i]:ends[i]]``) — the zero-copy entry point for callers
    that already hold group boundaries (the sorted-partition index build)."""
    n = len(starts)
    if flat.size == 0:
        return [b""] * n
    lens = ends - starts
    return _encode_core(flat, starts, ends, lens, delta)


def _encode_batch(series: pd.Series, delta: bool) -> list[bytes]:
    n = len(series)
    arrs = [np.asarray(a, dtype=np.int64) for a in series]
    lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        return [b""] * n
    flat = np.concatenate(arrs)
    ends = np.cumsum(lens)
    starts = ends - lens
    return _encode_core(flat, starts, ends, lens, delta)


def encode_flat_segments_grouped(
    flat: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    group_starts: np.ndarray,
    group_ends: np.ndarray,
    delta: bool,
) -> list[bytes]:
    """Encode per-SEGMENT (delta restarts at each segment) but emit one
    bytes object per GROUP of consecutive segments — group g =
    segments[group_starts[g]:group_ends[g]]. Because segments are
    contiguous in the flat encoding, a group's bytes are a single slice of
    the raw buffer; this avoids materializing millions of per-segment
    bytes objects when the caller (the fused positional build: segments =
    postings, groups = (term, block) rows) only needs group-level blobs."""
    n_groups = len(group_starts)
    if flat.size == 0:
        return [b""] * n_groups
    lens = ends - starts
    raw, bstarts, bends = _encode_core_raw(flat, starts, ends, lens, delta)
    out = []
    for a, b in zip(group_starts.tolist(), group_ends.tolist()):
        out.append(raw[bstarts[a] : bends[b - 1]] if b > a else b"")
    return out


def _encode_core(
    flat: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    lens: np.ndarray,
    delta: bool,
) -> list[bytes]:
    raw, bstarts, bends = _encode_core_raw(flat, starts, ends, lens, delta)
    return [raw[s:e] for s, e in zip(bstarts.tolist(), bends.tolist())]


def _encode_core_raw(
    flat: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    lens: np.ndarray,
    delta: bool,
):
    if delta:
        gaps = np.empty_like(flat)
        gaps[1:] = flat[1:] - flat[:-1]
        nz = starts[lens > 0]
        gaps[nz] = flat[nz]
        if (gaps < 0).any():
            raise ValueError("delta encode requires non-decreasing segments")
    else:
        gaps = flat
        if (gaps < 0).any():
            raise ValueError("varint encode requires non-negative values")
    vals = gaps.astype(np.uint64)
    ngroups = _varint_ngroups(vals)
    gend = np.cumsum(ngroups)
    gstart = gend - ngroups
    out = np.empty(int(gend[-1]), dtype=np.uint8)
    maxg = int(ngroups.max())
    for g in range(maxg):
        sel = ngroups > g
        pos = gend[sel] - 1 - g
        shifted = (vals[sel] >> np.uint64(7 * g)) & np.uint64(0x7F)
        out[pos] = shifted.astype(np.uint8) | np.uint8(0 if g == 0 else 0x80)
    # per-row byte ranges: group-offset prefix indexed at value boundaries
    goff = np.concatenate(([0], gend))
    bstarts = goff[starts]
    bends = goff[ends]
    raw = out.tobytes()
    return raw, bstarts, bends


def _decode_batch(series: pd.Series, delta: bool) -> list[np.ndarray]:
    n = len(series)
    bufs = [bytes(b) if b is not None else b"" for b in series]
    blens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
    if int(blens.sum()) == 0:
        return [np.empty(0, dtype=np.int64)] * n
    arr = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    is_last = (arr & 0x80) == 0
    payload = (arr & 0x7F).astype(np.uint64)
    nvals = int(is_last.sum())
    lasts = np.nonzero(is_last)[0]
    vstarts = np.empty(nvals, dtype=np.int64)
    vstarts[0] = 0
    vstarts[1:] = lasts[:-1] + 1
    vlens = lasts - vstarts + 1
    vals = np.zeros(nvals, dtype=np.uint64)
    for g in range(int(vlens.max())):
        sel = vlens > g
        vals[sel] = (vals[sel] << np.uint64(7)) | payload[vstarts[sel] + g]
    vals = vals.astype(np.int64)
    # values per row: terminator count within each row's byte range
    bends = np.cumsum(blens)
    cum_last = np.concatenate(([0], np.cumsum(is_last)))
    row_vends = cum_last[bends]
    row_vstarts = row_vends - (cum_last[bends] - cum_last[bends - blens])
    if delta:
        # segmented cumsum: global cumsum minus the running total at each
        # row's first value (np.repeat skips zero-count rows)
        c = np.cumsum(vals)
        counts = row_vends - row_vstarts
        row_base = np.where(row_vstarts > 0, c[np.maximum(row_vstarts - 1, 0)], 0)
        vals = c - np.repeat(row_base, counts)
    return np.split(vals, row_vends[:-1])


# ----------------------- position-list codec (C4) ---------------------------
# The reference compresses position lists with the same delta+varint codec,
# addressed via a global-offset index (``InvertedIndexManager.java:596-606``).
# Here the per-posting tf (= position-list length, ``:652``) recovers the
# list boundaries, so a postings row needs ONE binary column: each doc's
# positions are delta-encoded with the gap restarting at the doc boundary,
# and the varint streams are concatenated in docid order.


def _encode_positions_batch(rows: pd.Series) -> list[bytes]:
    """rows: Series of list-of-list positions (one inner list per posting)."""
    out = []
    for row in rows:
        if row is None or len(row) == 0:
            out.append(b"")
            continue
        arrs = [np.asarray(a, dtype=np.int64) for a in row]
        lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=len(arrs))
        if int(lens.sum()) == 0:
            out.append(b"")
            continue
        flat = np.concatenate(arrs)
        ends = np.cumsum(lens)
        starts = ends - lens
        out.append(b"".join(encode_flat_segments(flat, starts, ends, delta=True)))
    return out


def _decode_positions_batch(bufs: pd.Series, tfs: pd.Series) -> list[list]:
    """Inverse of _encode_positions_batch; ``tfs`` gives per-posting list
    lengths (tf == len(positions), InvertedIndexManager.java:652)."""
    out = []
    for buf, row_tfs in zip(bufs, tfs):
        row_tfs = np.asarray(row_tfs, dtype=np.int64)
        if buf is None or len(buf) == 0:
            out.append([np.empty(0, dtype=np.int64)] * len(row_tfs))
            continue
        vals = _varint_parse(bytes(buf))
        ends = np.cumsum(row_tfs)
        starts = ends - row_tfs
        c = np.cumsum(vals)
        base = np.where(starts > 0, c[np.maximum(starts - 1, 0)], 0)
        abs_vals = c - np.repeat(base, row_tfs)
        out.append(np.split(abs_vals, ends[:-1]))
    return out


@F.pandas_udf(BinaryType())
def encode_positions_udf(rows: pd.Series) -> pd.Series:
    return pd.Series(_encode_positions_batch(rows))


@F.pandas_udf(ArrayType(ArrayType(IntegerType())))
def decode_positions_udf(bufs: pd.Series, tfs: pd.Series) -> pd.Series:
    return pd.Series(
        [
            [a.astype("int32").tolist() for a in row]
            for row in _decode_positions_batch(bufs, tfs)
        ]
    )


# Combined block codec: one Arrow round-trip instead of three.

_ENC_SCHEMA = StructType(
    [
        StructField("docids_bytes", BinaryType()),
        StructField("tfs_bytes", BinaryType()),
        StructField("dls_bytes", BinaryType()),
    ]
)
_DEC_SCHEMA = StructType(
    [
        StructField("docids", ArrayType(LongType())),
        StructField("tfs", ArrayType(IntegerType())),
        StructField("dls", ArrayType(IntegerType())),
    ]
)


def encode_blocks_arrow(df, positional: bool):
    """Blocked-postings frame (…, docids, tfs, dls[, positions], …) → the
    same frame with the array columns replaced by codec byte columns, via
    ONE ``mapInArrow`` pass (r6).

    The pandas-UDF encode path (``encode_block_udf`` +
    ``encode_positions_udf``) pythonizes every posting: Arrow list columns
    become object Series of Python lists (one list per row, one int object
    per posting/position) before the numpy kernels ever run — measured
    ~0.37 s of the sf1.0 exchange build for 5.7k rows / 1.1M postings.
    Here the ListArray offset/value buffers feed ``encode_flat_segments``
    directly (zero-copy numpy over the flat child arrays; offsets ARE the
    segment boundaries), so no per-posting Python objects exist. Byte
    output is identical — same per-segment delta+varint kernels.

    Non-array columns pass through untouched; output column order is
    (passthrough…, *_bytes) with the array columns dropped.

    No build path calls it any more — ``build_index`` encodes inside its
    fused kernel. It stays as the codec entry point for an already-built
    uncompressed postings frame: the byte-exactness test checks it against
    the pandas-UDF path, and the benchmark's traced runs wrap it by name
    (``perfbench/workloads.py``)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    arr_cols = ["docids", "tfs", "dls"] + (["positions"] if positional else [])
    passthrough = [f for f in df.schema.fields if f.name not in arr_cols]
    out_fields = [T.StructField(f.name, f.dataType, f.nullable) for f in passthrough]
    out_fields += [
        T.StructField("docids_bytes", T.BinaryType(), False),
        T.StructField("tfs_bytes", T.BinaryType(), False),
        T.StructField("dls_bytes", T.BinaryType(), False),
    ]
    if positional:
        out_fields.append(T.StructField("positions_bytes", T.BinaryType(), False))
    schema = T.StructType(out_fields)
    pass_names = [f.name for f in passthrough]

    def _segments(arr):
        """ListArray → (flat int64 child values, starts, ends). Offsets
        index the UNsliced child, so trim it to the used range."""
        offs = arr.offsets.to_numpy().astype(np.int64)
        base = int(offs[0])
        flat = arr.values.to_numpy().astype(np.int64)[base : int(offs[-1])]
        return flat, offs[:-1] - base, offs[1:] - base

    def kernel(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            by_name = {n: rb.column(i) for i, n in enumerate(rb.schema.names)}
            arrays = [by_name[n] for n in pass_names]
            d_flat, d_s, d_e = _segments(by_name["docids"])
            t_flat, t_s, t_e = _segments(by_name["tfs"])
            l_flat, l_s, l_e = _segments(by_name["dls"])
            arrays.append(pa.array(encode_flat_segments(d_flat, d_s, d_e, delta=True), pa.binary()))
            arrays.append(pa.array(encode_flat_segments(t_flat, t_s, t_e, delta=False), pa.binary()))
            arrays.append(pa.array(encode_flat_segments(l_flat, l_s, l_e, delta=False), pa.binary()))
            if positional:
                outer = by_name["positions"]
                o_offs = outer.offsets.to_numpy().astype(np.int64)
                inner = outer.values  # unsliced child list<int>
                i_offs = inner.offsets.to_numpy().astype(np.int64)
                pbase = int(i_offs[0])  # rebase so flat[0] is a segment start
                p_flat = inner.values.to_numpy().astype(np.int64)[
                    pbase : int(i_offs[-1])
                ]
                i_offs = i_offs - pbase
                arrays.append(
                    pa.array(
                        encode_flat_segments_grouped(
                            p_flat, i_offs[:-1], i_offs[1:], o_offs[:-1], o_offs[1:], delta=True
                        ),
                        pa.binary(),
                    )
                )
            yield pa.RecordBatch.from_arrays(arrays, names=[f.name for f in out_fields])

    return df.mapInArrow(kernel, schema=schema)


@F.pandas_udf(_ENC_SCHEMA)
def encode_block_udf(docids: pd.Series, tfs: pd.Series, dls: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "docids_bytes": _encode_batch(docids, delta=True),
            "tfs_bytes": _encode_batch(tfs, delta=False),
            "dls_bytes": _encode_batch(dls, delta=False),
        }
    )


@F.pandas_udf(_DEC_SCHEMA)
def decode_block_udf(
    docids_bytes: pd.Series, tfs_bytes: pd.Series, dls_bytes: pd.Series
) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "docids": _decode_batch(docids_bytes, delta=True),
            "tfs": [a.astype(np.int32) for a in _decode_batch(tfs_bytes, delta=False)],
            "dls": [a.astype(np.int32) for a in _decode_batch(dls_bytes, delta=False)],
        }
    )
