"""Deduplication operators over a (docid, content) corpus.

* exact — sha256 grouping; canonical = min docid per hash.
* MinHash + LSH — word-shingle MinHash signatures, banded LSH bucketing
  for candidate pairs. Hashes are md5-prefix based (portable: DuckDB can
  replicate ``('0x' || substring(md5(s),1,15))::BIGINT`` exactly), so the
  correctness oracle reproduces signatures bit-for-bit.
* SimHash — 60-bit sign-of-weighted-bit-sums signature (bits 0..59 keep the
  value positive in a signed 64-bit int). Computed as 60 aggregate
  expressions in ONE groupBy(docid): map-side partial aggregation reduces
  each partition to one row per docid BEFORE the shuffle, versus the naive
  plan (explode 60 rows per (doc, token)) that ships 60× the data.
* n-gram Jaccard — exact Jaccard over shingle sets, evaluated only on LSH
  candidate pairs (the scale path: no O(n²) cross join).

Candidate pairs are generated **inside each LSH bucket** (groupBy band key →
collect ids → intra-bucket pair comprehension) rather than by self-joining
the band table: one shuffle instead of two join sides, and no persist is
needed to guard a double lineage. A bucket of m docs yields m(m-1)/2 pairs
under any formulation — the bucket keys themselves are md5-distributed, so
the groupBy is skew-safe unless the corpus contains a near-duplicate cluster
of that size (which is precisely what the operator exists to find).

Everything is native Catalyst (split/transform/explode/groupBy); no
intermediate is cached — at 100 TB re-scanning the corpus is cheaper than
materializing an exploded shingle table.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 60-bit hash from an md5 hex prefix — portable to DuckDB bit-for-bit.
def md5_long(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _tokens(col: Column) -> Column:
    """Whitespace tokens, lowercased (dedup ops don't need stemming)."""
    return F.filter(F.split(F.lower(col), "\\s+"), lambda t: t != F.lit(""))


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-shingles joined by a single space; docs shorter than k words
    contribute their full token string as one shingle."""
    toks = _tokens(col)
    joined = F.array_join(toks, " ")
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return F.when(F.size(toks) >= k, sh).otherwise(F.array(joined))


def bucket_pairs(
    keyed: DataFrame,
    key_cols: list[str],
    id_col: str,
    out_a: str,
    out_b: str,
    max_bucket: int | None = None,
) -> DataFrame:
    """→ distinct (out_a, out_b) with a < b, for ids sharing any bucket key.

    ``keyed`` has one row per (bucket key, id). Pairs are enumerated inside
    each bucket from the sorted id list — a single groupBy on the
    (hash-distributed) key, no self-join, no persist.

    ``max_bucket`` (None = exact) SKIPS buckets larger than the cap — the
    standard LSH guard against degenerate buckets: an m-id bucket yields
    m(m-1)/2 pairs under ANY formulation, so a million-way near-identical
    cluster is quadratic work no candidate generator can avoid; such
    clusters belong to ``exact_dedup`` (one groupBy) first. With a cap the
    result is a documented under-approximation; leave None when exactness
    vs the all-pairs oracle is required."""
    buckets = (
        keyed.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ids",
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size("ids")),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select(
        F.col("p.a").alias(out_a), F.col("p.b").alias(out_b)
    ).distinct()


def exact_dedup(docs: DataFrame, content_col: str = "content") -> DataFrame:
    """→ (sha, n_dups, canonical_docid): one row per distinct content."""
    return (
        docs.groupBy(F.sha2(F.col(content_col), 256).alias("sha"))
        .agg(
            F.count("*").cast("long").alias("n_dups"),
            F.min("docid").alias("canonical_docid"),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    shingle_k: int = 3,
    content_col: str = "content",
) -> DataFrame:
    """→ (docid, sig: array<long>) — sig[j] = min over shingles of
    md5_long(j || '|' || shingle).

    Implementation (r6, measured): ONE ``mapInArrow`` pass computing each
    doc's full signature within the row — zero shuffle, zero explode. The
    r5 Catalyst pipeline (explode → 16× jvm md5 → groupBy(docid) partial
    mins) spent 1.7 s materializing the interpreted higher-order shingle
    transform and 1.4 s on 16 md5 evaluations per shingle occurrence at
    sf1.0 (noop-isolated, local[32]); the kernel removes both: shingles
    are built with plain str slicing, and a per-task memo (shingle → the
    ``num_hashes`` 60-bit values) collapses the md5 cost to one set per
    DISTINCT shingle — natural-language shingle streams repeat heavily, so
    the md5 count drops by the corpus' shingle reuse factor. Per-doc mins
    are one vectorized ``np.minimum.reduceat``. The memo is capped (512k
    entries ≈ 80 MB); overflow shingles are hashed uncached into per-batch
    scratch rows, so a 100 TB high-entropy corpus degrades to the r5 md5
    cost, never to unbounded worker memory. Semantics are bit-identical to
    the Catalyst form (same Java-``\\s`` token split, python ``str.lower``
    = Java full Unicode lowercasing — the build kernel's established
    parity — and md5-prefix mins commute with the 4-bit truncation since
    ``x >> 4`` is monotone); the DuckDB oracle reproduces it unchanged.
    (An ~10% md5→xxhash64 swap was measured and rejected in r5 — md5
    keeps the oracle bit-exact.)"""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("docid", T.LongType(), False),
            T.StructField("sig", T.ArrayType(T.LongType()), False),
        ]
    )
    src = docs.select("docid", F.col(content_col).alias("content"))
    k = int(shingle_k)
    nh = int(num_hashes)

    def kernel(batches):
        import hashlib
        import re

        import numpy as np
        import pyarrow as pa

        md5 = hashlib.md5
        prefixes = [f"{j}|".encode() for j in range(nh)]
        # Java regex \s (no UNICODE_CHARACTER_CLASS) — exactly these five
        ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")
        memo: dict = {}
        MEMO_CAP = 1 << 19
        H = np.empty((4096, nh), dtype=np.int64)
        H[0] = 0  # permanent dummy row for null-content docs (masked out)
        h_len = 1  # committed rows: dummy + memoized; scratch rows follow

        def hash_row(sb: bytes):
            return [
                int.from_bytes(md5(p + sb).digest()[:8], "big") >> 4
                for p in prefixes
            ]

        for rb in batches:
            if rb.num_rows == 0:
                continue
            docids = rb.column("docid")
            texts = rb.column("content").to_pylist()
            codes: list = []
            counts = np.empty(len(texts), dtype=np.int64)
            null_doc = np.zeros(len(texts), dtype=bool)
            cur = h_len
            for i, c in enumerate(texts):
                if c is None:
                    # Catalyst parity: null content → all-null sig
                    null_doc[i] = True
                    counts[i] = 1
                    codes.append(0)
                    continue
                toks = [t for t in ws.split(c.lower()) if t]
                n = len(toks)
                if n >= k:
                    shs = [" ".join(toks[i2 : i2 + k]) for i2 in range(n - k + 1)]
                else:
                    shs = [" ".join(toks)]
                counts[i] = len(shs)
                for s in shs:
                    code = memo.get(s)
                    if code is None:
                        if cur >= H.shape[0]:
                            H2 = np.empty((H.shape[0] * 2, nh), dtype=np.int64)
                            H2[: H.shape[0]] = H
                            H = H2
                        H[cur] = hash_row(s.encode())
                        code = cur
                        if len(memo) < MEMO_CAP:
                            memo[s] = code
                            h_len = cur + 1
                        cur += 1
                    codes.append(code)
            code_arr = np.fromiter(codes, dtype=np.int64, count=len(codes))
            m = H[code_arr]
            starts = np.zeros(len(texts), dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            mins = np.minimum.reduceat(m, starts, axis=0)
            flat = mins.ravel()
            offsets = pa.array(
                (np.arange(len(texts) + 1, dtype=np.int64) * nh).astype(np.int32)
            )
            if null_doc.any():
                vmask = np.repeat(null_doc, nh)
                values = pa.array(flat, pa.int64(), mask=vmask)
            else:
                values = pa.array(flat, pa.int64())
            sig = pa.ListArray.from_arrays(offsets, values)
            yield pa.RecordBatch.from_arrays([docids, sig], ["docid", "sig"])

    return src.mapInArrow(kernel, schema=schema)


def minhash_bands(
    docs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 2,
    shingle_k: int = 3,
    content_col: str = "content",
) -> DataFrame:
    """→ (docid, band, band_key) — LSH band keys (md5 over the band's
    concatenated minhashes)."""
    sigs = minhash_signatures(docs, num_hashes, shingle_k, content_col)
    n_bands = num_hashes // band_size
    rows = []
    for b in range(n_bands):
        key = md5_long(
            F.concat_ws(
                ",",
                *[F.col("sig")[b * band_size + i].cast("string") for i in range(band_size)],
            )
        )
        rows.append(F.struct(F.lit(b).alias("band"), key.alias("band_key")))
    return sigs.select(
        "docid", F.explode(F.array(*rows)).alias("bk")
    ).select("docid", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def minhash_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    band_size: int = 2,
    shingle_k: int = 3,
    content_col: str = "content",
    max_bucket: int | None = None,
) -> DataFrame:
    """→ (docid_a, docid_b) distinct pairs (a < b) sharing ≥1 LSH band.

    Pairs come from intra-bucket enumeration, not a band-table self-join —
    one groupBy shuffle total downstream of the signatures, and no cached
    intermediate.

    Exact path (``max_bucket=None``, r6): each pair is emitted only from
    the FIRST band in which the two docs collide — a bucket row carries
    the doc's band-key *prefix* (bands 0..b-1, avg (n_bands-1)/2 longs),
    and the intra-bucket enumeration skips a pair when any prefix entry
    matches. Every qualifying pair is therefore produced exactly once, so
    the trailing ``.distinct()`` — a full exchange of the O(pairs)
    multiset, the largest shuffle of the op on dup-heavy corpora — is
    unnecessary, and a downstream ``count()`` never shuffles a single
    pair. The emitted SET is identical to the any-band formulation.

    With ``max_bucket`` the original bucket-skip semantics apply ("any
    NON-SKIPPED shared bucket"): first-band emission would drop a pair
    whose first colliding band is a skipped degenerate bucket even when a
    later small bucket contains it, so the capped path keeps the
    ``bucket_pairs`` + distinct formulation unchanged."""
    if max_bucket is not None:
        bands = minhash_bands(docs, num_hashes, band_size, shingle_k, content_col)
        return bucket_pairs(
            bands, ["band", "band_key"], "docid", "docid_a", "docid_b", max_bucket
        )
    sigs = minhash_signatures(docs, num_hashes, shingle_k, content_col)
    n_bands = num_hashes // band_size
    keys = F.array(
        *[
            md5_long(
                F.concat_ws(
                    ",",
                    *[
                        F.col("sig")[b * band_size + i].cast("string")
                        for i in range(band_size)
                    ],
                )
            )
            for b in range(n_bands)
        ]
    )
    keyed = (
        sigs.select("docid", keys.alias("_keys"))
        .select("docid", F.posexplode("_keys").alias("band", "band_key"),
                F.col("_keys"))
        .select(
            "docid",
            "band",
            "band_key",
            F.slice("_keys", 1, F.col("band")).alias("prefix"),
        )
    )
    # collect_set + the docid_a < docid_b guard below: an input row
    # repeated under one docid collapses to one bucket entry and never
    # pairs with itself
    buckets = (
        keyed.groupBy("band", "band_key")
        .agg(
            F.sort_array(F.collect_set(F.struct("docid", "prefix"))).alias("ids")
        )
        .filter(F.size("ids") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ids",
                    lambda x, i: F.transform(
                        F.filter(
                            F.slice(F.col("ids"), i + 2, F.size("ids")),
                            lambda y: (x["docid"] < y["docid"])
                            & ~F.exists(
                                F.zip_with(
                                    x["prefix"],
                                    y["prefix"],
                                    lambda p, q: p == q,
                                ),
                                lambda t: t,
                            ),
                        ),
                        lambda y: F.struct(
                            x["docid"].alias("a"), y["docid"].alias("b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select(
        F.col("p.a").alias("docid_a"), F.col("p.b").alias("docid_b")
    )


def simhash(
    docs: DataFrame, bits: int = 60, content_col: str = "content"
) -> DataFrame:
    """→ (docid, simhash) — bit b set iff Σ_tokens tf·(±1 by hash bit) > 0.

    Each token occurrence contributes sign(h>>b & 1) per bit, so the
    tf-weighted sum over distinct tokens equals the plain sum over
    occurrences — no (docid, token) tf aggregation is needed. The 60
    per-bit sums are 60 agg expressions in one groupBy(docid): partial
    (map-side) aggregation collapses every partition to ≤1 row per docid
    before the exchange, where the exploded-bit formulation shuffled 60
    rows per distinct (doc, token)."""
    tok = docs.select("docid", F.explode(_tokens(F.col(content_col))).alias("tok"))
    th = tok.select("docid", md5_long(F.col("tok")).alias("h"))
    sums = th.groupBy("docid").agg(
        *[
            F.sum(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    sig = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
        range(bits),
        F.lit(0).cast("long"),
    )
    return sums.select("docid", sig.alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_k: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    content_col: str = "content",
) -> DataFrame:
    """→ (docid_a, docid_b, jaccard) for LSH-candidate pairs above threshold.

    Exact Jaccard over distinct shingle sets, restricted to MinHash-LSH
    candidates so no O(n²) blowup; ``|A ∩ B|`` via a groupBy over the
    exploded shingle join, ``|A ∪ B| = |A|+|B|-|A∩B|``. The per-doc shingle
    set size rides along in the same projection as the explode, so no
    separate sizes aggregation or join is needed. Nothing is persisted:
    the shingle lineage is recomputed for the two join sides, which at
    scale is two corpus scans versus materializing an exploded shingle
    table many times the corpus size.
    """
    cands = minhash_candidate_pairs(docs, num_hashes, band_size, shingle_k, content_col)
    dsh = docs.select(
        "docid", F.array_distinct(shingles(F.col(content_col), shingle_k)).alias("shs")
    ).select(
        "docid", F.size("shs").alias("nsh"), F.explode("shs").alias("sh")
    )
    common = (
        cands.join(
            dsh.select(
                F.col("docid").alias("docid_a"), F.col("nsh").alias("na"), "sh"
            ),
            "docid_a",
        )
        .join(
            dsh.select(
                F.col("docid").alias("docid_b"), F.col("nsh").alias("nb"), "sh"
            ),
            ["docid_b", "sh"],
        )
        .groupBy("docid_a", "docid_b")
        .agg(
            F.count("*").alias("n_common"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    return (
        common.select(
            "docid_a",
            "docid_b",
            (
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def duplicate_spans(
    docs: DataFrame, window: int = 8, content_col: str = "content"
) -> DataFrame:
    """Exact duplicate-SPAN detection: flag every ``window``-token run that
    appears verbatim in ≥2 distinct documents (the exact-substring dedup
    signal of Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better" — arXiv:2107.06499 — reshaped from suffix arrays to a
    shuffle-friendly rolling-window form).

    → (docid, n_windows, n_dup_windows, dup_tokens, dup_frac), one row per
    document containing at least one cross-doc duplicated window;
    ``dup_tokens`` is the size of the UNION of flagged [start, start+W)
    intervals (overlaps not double-counted — computed with a lag window
    over sorted starts, exact because W is constant), ``dup_frac`` that
    union over the doc's token count.

    Scale shape: one row per token position (the window transform is a
    within-row array op), one aggregate on the 60-bit window hash, a
    semi-join back on the same hash, then per-doc window+agg that share a
    single docid exchange. A boilerplate span repeated across millions of
    docs is one hot GROUP key with a min/max — not an enumerated pair
    set — so skew caps at counting, never at pair explosion. Hashes are md5-prefix (portable to the DuckDB
    oracle bit-for-bit); windows repeated only WITHIN a doc are not
    flagged (min(docid) = max(docid) there).

    r5 shuffle-volume fix: the window stream crosses the wire exactly
    ONCE.  The ≥2-distinct-docids verdict is ``min(docid) != max(docid)``
    — same truth value as ``count_distinct(docid) >= 2`` — computed as a
    window aggregate over ``partitionBy(h)`` on the stream itself, so
    there is no verdict table and no join back at all: Exchange(h) → sort
    → WindowExec(min, max) → filter.  The r4 shape (count_distinct
    aggregate + semi-join) shuffled the stream three times — once on
    (h, docid) for the distinct, once on h for the count, once on h for
    the probe side — and measured 0.725 2→8-core scaling efficiency at
    1M docs; this shape moves the same rows over the wire once and sorts
    them locally instead (WindowExec buffers one h-group at a time and
    spills, so a boilerplate span hot key degrades to disk, never OOM)."""
    from pyspark.sql.window import Window

    wins = _window_hash_rows(docs, window, content_col)
    wh = Window.partitionBy("h")
    flagged = (
        wins.withColumn("_dup", F.min("docid").over(wh) != F.max("docid").over(wh))
        .filter(F.col("_dup"))
        .drop("_dup")
    )
    return _span_coverage(flagged, window, prefix="dup")


def _window_hash_rows(docs: DataFrame, window: int, content_col: str) -> DataFrame:
    """(docid, _n, start, h): one row per token position — a 60-bit
    md5-prefix hash of each ``window``-token run (1-based starts); docs
    shorter than ``window`` tokens contribute nothing. No shuffle.

    One ``mapInArrow`` pass (r6): the prior Catalyst form (interpreted
    higher-order slice+join transform + explode + one jvm md5 per
    position) dominated the duplicate-spans wall; here windows are plain
    str slicing and a capped per-task memo (window string → md5 id)
    dedups hash work on boilerplate-heavy streams. Same tokenizer parity
    as the minhash kernel (Java-``\\s`` split, full-Unicode lower);
    hashes identical to ``md5_long`` by construction."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("docid", T.LongType(), False),
            T.StructField("_n", T.IntegerType(), False),
            T.StructField("start", T.IntegerType(), False),
            T.StructField("h", T.LongType(), False),
        ]
    )
    src = docs.select("docid", F.col(content_col).alias("content"))
    w = int(window)

    def kernel(batches):
        import hashlib
        import re

        import pyarrow as pa

        md5 = hashlib.md5
        ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")
        memo: dict = {}
        MEMO_CAP = 1 << 18

        for rb in batches:
            if rb.num_rows == 0:
                continue
            docids = rb.column("docid").to_pylist()
            texts = rb.column("content").to_pylist()
            o_doc: list = []
            o_n: list = []
            o_start: list = []
            o_h: list = []
            for d, c in zip(docids, texts):
                toks = [t for t in ws.split((c or "").lower()) if t]
                n = len(toks)
                if n < w:
                    continue
                for i in range(n - w + 1):
                    s = " ".join(toks[i : i + w])
                    h = memo.get(s)
                    if h is None:
                        h = (
                            int.from_bytes(md5(s.encode()).digest()[:8], "big")
                            >> 4
                        )
                        if len(memo) < MEMO_CAP:
                            memo[s] = h
                    o_doc.append(d)
                    o_n.append(n)
                    o_start.append(i + 1)
                    o_h.append(h)
            if o_doc:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(o_doc, pa.int64()),
                        pa.array(o_n, pa.int32()),
                        pa.array(o_start, pa.int32()),
                        pa.array(o_h, pa.int64()),
                    ],
                    ["docid", "_n", "start", "h"],
                )

    return src.mapInArrow(kernel, schema=schema)


def _span_coverage(flagged: DataFrame, window: int, prefix: str) -> DataFrame:
    """Per-doc coverage of flagged constant-width [start, start+W) windows:
    token count of their interval UNION (overlaps not double-counted —
    under sorted starts the previous interval's running max end is just
    ``lag(start)+W``, exact because W is constant) and that union as a
    fraction of the doc's tokens."""
    from pyspark.sql.window import Window

    bydoc = Window.partitionBy("docid").orderBy("start")
    prev_end = F.lag("start").over(bydoc) + window
    add = F.coalesce(
        F.lit(window)
        - F.least(F.lit(window), F.greatest(F.lit(0), prev_end - F.col("start"))),
        F.lit(window),
    )
    return (
        flagged.withColumn("_add", add)
        .groupBy("docid")
        .agg(
            (F.max("_n") - window + 1).cast("long").alias("n_windows"),
            F.count("*").cast("long").alias(f"n_{prefix}_windows"),
            F.sum("_add").cast("long").alias(f"{prefix}_tokens"),
            F.round(F.sum("_add") / F.max("_n"), 6).alias(f"{prefix}_frac"),
        )
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    window: int = 8,
    content_col: str = "content",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag every training doc containing a
    ``window``-token run that appears verbatim in the eval/benchmark set
    (the n-gram overlap test of GPT-3 appendix C / Brown et al. 2020,
    arXiv:2005.14165 §4, in the rolling-window form of Lee et al. 2021).

    → (docid, n_windows, n_contam_windows, contam_tokens, contam_frac),
    one row per CONTAMINATED training doc; callers anti-join or threshold
    on ``contam_frac`` to drop/clean.

    Scale shape: the train side is one window-hash pass with NO shuffle at
    all when ``broadcast_eval`` — eval sets are benchmark-sized (thousands
    of docs), so their distinct window hashes broadcast and the semi-join
    runs map-side; the only exchange is the final per-doc agg. At 100 TB of
    train × a few MB of eval that is the difference between a full-corpus
    shuffle and none. Set ``broadcast_eval=False`` only if the eval set is
    itself corpus-sized (falls back to a hash-partitioned semi-join)."""
    wins = _window_hash_rows(train, window, content_col)
    ev = _window_hash_rows(eval_docs, window, content_col).select("h").distinct()
    if broadcast_eval:
        ev = F.broadcast(ev)
    return _span_coverage(wins.join(ev, "h", "semi"), window, prefix="contam")


def remove_duplicate_spans(
    docs: DataFrame, window: int = 8, content_col: str = "content"
) -> DataFrame:
    """The removal half of exact-substring dedup (Lee et al. 2021 §4:
    deduplicate by CUTTING repeated spans, not dropping whole docs): every
    ``window``-token run appearing in ≥2 distinct docs is kept ONLY in its
    canonical doc (min docid containing the run) and removed everywhere
    else.

    → (docid, clean_text, n_tokens, removed_tokens) for EVERY input doc
    (unaffected docs pass through). ``clean_text`` is the kept token
    stream rejoined with single spaces — tokenization is lossy about
    original whitespace/case by design (the op feeds a training-data
    pipeline, whose tokenizer re-splits anyway), and deterministic so the
    DuckDB oracle reproduces it byte-for-byte.

    Scale shape: the window stream crosses the wire ONCE — the canon
    verdict is a window aggregate over ``partitionBy(h)`` on the stream
    itself (the `duplicate_spans` r5 shape: Exchange(h) → sort →
    WindowExec → filter, no verdict table and no join back). The
    "appears in ≥2 distinct docs" test is ``min(docid) != max(docid)``
    (count_distinct would cost an extra full (h, docid) exchange), and
    the canonical keeper IS the min. A boilerplate span in millions of
    docs is ONE h-group buffered-and-spilled inside WindowExec, not a
    pair set. Then a per-doc collect of flagged starts (bounded by
    windows-per-doc), and a within-row mask: kept token i ⇔ no flagged
    start s with s ≤ i < s+W — an ``exists`` over the per-doc start
    array, O(tokens × flagged-windows) inside the row, no token explode,
    no second corpus shuffle."""
    from pyspark.sql.window import Window

    toks = _tokens(F.col(content_col))
    base = docs.select("docid", toks.alias("_toks")).withColumn("_n", F.size("_toks"))

    wh = Window.partitionBy("h")
    starts = (
        _window_hash_rows(docs, window, content_col)
        .withColumn("_canon", F.min("docid").over(wh))
        .withColumn("_mx", F.max("docid").over(wh))
        .filter((F.col("_canon") != F.col("_mx")) & (F.col("docid") != F.col("_canon")))
        .groupBy("docid")
        .agg(F.sort_array(F.collect_set("start")).alias("_starts"))
    )

    joined = base.join(starts, "docid", "left").withColumn(
        "_starts", F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.transform(
            F.col("_toks"),
            lambda t, i: F.struct(t.alias("t"), (i + 1).alias("i")),
        ),
        lambda s: ~F.exists(
            F.col("_starts"),
            lambda st: (st <= s["i"]) & (s["i"] < st + window),
        ),
    )
    return joined.select(
        "docid",
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias("clean_text"),
        F.col("_n").cast("long").alias("n_tokens"),
        (F.col("_n") - F.size(kept)).cast("long").alias("removed_tokens"),
    )
