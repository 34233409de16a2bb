"""Inverted-index build: docid-range-blocked posting lists + statistics.

Reference pipeline: ``addDocument`` (analyze, count tokens, insert into
per-term sorted docid list — ``InvertedIndexManager.java:162-209``) →
``flush`` to an on-disk segment (``:230-298``) → LSM pairwise
``mergeAllSegments`` (``:327-440``). The Spark-first re-expression is a
single declarative plan:

    corpus → posexplode(analyze(content)) → groupBy(term, docid)
           → groupBy(term, block) → sorted posting arrays (+codec) → write

**Blocking = deterministic salt + block-max unit.** ``block =
docid // block_span`` bounds every aggregation group to at most
``block_span`` postings, so a stopword-grade hot term ("import" in code)
fans out across ``n_docs / block_span`` groups instead of collapsing onto
one reducer — this is the explicit skew handling the north_star asks for
(a docid-range salt rather than a random one, so the salt doubles as the
block-max WAND skip unit: every block carries ``max_tf`` / docid bounds,
and blocks are disjoint docid ranges ACROSS terms, which makes block-level
upper-bound pruning sound — see search/ranking.py).

Statistics (``getNumDocuments`` / ``getDocumentFrequency``,
``InvertedIndexManager.java:1494-1528``) generalize to: ``termstats(term,
tid, df)``, ``doclens(docid, dl)``, scalars ``n_docs`` / ``avgdl`` — the
inputs BM25 needs.

**Dictionary encoding.** Postings key on ``tid`` — a coordination-free
60-bit term hash (see ``index/termid.py``) — never on the term string;
term strings exist only in the ``termstats`` sidecar. Query terms resolve
to ids driver-side with no Spark job, and the postings scan filter is an
int ``IN`` pushdown.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mini_search_engine_spark.analysis.udfs import analyze_col
from mini_search_engine_spark.index import compress as C

DEFAULT_BLOCK_SPAN = 1 << 16  # docids per block


@dataclass
class InvertedIndex:
    """Handle to the built index DataFrames + collection statistics."""

    postings: DataFrame  # tid, block, n, docids, tfs, dls[, positions], min_docid, max_docid, max_tf, min_dl
    doclens: DataFrame  # docid, dl
    termstats: DataFrame  # term, tid, df — the term dictionary sidecar
    n_docs: int
    avgdl: float
    analyzer: str
    block_span: int
    positional: bool
    compressed: bool = False
    # True for statically-pruned tiers (champion lists): the postings no
    # longer contain every (term, doc) pair, so per-term df must NEVER be
    # recovered by summing posting counts — only the GLOBAL termstats /
    # df_cache values keep the "surviving docs score identically" invariant.
    pruned: bool = False
    tf: DataFrame | None = None  # the persisted tokenize pass (build-side only)
    build_cache: DataFrame | None = None  # the persisted postings+term frame
    # the corpus exchange cache assign_docids attached to the input docs
    # (None for corpora that never had one); released by unpersist() so an
    # input_hint-shaped build can't pin O(corpus) blocks past retirement
    corpus_cache: DataFrame | None = None
    # driver-side per-term df memo, enabled on warm() (serving indexes are
    # immutable): repeated query terms skip the termstats-lookup job, one
    # fewer stage wave per repeated-term query. 0 = negative-cached absent.
    df_cache: dict | None = None
    # session temp view over warm()'s serving layout — the postings frame
    # itself, df stamped in. Only warm() sets it; every derivation that
    # replaces postings or termstats must reset it to None.
    serving_view: str | None = None

    def unpersist(self, corpus: bool = True) -> None:
        """Release EVERY cache this index owns: build-side persists
        (postings + token frame), the serving layout, view and pins
        ``warm()`` takes on doclens/termstats, and (``corpus=True``) the
        corpus exchange cache ``assign_docids`` attached to the input
        docs. Needed when
        building repeatedly in one session (Spark's cache manager matches
        by logical plan, so a later identical build would silently reuse
        this build's cache) and when retiring a warm serving index
        (doclens/termstats are O(n_docs) / O(vocab) and would otherwise
        leak for the session lifetime). Pass ``corpus=False`` when more
        indexes will be built from the SAME corpus frame (e.g. the
        per-part builds of ``resumable_build``) — recomputation after a
        release is deterministic, just not free."""
        self.postings.unpersist()
        if self.tf is not None:
            self.tf.unpersist()
        if self.build_cache is not None:
            self.build_cache.unpersist()
        if corpus and self.corpus_cache is not None:
            self.corpus_cache.unpersist()
        for df in (self.doclens, self.termstats):
            if df is not None and df.is_cached:
                df.unpersist()
        if self.serving_view is not None:
            self.postings.sparkSession.catalog.dropTempView(self.serving_view)

    def decoded(self) -> "InvertedIndex":
        """Return a view with docids/tfs decoded from the codec columns."""
        if not self.compressed:
            return self
        p = (
            self.postings.withColumn(
                "_dec", C.decode_block_udf("docids_bytes", "tfs_bytes", "dls_bytes")
            )
            .withColumn("docids", F.col("_dec.docids"))
            .withColumn("tfs", F.col("_dec.tfs"))
            .withColumn("dls", F.col("_dec.dls"))
            .drop("_dec")
        )
        if "positions_bytes" in p.columns:
            p = p.withColumn(
                "positions", C.decode_positions_udf("positions_bytes", "tfs")
            ).drop("positions_bytes")
        return replace(self, postings=p, compressed=False)

    def warm(self) -> "InvertedIndex":
        """Serving mode: pin a document-partitioned serving layout, so every
        query is ONE Spark job of pure JVM work.

        The layout is the decoded postings (codec UDF run once) with each
        term's GLOBAL df from ``termstats`` stamped onto its rows,
        range-partitioned by ``block`` and sorted by ``(tid, block)``
        within partitions. Blocks are docid ranges aligned across terms
        and a cached relation keeps its ``RangePartitioning(block)``
        through filter, explode and aggregate, so the queries in
        ``search/`` — grouped and ordered on ``(block, docid)``, idf read
        from the ``df`` column — plan with no exchange. The tid sort lets
        the in-memory columnar cache skip batches whose tid range misses
        the query's ``tid IN`` predicate.

        The layout is registered as a session temp view (``serving_view``)
        so a query is one ``spark.sql`` text with inline numeric
        literals. doclens and termstats are pinned too, and ``df_cache``
        starts empty: it memoizes the termstats probe for the scorers
        that still take df as a driver-side literal (the pruned BM25
        gate, batch BM25, LTR features). The returned index OWNS the
        caches and the view (release via ``.unpersist()``)."""
        import uuid
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        idx = self.decoded()
        dec = idx.postings.drop("df")
        if self.compressed:
            # decode into a temporary cache: a range exchange directly above
            # the decode UDF would run it twice (once for the range
            # sampler), and one below it loses the partitioning. The
            # sampler's pass fills the cache; the exchange then reads it.
            dec = dec.persist()
        layout = (
            dec.join(F.broadcast(idx.termstats.select("tid", "df")), "tid")
            .repartitionByRange("block")
            .sortWithinPartitions("tid", "block")
            .persist()
        )
        with ThreadPoolExecutor(max_workers=1) as pool:
            # the sidecar pins are independent small jobs: run them beside
            # the layout's (measured ~0.15 s of a ~1.7 s warm at 1,500 docs)
            pins = pool.submit(
                inheritable_thread_target(idx.postings.sparkSession)(
                    lambda: (idx.doclens.persist().count(), idx.termstats.persist().count())
                )
            )
            layout.count()
            pins.result()
        if self.compressed:
            dec.unpersist()
        view = f"warm_postings_{uuid.uuid4().hex}"
        layout.createOrReplaceTempView(view)
        return replace(idx, postings=layout, df_cache={}, serving_view=view)

    def query(
        self, sql: str, tids: list[int], df: dict[int, int] | None = None, **params: str
    ) -> DataFrame:
        """Run ``sql``, a SELECT over the relation ``{postings}`` that keeps
        only ``WHERE tid IN {tids}``, on this index's decoded postings;
        ``params`` fill the template's other fields.

        On a warm index ``{postings}`` is the serving view and the query
        is one ``spark.sql`` call. Keep the view as the FROM of the query
        block that orders by ``(block, docid)``: a subquery re-qualifies
        ``block`` and the planner no longer matches it to the cached
        range partitioning. Any other index substitutes its tid-filtered,
        decoded postings, with ``df`` (tid → df from the termstats probe)
        folded in as a literal ``CASE`` column when given: the same plan
        at the cost of a non-warm scan. Only numbers reach the SQL text:
        term ids are hashed on the driver."""
        spark = self.postings.sparkSession
        in_list = f"({', '.join(f'{int(t)}L' for t in tids)})"
        if self.serving_view is not None:
            # args={}: an empty parameter map skips pyspark's conversion of
            # the default positional-args list (three Py4J round trips)
            text = sql.format(postings=self.serving_view, tids=in_list, **params)
            return spark.sql(text, args={})
        p = self.postings.filter(f"tid IN {in_list}")
        p = replace(self, postings=p).decoded().postings
        if df is not None:
            arms = " ".join(f"WHEN {int(t)}L THEN {int(d)}L" for t, d in df.items())
            p = p.withColumn("df", F.expr(f"CASE tid {arms} END"))
        # pyspark binds the DataFrame to a temporary view for this call only
        text = sql.format(postings="{postings}", tids=in_list, **params)
        return spark.sql(text, postings=p)


def tokenize_docs(
    docs: DataFrame, analyzer: str = "porter", positional: bool = False
) -> DataFrame:
    """corpus → (docid, term, tf, dl[, positions]) with NO shuffle.

    Token positions are 0-based indices into the analyzed stream, matching
    ``utils/Utils.java:186-201``; tf = raw occurrence count
    (``InvertedIndexManager.java:196-209``).

    (term, docid) pairs are doc-local, so per-term counting is a WITHIN-ROW
    aggregation — doing it inside the Arrow pass (Counter per doc) instead
    of ``explode → groupBy(term, docid)`` removes an exchange of one row
    per posting (~50M rows/million docs) from the build; the only shuffle
    left in the whole pipeline is the (term, block) aggregation.

    Analyzers with a native Catalyst path keep it (tokens computed
    JVM-side, then one explode + doc-local pandas-free aggregation is
    still needed → for those we explode and count in a mapInPandas over
    already-tokenized rows to stay shuffle-free as well).
    """
    from mini_search_engine_spark.analysis.udfs import ANALYZERS

    out_fields = [
        T.StructField("docid", T.LongType(), False),
        T.StructField("dl", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("tf", T.IntegerType(), False),
    ]
    if positional:
        out_fields.append(T.StructField("positions", T.ArrayType(T.IntegerType()), False))
    schema = T.StructType(out_fields)

    # Tokenization strategy by analyzer:
    # * 'porter' (the build hot path) ships RAW CONTENT to the Arrow kernel
    #   and tokenizes with Arrow C++ (utf8_trim + split_pattern_regex — RE2,
    #   byte-identical on this char class; lowercasing happens python-side
    #   on the UNIQUE tokens because Arrow's utf8_lower uses the simple
    #   Unicode mapping, which diverges from Java/Python on İ and final Σ).
    #   Shipping content instead of JVM-pretokenized token strings moves
    #   ~5-10× fewer bytes across the JVM↔Python Arrow channel (tokens
    #   repeat the content plus ~4 B of offset per token) — measured
    #   15-20 % off the dominant build kernel at both 8 and 32 cores, with
    #   bit-identical tf/dl output. utf8_trim over chars ≤ 0x20 matches
    #   Java String.trim exactly (trim only affects tokens at the text
    #   edges; interior empties are dropped by the filter either way).
    # * 'punct_nostem'/'naive' keep the pure-JVM Catalyst expression path —
    #   they exist for DuckDB-oracle parity queries, where staying inside
    #   whole-stage codegen (and Spark's own `lower`) is the point.
    native = analyzer in ("punct_nostem", "naive", "porter", "code")
    stem = analyzer == "porter"
    nn_content = F.coalesce(F.col("content"), F.lit(""))  # NULL-safe
    if stem:
        src = docs.select("docid", nn_content.alias("content"))
    elif native:
        src = docs.select("docid", ANALYZERS[analyzer](nn_content).alias("toks"))
    else:
        src = docs.select("docid", nn_content.alias("content"))

    if native:
        # Arrow kernel: the token STREAM never touches Python objects.
        # For the stemming path even TOKENIZATION happens here (Arrow C++
        # trim/lower/regex-split on the raw content — see strategy note
        # above); dictionary_encode (Arrow C++) then reduces the batch to
        # its unique surface forms; only those uniques are stemmed in
        # Python (memoized across batches), and the (doc, term)
        # counting/position grouping is a numpy sort over packed int keys.
        # Measured ~10µs/token-row when done with per-token Python loops
        # through pandas — this removes that entirely.
        def count_tokens_arrow(batches):
            import numpy as np
            import pyarrow as pa
            import pyarrow.compute as pc

            from mini_search_engine_spark.analysis.stopwords import STOP_WORDS
            from mini_search_engine_spark.analysis.tokenizers import (
                PUNCT_SPLIT_PATTERN,
                _stem_cached,
            )

            # Java String.trim removes every char ≤ U+0020 from both ends
            trim_chars = "".join(chr(i) for i in range(0x21))
            stem_id_of: dict[str, int] = {}
            stem_strs: list[str] = []

            def sid_for(surface_uniques):
                ids = np.empty(len(surface_uniques), dtype=np.int64)
                for i, u in enumerate(surface_uniques):
                    s = _stem_cached(u) if stem else u
                    j = stem_id_of.get(s)
                    if j is None:
                        j = len(stem_strs)
                        stem_id_of[s] = j
                        stem_strs.append(s)
                    ids[i] = j
                return ids

            def sid_for_cased(uniq):
                """Lowercase + stopword-filter + stem the batch's UNIQUE
                surface forms. Lowercasing happens HERE (python str.lower —
                the full Unicode mapping incl. İ→i̇ and final sigma, matching
                Java/the driver-side kernel) and not via Arrow's
                ``utf8_lower`` (simple mapping — diverges on exactly those).
                Splitting before lowercasing is safe: the split class is
                case-invariant and no case mapping produces a split char.
                → sid per unique, -1 for dropped (empty/stopword)."""
                sid_u = np.full(len(uniq), -1, dtype=np.int64)
                lowers = [u.lower() for u in uniq]
                kept = [i for i, u in enumerate(lowers) if u and u not in STOP_WORDS]
                if kept:
                    sid_u[np.asarray(kept, dtype=np.int64)] = sid_for(
                        [lowers[i] for i in kept]
                    )
                return sid_u

            for rb in batches:
                if rb.num_rows == 0:
                    continue
                docids = rb.column("docid").to_numpy()
                if stem:
                    toks = pc.split_pattern_regex(
                        pc.utf8_trim(rb.column("content"), trim_chars),
                        PUNCT_SPLIT_PATTERN,
                    )
                else:
                    toks = rb.column("toks")
                raw_dl = pc.list_value_length(toks).to_numpy().astype(np.int64)
                flat = pc.list_flatten(toks)
                if len(flat) == 0:
                    continue
                dictenc = flat.dictionary_encode()
                codes = dictenc.indices.to_numpy().astype(np.int64)
                uniq = dictenc.dictionary.to_pylist()
                doc_idx = np.repeat(np.arange(len(docids), dtype=np.int64), raw_dl)
                if stem:
                    # lowercase + empty/stopword drop at the UNIQUE level
                    # (the JVM path pre-filters; here the split ran in
                    # Arrow): dropped uniques map to sid -1, one mask
                    token_sid = sid_for_cased(uniq)[codes]
                    keep_mask = token_sid >= 0
                    doc_idx = doc_idx[keep_mask]
                    token_sid = token_sid[keep_mask]
                    dl = np.bincount(doc_idx, minlength=len(docids)).astype(np.int64)
                else:
                    token_sid = sid_for(uniq)[codes]
                    dl = raw_dl
                ntok = len(doc_idx)
                if ntok == 0:
                    continue
                # pack (doc, stem) into one sortable int64 key; stem ids are
                # bounded by the corpus vocabulary (≪ 2^31)
                key = (doc_idx << np.int64(32)) | token_sid
                if positional:
                    starts = np.concatenate(([0], np.cumsum(dl)))[:-1]
                    pos_in_doc = np.arange(ntok, dtype=np.int64) - np.repeat(starts, dl)
                    order = np.argsort(key, kind="stable")
                    skey = key[order]
                    newg = np.empty(ntok, dtype=bool)
                    newg[0] = True
                    newg[1:] = skey[1:] != skey[:-1]
                    gstarts = np.nonzero(newg)[0]
                    gends = np.append(gstarts[1:], ntok)
                    ukeys = skey[gstarts]
                    counts = gends - gstarts
                    sorted_pos = pos_in_doc[order]
                    pos_offsets = pa.array(
                        np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
                    )
                    positions_arr = pa.ListArray.from_arrays(
                        pos_offsets, pa.array(sorted_pos.astype(np.int32), pa.int32())
                    )
                else:
                    ukeys, counts = np.unique(key, return_counts=True)
                u_doc = (ukeys >> np.int64(32)).astype(np.int64)
                u_sid = (ukeys & np.int64(0xFFFFFFFF)).astype(np.int64)
                term_arr = pc.take(
                    pa.array(stem_strs, pa.string()), pa.array(u_sid)
                )
                arrays = [
                    pa.array(docids[u_doc], pa.int64()),
                    pa.array(dl[u_doc].astype(np.int32), pa.int32()),
                    term_arr,
                    pa.array(counts.astype(np.int32), pa.int32()),
                ]
                names = ["docid", "dl", "term", "tf"]
                if positional:
                    arrays.append(positions_arr)
                    names.append("positions")
                yield pa.RecordBatch.from_arrays(arrays, names=names)

        return src.mapInArrow(count_tokens_arrow, schema=schema)

    # Word-break analyzers (registered via register_wordbreak_analyzer):
    # the DP segmentation is inherently per-string (reference
    # WordBreakTokenizer.java:94-160), so this path is an Arrow-batched
    # mapInPandas whose per-doc kernel is the DP over the session-broadcast
    # log-prob dictionary — the same shape as word_break_col, plus the
    # doc-local (term, tf[, positions]) counting. Unbreakable documents
    # contribute zero tokens (dl=0): a distributed build surfaces them as
    # empty docs rather than aborting the job where the reference throws.
    # Any OTHER analyzer name is an explicit error — there is deliberately
    # no generic per-row-Python fallback (VERDICT r2 item 8).
    from mini_search_engine_spark.analysis.udfs import (
        WORDBREAK_ANALYZERS,
        _wordbreak_broadcast,
    )

    if analyzer not in WORDBREAK_ANALYZERS:
        raise ValueError(
            f"analyzer {analyzer!r} has no build tokenize path; register "
            "word-break analyzers via register_wordbreak_analyzer"
        )
    bdict = _wordbreak_broadcast(analyzer)

    def count_tokens(batches):
        import pandas as pd

        from mini_search_engine_spark.analysis.tokenizers import (
            WordBreakError,
            _stem_cached,
            word_break_logp,
        )

        d, mw, stem = bdict.value

        def _an(c):
            try:
                toks = word_break_logp(c, d, mw)
            except WordBreakError:
                return []
            return [_stem_cached(t) for t in toks] if stem else toks

        for pdf in batches:
            if len(pdf) == 0:
                continue
            docids, dls, terms, tfs, poss = [], [], [], [], []
            toks_iter = pdf["content"].map(_an)
            for docid, toks in zip(pdf["docid"], toks_iter):
                dl = len(toks)
                if positional:
                    by_term: dict = {}
                    for p, t in enumerate(toks):
                        by_term.setdefault(t, []).append(p)
                    for t, plist in by_term.items():
                        docids.append(docid)
                        dls.append(dl)
                        terms.append(t)
                        tfs.append(len(plist))
                        poss.append(plist)
                else:
                    by_term = {}
                    for t in toks:
                        by_term[t] = by_term.get(t, 0) + 1
                    for t, c in by_term.items():
                        docids.append(docid)
                        dls.append(dl)
                        terms.append(t)
                        tfs.append(c)
            data = {"docid": docids, "dl": dls, "term": terms, "tf": tfs}
            if positional:
                data["positions"] = poss
            yield pd.DataFrame(data)

    return src.mapInPandas(count_tokens, schema=schema)


def doc_term_sets(docs: DataFrame, analyzer: str = "porter") -> DataFrame:
    """corpus → (docid, terms array<string>): each doc's DISTINCT analyzed
    terms as a WITHIN-ROW array — no explode, no shuffle, and for the
    'porter' hot path the same fused Arrow kernel strategy as
    ``tokenize_docs`` (Arrow C++ trim/split on raw content,
    dictionary_encode, stem only the batch's unique surface forms) instead
    of the row-at-a-time ``analyze()`` pandas path. Zero-term docs yield
    empty arrays. This is the doc-side input for set-semantics consumers
    (percolation candidate generation + verification)."""
    from mini_search_engine_spark.analysis.udfs import ANALYZERS, WORDBREAK_ANALYZERS

    nn_content = F.coalesce(F.col("content"), F.lit(""))
    if analyzer in ("punct_nostem", "naive", "code"):
        # pure-Catalyst tokenizers: stay inside whole-stage codegen
        return docs.select(
            "docid", F.array_distinct(ANALYZERS[analyzer](nn_content)).alias("terms")
        )

    schema = T.StructType(
        [
            T.StructField("docid", T.LongType(), False),
            T.StructField("terms", T.ArrayType(T.StringType()), False),
        ]
    )
    src = docs.select("docid", nn_content.alias("content"))

    if analyzer == "porter":

        def term_sets_arrow(batches):
            import numpy as np
            import pyarrow as pa
            import pyarrow.compute as pc

            from mini_search_engine_spark.analysis.stopwords import STOP_WORDS
            from mini_search_engine_spark.analysis.tokenizers import (
                PUNCT_SPLIT_PATTERN,
                _stem_cached,
            )

            trim_chars = "".join(chr(i) for i in range(0x21))
            stem_of: dict[str, str] = {}

            def stems_for(uniq):
                """unique surface forms → stem or None (empty/stopword),
                memoized across batches (vocab ≪ token count)."""
                out = []
                for u in uniq:
                    s = stem_of.get(u)
                    if s is None and u not in stem_of:
                        low = u.lower()
                        s = (
                            None
                            if (not low or low in STOP_WORDS)
                            else _stem_cached(low)
                        )
                        stem_of[u] = s
                    else:
                        s = stem_of[u]
                    out.append(s)
                return out

            for rb in batches:
                if rb.num_rows == 0:
                    continue
                docids = rb.column("docid")
                toks = pc.split_pattern_regex(
                    pc.utf8_trim(rb.column("content"), trim_chars),
                    PUNCT_SPLIT_PATTERN,
                )
                n_docs_b = rb.num_rows
                raw_dl = pc.list_value_length(toks).to_numpy().astype(np.int64)
                flat = pc.list_flatten(toks)
                if len(flat) == 0:
                    empty = pa.ListArray.from_arrays(
                        pa.array(np.zeros(n_docs_b + 1, dtype=np.int32)),
                        pa.array([], pa.string()),
                    )
                    yield pa.RecordBatch.from_arrays([docids, empty], ["docid", "terms"])
                    continue
                dictenc = flat.dictionary_encode()
                codes = dictenc.indices.to_numpy().astype(np.int64)
                uniq = dictenc.dictionary.to_pylist()
                stems = stems_for(uniq)
                # map unique surface → dense stem id (-1 = dropped)
                sid_of: dict[str, int] = {}
                stem_strs: list[str] = []
                sid_u = np.full(len(uniq), -1, dtype=np.int64)
                for i, s in enumerate(stems):
                    if s is None:
                        continue
                    j = sid_of.get(s)
                    if j is None:
                        j = len(stem_strs)
                        sid_of[s] = j
                        stem_strs.append(s)
                    sid_u[i] = j
                doc_idx = np.repeat(np.arange(n_docs_b, dtype=np.int64), raw_dl)
                token_sid = sid_u[codes]
                keep = token_sid >= 0
                doc_idx, token_sid = doc_idx[keep], token_sid[keep]
                key = (doc_idx << np.int64(32)) | token_sid
                ukeys = np.unique(key)  # sorted → grouped by doc
                u_doc = (ukeys >> np.int64(32)).astype(np.int64)
                u_sid = (ukeys & np.int64(0xFFFFFFFF)).astype(np.int64)
                cnt = np.bincount(u_doc, minlength=n_docs_b)
                offsets = pa.array(
                    np.concatenate(([0], np.cumsum(cnt))).astype(np.int32)
                )
                values = pc.take(pa.array(stem_strs, pa.string()), pa.array(u_sid))
                lists = pa.ListArray.from_arrays(offsets, values)
                yield pa.RecordBatch.from_arrays([docids, lists], ["docid", "terms"])

        return src.mapInArrow(term_sets_arrow, schema=schema)

    if analyzer in WORDBREAK_ANALYZERS:
        from mini_search_engine_spark.analysis.udfs import _wordbreak_broadcast

        bdict = _wordbreak_broadcast(analyzer)

        def term_sets(batches):
            import pandas as pd

            from mini_search_engine_spark.analysis.tokenizers import (
                WordBreakError,
                _stem_cached,
                word_break_logp,
            )

            d, mw, stem = bdict.value

            def _an(c):
                try:
                    toks = word_break_logp(c, d, mw)
                except WordBreakError:
                    return []
                return sorted({_stem_cached(t) for t in toks} if stem else set(toks))

            for pdf in batches:
                if len(pdf):
                    yield pd.DataFrame(
                        {"docid": pdf["docid"], "terms": pdf["content"].map(_an)}
                    )

        return src.mapInPandas(term_sets, schema=schema)

    raise ValueError(f"analyzer {analyzer!r} has no term-set path")


def doc_lengths(docs: DataFrame, analyzer: str = "porter") -> DataFrame:
    """docid → analyzed token count (dl). Stemming maps tokens 1:1, so the
    'porter' doc length equals the native (JVM-side, codegen) tokenizer's
    ``size()`` — a narrow scan with no Python, no shuffle, no join."""
    base = "punct_nostem" if analyzer == "porter" else analyzer
    c = F.coalesce(F.col("content"), F.lit(""))  # size(null) would be -1
    return docs.select("docid", F.size(analyze_col(c, base)).alias("dl"))


MIN_BLOCK_SPAN = 256
TARGET_BLOCKS = 256


def auto_block_span(n_docs: int) -> int:
    """Corpus-adaptive block span targeting ~TARGET_BLOCKS docid ranges.

    The span is the skew/parallelism knob: a hot stopword-grade term
    produces one posting group PER BLOCK, so total groups ≈ vocabulary ×
    blocks. Too few blocks (65536-span on a 300k-doc corpus → 5 blocks)
    collapses the codec + parquet encode of the hottest terms onto a
    handful of giant rows — measured on this box the postings write then
    runs at the SAME wall time on 8 and 32 cores. Too many blocks
    multiplies vocabulary-sized row counts (every term fragments into
    n_docs/span rows). ~256 blocks balances both at bench scales; at real
    scale (≥ 16M docs) the span caps at DEFAULT_BLOCK_SPAN and block count
    grows with the corpus, which is what block-max pruning wants. The span
    depends only on corpus size — never on core count — so N- and
    4N-parallelism runs build the identical index."""
    return max(MIN_BLOCK_SPAN, min(DEFAULT_BLOCK_SPAN, n_docs // TARGET_BLOCKS))


def _blocked_postings_arrow(
    tf: DataFrame,
    block_span: int,
    compress: bool,
    local: bool = False,
    positional: bool = False,
) -> DataFrame:
    """(docid, dl, term, tid, tf[, positions]) → blocked postings via ONE
    sorted Arrow pass.

    When to use which formulation (both produce identical postings):
    measured head-to-head, the Catalyst hash agg (``collect_list(struct)``,
    see ``build_index``/``merge_segments``) WINS on wall time whenever the
    wide exchange is needed anyway — sorting raw rows by the term string
    costs more than hash-aggregating them (200k-doc merge A/B: ~1.2 s
    Catalyst vs ~4.6 s Arrow at local[16]). This kernel's win is the
    ``local=True`` path below, which removes the exchange entirely for
    docid-range-partitioned input; the exchange variant is kept for
    completeness and for inputs already sorted by (term, block).
    Here the same exchange is expressed as ``repartition(term, block) →
    sortWithinPartitions(term, block, docid)`` and the per-group
    aggregation becomes segmented vectorized kernels over each sorted
    batch: group boundaries by Arrow C++ compare (``pc.not_equal`` on the
    string column — measured ~10µs/row, 138 CPU-s for 14M rows, when done
    through a pandas object-string conversion, which is why this is
    ``mapInArrow`` and NOT ``mapInPandas``), stats by ``ufunc.reduceat``,
    codec by ``encode_flat_segments``. Zero per-group and per-row Python.
    Groups never span partitions (hash on (term, block)); a group spanning
    Arrow batches is carried over to the next batch.

    ``local=True`` is the **partition-local construction** the north_star
    names: when the corpus partitions are docid ranges (``assign_docids``
    range partitioning / ``repartitionByRange("docid")``), each (term,
    block) group lives in one or two input partitions, so the postings are
    built with NO wide exchange at all — just a partition-local sort.
    Blocks straddling a partition boundary yield one postings row per side
    (disjoint docid sub-ranges); every consumer — queries, stats, merge,
    WAND pruning — already aggregates across rows of a (term, block) key,
    exactly as it does across segments. Map-side construction is also what
    makes the lineage resume and streaming per-batch segments cheap.
    """
    # the term string is optional: build-path inputs carry it (it seeds the
    # termstats dictionary), merge-path inputs are already id-encoded
    with_term = "term" in tf.columns
    out_fields = [T.StructField("tid", T.LongType(), False)]
    if with_term:
        out_fields.append(T.StructField("term", T.StringType(), False))
    out_fields += [
        T.StructField("block", T.LongType(), False),
        T.StructField("n", T.IntegerType(), False),
    ]
    if compress:
        data_fields = [
            T.StructField("docids_bytes", T.BinaryType(), False),
            T.StructField("tfs_bytes", T.BinaryType(), False),
            T.StructField("dls_bytes", T.BinaryType(), False),
        ]
        if positional:
            data_fields.append(T.StructField("positions_bytes", T.BinaryType(), False))
    else:
        data_fields = [
            T.StructField("docids", T.ArrayType(T.LongType()), False),
            T.StructField("tfs", T.ArrayType(T.IntegerType()), False),
            T.StructField("dls", T.ArrayType(T.IntegerType()), False),
        ]
        if positional:
            data_fields.append(
                T.StructField(
                    "positions", T.ArrayType(T.ArrayType(T.IntegerType())), False
                )
            )
    stat_fields = [
        T.StructField("min_docid", T.LongType(), False),
        T.StructField("max_docid", T.LongType(), False),
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("min_dl", T.IntegerType(), False),
    ]
    schema = T.StructType(out_fields + data_fields + stat_fields)

    # grouping key is the int tid, NOT the term string: the repartition
    # hashes 8-byte ints and the sort compares ints (the term column rides
    # along only to seed the termstats dictionary downstream)
    in_cols = ["docid", "dl"] + (["term"] if with_term else []) + ["tid", "tf"]
    if positional:
        in_cols.append("positions")
    blocked = tf.select(*in_cols).withColumn(
        "block", (F.col("docid") / block_span).cast("long")
    )
    if not local:
        blocked = blocked.repartition("tid", "block")
    blocked = blocked.sortWithinPartitions("tid", "block", "docid")

    def agg_encode(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def group_starts(tbl: pa.Table) -> np.ndarray:
            nr = tbl.num_rows
            tid = tbl.column("tid").chunk(0)
            block = tbl.column("block").chunk(0)
            if nr == 1:
                return np.array([0], dtype=np.int64)
            neq = pc.or_(
                pc.not_equal(tid.slice(1), tid.slice(0, nr - 1)),
                pc.not_equal(block.slice(1), block.slice(0, nr - 1)),
            ).to_numpy(zero_copy_only=False)
            newg = np.empty(nr, dtype=bool)
            newg[0] = True
            newg[1:] = neq
            return np.nonzero(newg)[0]

        def emit(tbl: pa.Table, starts: np.ndarray) -> pa.RecordBatch:
            nr = tbl.num_rows
            ends = np.append(starts[1:], nr)
            d = tbl.column("docid").chunk(0).to_numpy()
            tfv = tbl.column("tf").chunk(0).to_numpy().astype(np.int64)
            dlv = tbl.column("dl").chunk(0).to_numpy().astype(np.int64)
            idx = pa.array(starts)
            arrays = [pc.take(tbl.column("tid").chunk(0), idx)]
            if with_term:
                arrays.append(pc.take(tbl.column("term").chunk(0), idx))
            arrays += [
                pc.take(tbl.column("block").chunk(0), idx),
                pa.array((ends - starts).astype(np.int32), pa.int32()),
            ]
            if positional:
                # positions arrive as one list<int> per posting ROW; the
                # ListArray's offsets give per-posting boundaries into the
                # flat child values, already in sorted row order, so the
                # grouped codec / list-of-list rebuild is offset slicing —
                # no per-row Python. ``.values`` ignores slicing, so the
                # flat array is trimmed to the slice's [first, last) range.
                plist_arr = tbl.column("positions").chunk(0)
                p_offs = plist_arr.offsets.to_numpy().astype(np.int64)
                base = int(p_offs[0])
                flat_pos = plist_arr.values.to_numpy().astype(np.int64)[
                    base : int(p_offs[-1])
                ]
                p_starts = p_offs[:-1] - base
                p_ends = p_offs[1:] - base
            if compress:
                arrays += [
                    pa.array(C.encode_flat_segments(d, starts, ends, delta=True), pa.binary()),
                    pa.array(C.encode_flat_segments(tfv, starts, ends, delta=False), pa.binary()),
                    pa.array(C.encode_flat_segments(dlv, starts, ends, delta=False), pa.binary()),
                ]
                if positional:
                    arrays.append(
                        pa.array(
                            C.encode_flat_segments_grouped(
                                flat_pos, p_starts, p_ends, starts, ends, delta=True
                            ),
                            pa.binary(),
                        )
                    )
            else:
                offsets = pa.array(np.append(starts, nr).astype(np.int32), pa.int32())
                arrays += [
                    pa.ListArray.from_arrays(offsets, pa.array(d, pa.int64())),
                    pa.ListArray.from_arrays(offsets, pa.array(tfv.astype(np.int32), pa.int32())),
                    pa.ListArray.from_arrays(offsets, pa.array(dlv.astype(np.int32), pa.int32())),
                ]
                if positional:
                    inner = pa.ListArray.from_arrays(
                        pa.array((p_offs - base).astype(np.int32), pa.int32()),
                        pa.array(flat_pos.astype(np.int32), pa.int32()),
                    )
                    arrays.append(pa.ListArray.from_arrays(offsets, inner))
            arrays += [
                pa.array(d[starts], pa.int64()),
                pa.array(d[ends - 1], pa.int64()),
                pa.array(np.maximum.reduceat(tfv, starts).astype(np.int32), pa.int32()),
                pa.array(np.minimum.reduceat(dlv, starts).astype(np.int32), pa.int32()),
            ]
            names = [f.name for f in schema.fields]
            return pa.RecordBatch.from_arrays(arrays, names=names)

        carry: pa.Table | None = None
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if carry is not None and carry.num_rows:
                tbl = pa.concat_tables([carry, tbl]).combine_chunks()
                carry = None
            if tbl.num_rows == 0:
                continue
            starts = group_starts(tbl)
            last_start = int(starts[-1])
            carry = tbl.slice(last_start)
            if last_start:
                yield emit(tbl.slice(0, last_start).combine_chunks(), starts[:-1])
        if carry is not None and carry.num_rows:
            carry = carry.combine_chunks()
            yield emit(carry, group_starts(carry))

    return blocked.mapInArrow(agg_encode, schema=schema)


def _fused_blocked_postings(
    docs: DataFrame,
    block_span: int,
    compress: bool,
    flush_rows: int = 8_000_000,
    positional: bool = False,
) -> DataFrame:
    """content → finished blocked postings in ONE Arrow pass (porter path).

    The full shuffle-free build for docid-range-partitioned input: Arrow
    C++ tokenization, unique-level stemming, per-batch (doc, term)
    counting, then ONE numpy lexsort per partition groups the accumulated
    postings by (term, block) and the batch codec emits them. Nothing but
    raw content enters the Python worker and nothing but finished posting
    blocks leaves it — no tf intermediate (~25× the posting-block bytes)
    crosses the Arrow channel or a shuffle. Measured 2.5× faster than the
    exchange build at 8 cores and ~1.4× at 32 on the 1.2M-doc scaling
    corpus (the fused path saturates this box's memory bus by 8 cores).

    Partition-boundary blocks and ``flush_rows`` spills emit one postings
    row per side/(chunk) for the same (term, block) key — every consumer
    already aggregates across rows of a key, exactly as across segments.
    ``flush_rows`` bounds the per-partition buffer (~32 B/posting), so
    oversized input partitions degrade to more split rows, not OOM.
    """
    out_fields = [
        T.StructField("tid", T.LongType(), False),
        # SPARSE dictionary column: the term string appears on the FIRST
        # (tid → term) row each partition emits and is null elsewhere, so
        # string bytes leaving the kernel are O(partition vocabulary), not
        # O(posting rows); termstats min(term) recovers the dictionary.
        T.StructField("term", T.StringType(), True),
        T.StructField("block", T.LongType(), False),
        T.StructField("n", T.IntegerType(), False),
    ]
    if compress:
        data_fields = [
            T.StructField("docids_bytes", T.BinaryType(), False),
            T.StructField("tfs_bytes", T.BinaryType(), False),
            T.StructField("dls_bytes", T.BinaryType(), False),
        ]
        if positional:
            data_fields.append(T.StructField("positions_bytes", T.BinaryType(), False))
    else:
        data_fields = [
            T.StructField("docids", T.ArrayType(T.LongType()), False),
            T.StructField("tfs", T.ArrayType(T.IntegerType()), False),
            T.StructField("dls", T.ArrayType(T.IntegerType()), False),
        ]
        if positional:
            data_fields.append(
                T.StructField(
                    "positions", T.ArrayType(T.ArrayType(T.IntegerType())), False
                )
            )
    schema = T.StructType(
        out_fields
        + data_fields
        + [
            T.StructField("min_docid", T.LongType(), False),
            T.StructField("max_docid", T.LongType(), False),
            T.StructField("max_tf", T.IntegerType(), False),
            T.StructField("min_dl", T.IntegerType(), False),
        ]
    )

    def fused(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from mini_search_engine_spark.analysis.stopwords import STOP_WORDS
        from mini_search_engine_spark.analysis.tokenizers import (
            PUNCT_SPLIT_PATTERN,
            _stem_cached,
        )
        from mini_search_engine_spark.index.termid import term_id_py

        trim_chars = "".join(chr(i) for i in range(0x21))
        stem_id_of: dict[str, int] = {}
        stem_strs: list[str] = []
        stem_tids: list[int] = []  # parallel: 60-bit term id per stem
        emitted = np.zeros(1024, dtype=bool)  # sid → term string already emitted

        def sid_for(uniq_list):
            ids = np.empty(len(uniq_list), dtype=np.int64)
            for i, u in enumerate(uniq_list):
                s = _stem_cached(u)
                j = stem_id_of.get(s)
                if j is None:
                    j = len(stem_strs)
                    stem_id_of[s] = j
                    stem_strs.append(s)
                    stem_tids.append(term_id_py(s))
                ids[i] = j
            return ids

        def sid_for_cased(uniq):
            # python str.lower on uniques (full Unicode mapping — see
            # tokenize_docs.sid_for_cased for why NOT Arrow utf8_lower)
            sid_u = np.full(len(uniq), -1, dtype=np.int64)
            lowers = [u.lower() for u in uniq]
            kept = [i for i, u in enumerate(lowers) if u and u not in STOP_WORDS]
            if kept:
                sid_u[np.asarray(kept, dtype=np.int64)] = sid_for(
                    [lowers[i] for i in kept]
                )
            return sid_u

        acc_d: list = []
        acc_s: list = []
        acc_t: list = []
        acc_l: list = []
        acc_p: list = []  # flat positions, posting-grouped in acc order
        acc_n = 0

        def emit():
            nonlocal acc_d, acc_s, acc_t, acc_l, acc_p, acc_n, emitted
            d = np.concatenate(acc_d)
            s = np.concatenate(acc_s)
            tf = np.concatenate(acc_t)
            dl = np.concatenate(acc_l)
            flat_pos = np.concatenate(acc_p) if positional else None
            acc_d, acc_s, acc_t, acc_l, acc_p, acc_n = [], [], [], [], [], 0
            blk = d // block_span
            order = np.lexsort((d, blk, s))
            if positional:
                # vectorized range-gather: reorder each posting's contiguous
                # positions slice into the sorted posting order
                old_ends = np.cumsum(tf)
                old_starts = old_ends - tf
                lens_s = tf[order]
                new_ends = np.cumsum(lens_s)
                new_starts = new_ends - lens_s
                idx = (
                    np.arange(int(new_ends[-1]), dtype=np.int64)
                    - np.repeat(new_starts, lens_s)
                    + np.repeat(old_starts[order], lens_s)
                )
                flat_pos = flat_pos[idx]
                p_starts = new_starts
                p_ends = new_ends
            d = d[order]
            s = s[order]
            tf = tf[order]
            dl = dl[order]
            blk = blk[order]
            nr = len(d)
            newg = np.empty(nr, dtype=bool)
            newg[0] = True
            newg[1:] = (s[1:] != s[:-1]) | (blk[1:] != blk[:-1])
            starts = np.nonzero(newg)[0]
            ends = np.append(starts[1:], nr)
            sids_g = s[starts]
            # sparse dictionary emission (all vectorized): term string only
            # on the first partition-wide occurrence of each sid
            if len(emitted) < len(stem_strs):
                grown = np.zeros(max(len(stem_strs), 2 * len(emitted)), dtype=bool)
                grown[: len(emitted)] = emitted
                emitted = grown
            uniq_s, first_pos = np.unique(sids_g, return_index=True)
            new_u = ~emitted[uniq_s]
            emitted[uniq_s[new_u]] = True
            term_mask = np.zeros(len(sids_g), dtype=bool)
            term_mask[first_pos[new_u]] = True
            term_idx = pa.array(sids_g, mask=~term_mask)  # null → no string
            arrays = [
                pa.array(np.asarray(stem_tids, dtype=np.int64)[sids_g], pa.int64()),
                pc.take(pa.array(stem_strs, pa.string()), term_idx),
                pa.array(blk[starts], pa.int64()),
                pa.array((ends - starts).astype(np.int32), pa.int32()),
            ]
            if compress:
                arrays += [
                    pa.array(C.encode_flat_segments(d, starts, ends, delta=True), pa.binary()),
                    pa.array(C.encode_flat_segments(tf, starts, ends, delta=False), pa.binary()),
                    pa.array(C.encode_flat_segments(dl, starts, ends, delta=False), pa.binary()),
                ]
                if positional:
                    # per-POSTING delta segments (C4 layout: tf recovers the
                    # boundaries at decode time), one raw-buffer slice per
                    # (term, block) group — no per-posting bytes objects
                    arrays.append(
                        pa.array(
                            C.encode_flat_segments_grouped(
                                flat_pos, p_starts, p_ends, starts, ends, delta=True
                            ),
                            pa.binary(),
                        )
                    )
            else:
                offsets = pa.array(np.append(starts, nr).astype(np.int32), pa.int32())
                arrays += [
                    pa.ListArray.from_arrays(offsets, pa.array(d, pa.int64())),
                    pa.ListArray.from_arrays(offsets, pa.array(tf.astype(np.int32), pa.int32())),
                    pa.ListArray.from_arrays(offsets, pa.array(dl.astype(np.int32), pa.int32())),
                ]
                if positional:
                    inner = pa.ListArray.from_arrays(
                        pa.array(np.concatenate(([0], p_ends)).astype(np.int32), pa.int32()),
                        pa.array(flat_pos.astype(np.int32), pa.int32()),
                    )
                    arrays.append(pa.ListArray.from_arrays(offsets, inner))
            arrays += [
                pa.array(d[starts], pa.int64()),
                pa.array(d[ends - 1], pa.int64()),
                pa.array(np.maximum.reduceat(tf, starts).astype(np.int32), pa.int32()),
                pa.array(np.minimum.reduceat(dl, starts).astype(np.int32), pa.int32()),
            ]
            return pa.RecordBatch.from_arrays(arrays, names=[f.name for f in schema.fields])

        for rb in batches:
            if rb.num_rows == 0:
                continue
            docids = rb.column("docid").to_numpy()
            toks = pc.split_pattern_regex(
                pc.utf8_trim(rb.column("content"), trim_chars), PUNCT_SPLIT_PATTERN
            )
            raw_dl = pc.list_value_length(toks).to_numpy().astype(np.int64)
            flat = pc.list_flatten(toks)
            if len(flat) == 0:
                continue
            de = flat.dictionary_encode()
            codes = de.indices.to_numpy().astype(np.int64)
            uniq = de.dictionary.to_pylist()
            doc_idx = np.repeat(np.arange(len(docids), dtype=np.int64), raw_dl)
            token_sid = sid_for_cased(uniq)[codes]
            m = token_sid >= 0
            doc_idx = doc_idx[m]
            token_sid = token_sid[m]
            ntok = len(doc_idx)
            if ntok == 0:
                continue
            dl = np.bincount(doc_idx, minlength=len(docids)).astype(np.int64)
            key = (doc_idx << np.int64(32)) | token_sid
            if positional:
                # positions = index in the doc's KEPT token stream (the
                # analyzed stream — stopwords removed before stemming)
                dstarts = np.concatenate(([0], np.cumsum(dl)))[:-1]
                pos_in_doc = np.arange(ntok, dtype=np.int64) - np.repeat(dstarts, dl)
                order_b = np.argsort(key, kind="stable")
                skey = key[order_b]
                newg = np.empty(ntok, dtype=bool)
                newg[0] = True
                newg[1:] = skey[1:] != skey[:-1]
                gstarts = np.nonzero(newg)[0]
                ukeys = skey[gstarts]
                counts = np.append(gstarts[1:], ntok) - gstarts
                acc_p.append(pos_in_doc[order_b])
            else:
                ukeys, counts = np.unique(key, return_counts=True)
            u_doc = (ukeys >> np.int64(32)).astype(np.int64)
            u_sid = (ukeys & np.int64(0xFFFFFFFF)).astype(np.int64)
            acc_d.append(docids[u_doc])
            acc_s.append(u_sid)
            acc_t.append(counts.astype(np.int64))
            acc_l.append(dl[u_doc])
            acc_n += len(ukeys)
            if acc_n >= flush_rows:
                yield emit()
        if acc_n:
            yield emit()

    return docs.select(
        "docid", F.coalesce(F.col("content"), F.lit("")).alias("content")
    ).mapInArrow(fused, schema=schema)


def _termstats_of(postings_with_term: DataFrame) -> DataFrame:
    """(term, tid, df) dictionary sidecar from a postings frame that still
    carries its (possibly sparse) term column: df = Σ n per tid; min(term)
    skips the nulls of the fused path's sparse dictionary column. Map-side
    partial aggregation collapses the strings to one per (partition, tid)
    before the exchange."""
    return (
        postings_with_term.groupBy("tid")
        .agg(F.sum("n").cast("long").alias("df"), F.min("term").alias("term"))
        .select("term", "tid", "df")
    )


def build_index(
    docs: DataFrame,
    analyzer: str = "porter",
    positional: bool = False,
    block_span: int | None = None,
    compress: bool = False,
    local_blocks: bool = False,
    check_tid_collisions: bool = True,
) -> InvertedIndex:
    """Build the blocked postings table + stats from a canonical corpus.

    The plan is fully Catalyst until the optional codec UDF: explode →
    partial/final hash agg on (term, docid) → partial/final hash agg on
    (term, block). Per-block ``ub`` (BM25 upper bound from max_tf) is
    precomputed for query-time block pruning. ``block_span=None`` sizes
    blocks to the corpus (see ``auto_block_span``).

    ``check_tid_collisions`` (default ON — VERDICT r3 item 5) runs the
    60-bit term-id collision detector over the termstats sidecar before
    returning: a silent collision would merge two posting lists
    undetected. Cost: one vocabulary-sized aggregation, which also
    materializes the persisted postings cache (builds were already eager —
    this moves first-touch forward, it does not add a second pass). Gate
    it off only for throughput microbenchmarks that never query the index.
    """
    from mini_search_engine_spark.index.termid import assert_no_tid_collisions

    n_docs = docs.count()
    if block_span is None:
        block_span = auto_block_span(n_docs)

    from concurrent.futures import ThreadPoolExecutor

    if local_blocks and analyzer == "porter":
        # FUSED shuffle-free path over docid-range input partitions:
        # content → one Arrow pass → finished posting blocks (positions
        # included when positional — see _fused_blocked_postings). No tf
        # intermediate exists at all; doclens and avgdl come from the
        # native (JVM codegen) tokenizer scan, which is stemming-invariant.
        # The doclens-sum (total_tokens) job runs on a driver thread
        # CONCURRENT with the fused-plan construction and the optional
        # collision-check job (guide §2.6) — it was a sequential ~0.2 s
        # job on the build critical path (measured at sf0.1, local[32]).
        doclens = doc_lengths(docs, analyzer)
        with ThreadPoolExecutor(max_workers=1) as _pool:
            _total_fut = _pool.submit(
                lambda: doclens.agg(F.sum(F.col("dl").cast("long"))).collect()[0][0]
                or 0
            )
            full = _fused_blocked_postings(
                docs, block_span, compress, positional=positional
            ).persist()
            if check_tid_collisions:
                # on the PRE-aggregation frame: _termstats_of collapses to one
                # row per tid (min(term)), which would make the check vacuous.
                # The fused kernel's sparse dictionary emits every distinct
                # string at least once per partition, so colliding terms both
                # surface here even when they share a partition and block.
                assert_no_tid_collisions(full.select("term", "tid"))
            total_tokens = _total_fut.result()
        return InvertedIndex(
            postings=full.drop("term"),
            doclens=doclens,
            termstats=_termstats_of(full),
            n_docs=int(n_docs),
            avgdl=float(total_tokens / n_docs) if n_docs else 0.0,
            analyzer=analyzer,
            block_span=block_span,
            positional=positional,
            compressed=compress,
            tf=None,
            build_cache=full,
            corpus_cache=getattr(docs, "_corpus_cache", None),
        )

    # One analyzer pass: tf carries dl denormalized onto every token row,
    # so BM25 needs no query-time doclens join — only broadcast scalars/df.
    # (The fused local_blocks path realizes the same denormalization as a
    # per-block dls array parallel to docids/tfs, not a per-row column.)
    # Persisted: postings, doclens and the stats action all reuse it.
    # The tid (JVM-side 60-bit hash of the term, see index/termid.py) is
    # stamped here so every downstream group/sort/shuffle keys on ints.
    from mini_search_engine_spark.index.termid import term_id_col

    native = analyzer in ("porter", "punct_nostem", "naive", "code")
    # doclens for native analyzers is a pure-Catalyst narrow scan whose sum
    # (total_tokens) is an independent job: submit it on a driver thread
    # NOW so it overlaps the postings plan construction below (UDF closure
    # pickling + persist bookkeeping, ~0.2 s driver-side) and, when
    # enabled, the collision-check job (guide §2.6). It was a sequential
    # ~0.2 s job on the build critical path (measured at sf0.1, local[32]:
    # build_index 0.64-0.75 s → 0.37-0.48 s interleaved).
    _total_pool = _total_fut = None
    if native:
        doclens = doc_lengths(docs, analyzer)
        _total_pool = ThreadPoolExecutor(max_workers=1)
        _total_fut = _total_pool.submit(
            lambda: doclens.agg(F.sum(F.col("dl").cast("long"))).collect()[0][0] or 0
        )
    try:
        tf = tokenize_docs(docs, analyzer=analyzer, positional=positional).withColumn(
            "tid", term_id_col(F.col("term"))
        )
        # persist only when a second consumer exists (collision check, or the
        # tf-derived doclens of non-native analyzers): with a single consumer
        # (the postings aggregation) the cache write is pure overhead (r6).
        tf_multi = check_tid_collisions or not native
        if tf_multi:
            tf = tf.persist()

        if local_blocks:
            # shuffle-free path for NON-porter analyzers: partition-local
            # sorted Arrow aggregation over docid-range input partitions — see
            # _blocked_postings_arrow. (Measured NOT faster than the hash-agg
            # below when the exchange is needed anyway: sorting 1M raw rows per
            # partition by the term string costs more than hash aggregation.)
            postings = _blocked_postings_arrow(
                tf, block_span, compress, local=True, positional=positional
            )
        else:
            # exchange path: Catalyst hash aggregation — collect per-group
            # struct arrays, sort each group's array (ints within a group,
            # cheaper than sorting raw rows by string term), then the batch
            # codec UDF. Grouping keys are (tid, block) ints; min(term) rides
            # along only to seed the termstats dictionary (map-side partial
            # agg collapses it to one string per group before the exchange).
            blocked = tf.withColumn("block", (F.col("docid") / block_span).cast("long"))
            plist_fields = [F.col("docid"), F.col("tf"), F.col("dl")]
            if positional:
                plist_fields.append(F.col("positions"))
            plist = F.sort_array(F.collect_list(F.struct(*plist_fields)))
            agg = blocked.groupBy("tid", "block").agg(
                F.min("term").alias("term"),
                plist.alias("plist"),
                F.count("*").cast("int").alias("n"),
                F.min("docid").alias("min_docid"),
                F.max("docid").alias("max_docid"),
                F.max("tf").alias("max_tf"),
                F.min("dl").alias("min_dl"),
            )
            cols = [
                "tid",
                "term",
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
                cols.insert(7, F.transform("plist", lambda x: x["positions"]).alias("positions"))
            postings = agg.select(*cols)
            if compress:
                # C4: position lists delta-varint encoded; tf array recovers
                # the per-posting list boundaries at decode time. One
                # mapInArrow pass over the ListArray buffers — no per-posting
                # Python objects (see compress.encode_blocks_arrow).
                postings = C.encode_blocks_arrow(postings, positional)
        full = postings.persist()

        # doclens: for analyzers with a native tokenizer the doc length is a
        # pure-Catalyst narrow scan (stemming is 1:1 so 'porter' dl == native
        # token count) — measured ~4× cheaper than deriving it from tf, whose
        # groupBy(docid) shuffles every posting row and whose left join added a
        # second (flat, non-scaling) job to every index write. Non-native
        # analyzers fall back to the tf derivation. total_tokens comes from
        # the doclens scan, NOT a tf aggregation (Σ tf ≡ Σ dl — the same 1:1
        # invariant the fused path and doclens itself already rely on), and
        # for native analyzers the job was submitted on a driver thread above.
        if not native:
            dl_nonzero = tf.groupBy("docid").agg(F.max("dl").alias("dl"))
            doclens = (
                docs.select("docid").join(dl_nonzero, "docid", "left").na.fill(0, ["dl"])
            )
            total_tokens = tf.agg(F.sum(F.col("tf").cast("long"))).collect()[0][0] or 0

        if check_tid_collisions:
            # on the token frame, not the (tid, block)-aggregated postings: a
            # same-block collision would be collapsed by that agg's min(term).
            # count_distinct partial-aggregates to distinct (term, tid) pairs
            # map-side, so this is a vocabulary-sized exchange, not a token one.
            assert_no_tid_collisions(tf.select("term", "tid"))
        if native:
            total_tokens = _total_fut.result()
    finally:
        if _total_pool is not None:
            _total_pool.shutdown()
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    return InvertedIndex(
        postings=full.drop("term"),
        doclens=doclens,
        termstats=_termstats_of(full),
        n_docs=int(n_docs),
        avgdl=float(avgdl),
        analyzer=analyzer,
        block_span=block_span,
        positional=positional,
        compressed=compress,
        tf=tf,
        build_cache=full,
        corpus_cache=getattr(docs, "_corpus_cache", None),
    )


def _hadoop_fs(spark: SparkSession, path: str):
    """Hadoop FileSystem + Path for ``path`` under the session's config —
    the sidecar must live on the SAME filesystem as the parquet files
    (hdfs://, s3a://, file:/...), not on the driver's local disk."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _write_sidecar(spark: SparkSession, path: str, text: str, mode: str) -> None:
    fs, hpath = _hadoop_fs(spark, path)
    if fs.exists(hpath):
        if mode == "ignore":
            return
        if mode in ("error", "errorifexists"):
            raise FileExistsError(f"{path} already exists (mode={mode})")
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_sidecar(spark: SparkSession, path: str) -> str | None:
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_index(index: InvertedIndex, path: str, mode: str = "overwrite") -> None:
    """Persist the index: postings hash-distributed + sorted by tid so
    int term-id predicates prune Parquet row groups via column min/max
    stats (replaces the reference's dictionary-first lookup,
    ``InvertedIndexManager.java:757-766``)."""
    # The (tid, block) aggregation already hash-distributed the rows; a
    # partition-local sort is enough for tid-predicate row-group pruning —
    # re-shuffling GBs of posting arrays would double the write cost.
    #
    # Job overlap (guide §2.6): doclens depends only on the corpus, so its
    # write runs CONCURRENTLY with the postings write (its tasks back-fill
    # the postings job's tail). termstats aggregates the postings frame, so
    # it still waits for the postings write to materialize the postings/tf
    # caches — submitting it earlier would recompute the whole pipeline.
    from concurrent.futures import ThreadPoolExecutor

    def _w_postings():
        (
            # a warm index's stamped df is serving state, not index data
            index.postings.drop("df")
            .sortWithinPartitions("tid", "block")
            .write.mode(mode)
            .parquet(f"{path}/postings")
        )

    def _w_doclens():
        index.doclens.sortWithinPartitions("docid").write.mode(mode).parquet(
            f"{path}/doclens"
        )

    def _w_termstats():
        index.termstats.write.mode(mode).parquet(f"{path}/termstats")

    with ThreadPoolExecutor(max_workers=2) as pool:
        for fut in [pool.submit(_w_postings), pool.submit(_w_doclens)]:
            fut.result()
    _w_termstats()
    # scalar metadata as a JSON sidecar through the Hadoop FileSystem API —
    # a one-row Spark write is a whole extra job (+task +file commit) per
    # build; a single small PUT on the index's own filesystem is enough.
    # Written LAST (only after the parquet writes succeeded) and honoring
    # ``mode`` like the dataframe writers do.
    import json as _json

    spark = index.postings.sparkSession
    _write_sidecar(
        spark,
        f"{path}/meta.json",
        _json.dumps(
            {
                "n_docs": index.n_docs,
                "avgdl": index.avgdl,
                "analyzer": index.analyzer,
                "block_span": index.block_span,
                "positional": index.positional,
                "compressed": index.compressed,
                "pruned": index.pruned,
            }
        ),
        mode,
    )


def read_index(spark: SparkSession, path: str) -> InvertedIndex:
    import json as _json

    raw = _read_sidecar(spark, f"{path}/meta.json")
    if raw is not None:
        meta = _json.loads(raw)
    else:  # indexes written by older builds / lineage finalize
        meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
    return InvertedIndex(
        postings=spark.read.parquet(f"{path}/postings"),
        doclens=spark.read.parquet(f"{path}/doclens"),
        termstats=spark.read.parquet(f"{path}/termstats"),
        n_docs=meta["n_docs"],
        avgdl=meta["avgdl"],
        analyzer=meta["analyzer"],
        block_span=meta["block_span"],
        positional=meta["positional"],
        compressed=meta["compressed"],
        pruned=bool(meta.get("pruned", False)),
    )


def index_stats(index: InvertedIndex) -> DataFrame:
    """One-row index health report: (n_docs, vocab_size, total_postings,
    max_df, total_tokens, avgdl) — the operational numbers (is the
    dictionary exploding? is df skew extreme?) from the two SIDECAR
    tables only; posting arrays are never touched."""
    vocab = index.termstats.agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.sum("df").cast("long").alias("total_postings"),
        F.max("df").cast("long").alias("max_df"),
    )
    toks = index.doclens.agg(F.sum(F.col("dl").cast("long")).alias("total_tokens"))
    return (
        vocab.crossJoin(toks)
        .withColumn("n_docs", F.lit(index.n_docs).cast("long"))
        .withColumn("avgdl", F.round(F.lit(index.avgdl), 6))
        .select("n_docs", "vocab_size", "total_postings", "max_df", "total_tokens", "avgdl")
    )


def index_diff(old: "InvertedIndex", new: "InvertedIndex") -> DataFrame:
    """Vocabulary drift between two index snapshots → (term, df_old,
    df_new, delta, status ∈ added|removed|grown|shrunk|same) — the ops
    tool behind "did this crawl batch change the dictionary the way we
    expected?" (new spam vocabulary, a language shift, a tokenizer
    regression all show up here first).

    One full-outer join of the two O(vocab) termstats SIDECARS on the
    term id — posting arrays are never read, and because both sides carry
    the coordination-free 60-bit hash id, the join key is an 8-byte int
    even though the output reports the term string."""
    o = old.termstats.select("tid", "term", F.col("df").alias("df_old"))
    n = new.termstats.select(
        "tid", F.col("term").alias("term_new"), F.col("df").alias("df_new")
    )
    j = o.join(n, "tid", "full_outer")
    df_old = F.coalesce(F.col("df_old"), F.lit(0)).cast("long")
    df_new = F.coalesce(F.col("df_new"), F.lit(0)).cast("long")
    status = (
        F.when(F.col("df_old").isNull(), F.lit("added"))
        .when(F.col("df_new").isNull(), F.lit("removed"))
        .when(df_new > df_old, F.lit("grown"))
        .when(df_new < df_old, F.lit("shrunk"))
        .otherwise(F.lit("same"))
    )
    return j.select(
        F.coalesce(F.col("term"), F.col("term_new")).alias("term"),
        df_old.alias("df_old"),
        df_new.alias("df_new"),
        (df_new - df_old).alias("delta"),
        status.alias("status"),
    )
