"""Percolation — reverse search: match DOCUMENTS against stored QUERIES.

The forward engine answers "which docs match this query"
(``InvertedIndexManager.java:1121-1168`` AND semantics); percolation
answers "which stored queries match this doc" — the alerting/routing
primitive (saved searches, topic subscriptions, compliance rules) that a
streaming ingest pipeline runs on every new batch.

Design (the Elasticsearch percolator, Spark-first): stored queries are
compiled driver-side into a **rarest-term routing index** — each query
registered under its df-rarest term(s) — broadcast to every worker, and
the corpus makes ONE ``mapInPandas`` pass over within-row distinct term
sets (``index.build.doc_term_sets``, the fused Arrow tokenize kernel):
per doc, only queries routed by one of the doc's own terms are even
looked at, and verification is an exact in-memory subset/intersect
against the doc's term set. Zero shuffles, zero join fanout — cost is
Σ_doc Σ_{t ∈ doc} |queries routed by t|, which rarest-term routing
drives toward the true match count. The r4 shape — a shuffle join
between the full (docid, term) and (qid, term) relations — shipped
Σ_t df(t)·qf(t) rows (bus-bound at 0.33-0.55 efficiency on the 2→8
pair); the r5 join-free pass removes that exchange entirely.

For AND semantics a query is routed by exactly its rarest term (a doc
can only match if it contains it); for ``min_should=m`` by its
``nterms - m + 1`` rarest terms (pigeonhole: if ≥ m of n terms match,
at most n - m are absent, so at least one routing term is present).
Routing df comes from a bounded scan-short-circuiting corpus probe
restricted to the QUERY vocabulary (or pass ``df_stats``, e.g.
``index.termstats``) — df accuracy affects only candidate selectivity,
never correctness.

``broadcast_queries=False`` keeps a fully declarative DataFrame
fallback (routing + verification as broadcast-free joins) for stored-
query sets too large to broadcast (≫ millions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mini_search_engine_spark.index.build import doc_term_sets, tokenize_docs

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("docid", T.LongType(), False),
        T.StructField("qid", T.LongType(), False),
        T.StructField("matched", T.LongType(), False),
        T.StructField("nterms", T.LongType(), False),
    ]
)


def _query_terms(queries: DataFrame, analyzer: str) -> DataFrame:
    """(qid, query) → (qid, term, nterms): distinct analyzed terms per
    stored query, via the same tokenize kernel as the doc side."""
    q = queries.select(F.col("qid").alias("docid"), F.col("query").alias("content"))
    toks = tokenize_docs(q, analyzer).select(F.col("docid").alias("qid"), "term").distinct()
    return toks.withColumn("nterms", F.count("*").over(Window.partitionBy("qid")))


def _df_probe_terms(docs: DataFrame, analyzer: str, df_probe: int) -> DataFrame:
    """Exploded terms of a bounded df-estimation probe. ``limit`` (not
    ``sample``) on purpose: LocalLimit short-circuits the scan after
    enough rows, so the probe reads a handful of files instead of the
    whole corpus — the probe's job is only to RANK common vs rare terms
    for routing, which tolerates a prefix-biased estimate (routing df
    never affects correctness)."""
    return doc_term_sets(docs.limit(df_probe), analyzer).select(
        F.explode("terms").alias("term")
    )


def _routing_df(
    docs: DataFrame,
    qvocab: DataFrame,
    analyzer: str,
    df_stats: DataFrame | None,
    df_probe: int,
) -> DataFrame:
    """(term, df) restricted to the query vocabulary — from caller-supplied
    stats or the bounded corpus probe. Only the ranking matters."""
    if df_stats is not None:
        return df_stats.join(qvocab, "term").select("term", "df")
    return (
        _df_probe_terms(docs, analyzer, df_probe)
        .join(F.broadcast(qvocab), "term")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )


def _collect_query_sets(queries: DataFrame, analyzer: str) -> list[tuple[int, list[str]]]:
    """(qid, query) → [(qid, distinct analyzed terms)], analyzed DRIVER-side.

    The stored-query set is driver-bounded by contract (it broadcasts), so
    the raw rows are collected with one plain job and analyzed with
    ``analyze_query`` — semantics identical to the ``tokenize_docs``
    kernel by that function's contract. The r5 shape shipped the handful
    of query strings through the full mapInArrow tokenize pipeline plus a
    groupBy — a whole Python-worker job on the one-shot compile path
    (~0.4 s of the percolate_8q wall at sf1.0) for rows that fit in a
    driver loop. Queries that analyze to zero terms (incl. NULL /
    unbreakable word-break input, which the kernel maps to zero tokens)
    are dropped exactly as before: absent from the routing index, they
    never match."""
    from mini_search_engine_spark.analysis.tokenizers import WordBreakError
    from mini_search_engine_spark.analysis.udfs import analyze_query

    out: list[tuple[int, list[str]]] = []
    for r in queries.select("qid", "query").collect():
        q = r["query"]
        if q is None:
            continue
        try:
            toks = analyze_query(q, analyzer)
        except WordBreakError:
            continue
        if toks:
            out.append((r["qid"], sorted(set(toks))))
    return out


class Percolator:
    """COMPILED stored-query set: analyze the queries and (optionally)
    build the rarest-term routing index ONCE, then ``match(docs)`` any
    number of document batches with only the kernel pass per batch — the
    shape a streaming alert pipeline wants (``percolate_stream`` compiles
    one Percolator outside ``foreachBatch``).

    With ``df_stats`` the routing index builds at construction (zero
    per-batch driver work). Without it, the FIRST ``match`` probes that
    batch for routing df and the compiled index is reused afterwards —
    routing df never affects correctness, so later batches' df drift
    only perturbs candidate selectivity. Below ``probe_min_queries``
    stored queries there is no probe and ``df_probe`` is ignored."""

    def __init__(
        self,
        queries: DataFrame,
        analyzer: str = "porter",
        min_should: int | None = None,
        df_stats: DataFrame | None = None,
        df_probe: int = 20_000,
        probe_min_queries: int = 16,
    ):
        self.analyzer = analyzer
        self.min_should = min_should
        self.df_probe = df_probe
        self.probe_min_queries = probe_min_queries
        self._qrows = _collect_query_sets(queries, analyzer)
        self._vocab = sorted({t for _, qset in self._qrows for t in qset})
        self._b_index = None
        self._spark = queries.sparkSession
        if df_stats is not None:
            self._compile(
                df_stats.filter(F.col("term").isin(self._vocab)).select("term", "df")
                if len(self._vocab) <= 10_000
                else df_stats.join(
                    F.broadcast(
                        self._spark.createDataFrame(
                            [(t,) for t in self._vocab], "term string"
                        )
                    ),
                    "term",
                ).select("term", "df")
            )

    def _compile(self, df_src: DataFrame) -> None:
        self._compile_map({r["term"]: r["df"] for r in df_src.collect()})

    def _compile_map(self, dfmap: dict) -> None:
        # rarest-term routing index: term -> [(qid, frozenset terms, nterms)]
        index: dict[str, list[tuple[int, frozenset, int]]] = {}
        for qid, qset in self._qrows:
            terms = sorted(qset, key=lambda t: (dfmap.get(t, 0), t))
            n = len(terms)
            n_route = (
                1
                if self.min_should is None
                else max(0, min(n, n - self.min_should + 1))
            )
            entry = (qid, frozenset(terms), n)
            for t in terms[:n_route]:
                index.setdefault(t, []).append(entry)
        self._b_index = self._spark.sparkContext.broadcast(index)

    def match(self, docs: DataFrame) -> DataFrame:
        if self._b_index is None:
            if len(self._qrows) < self.probe_min_queries:
                # Cost gate (r6, same shape as bm25's PRUNE_MIN_POSTINGS):
                # routing choice NEVER affects the emitted rows — for an
                # emitted (doc, query) pair the doc holds ≥ min_should of
                # the query's terms, and any n−m+1 routed terms must
                # intersect those by pigeonhole — df ranking only tunes
                # which candidates get CHECKED. With a handful of stored
                # queries the kernel pass is tokenize-dominated (at most
                # |queries| extra set intersections per doc under the
                # worst routing), while the df probe is a whole
                # tokenize-pipeline job over up to df_probe docs. Skip it
                # and route by the existing df=0 fallback ordering
                # (term-sorted); pass probe_min_queries=0 to always probe.
                self._compile_map({})
            else:
                src = (
                    _df_probe_terms(docs, self.analyzer, self.df_probe)
                    .filter(F.col("term").isin(self._vocab))
                    .groupBy("term")
                    .agg(F.count("*").alias("df"))
                )
                self._compile(src)
        b_index = self._b_index
        need_m = self.min_should  # None = AND

        def run(batches):
            import pandas as pd

            idx = b_index.value

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                docids, qids, matched, nterms = [], [], [], []
                for docid, terms in zip(pdf["docid"], pdf["terms"]):
                    s = set(terms)
                    if not s:
                        continue
                    seen = set()
                    for t in s:
                        for qid, qset, n in idx.get(t, ()):
                            if qid in seen:
                                continue
                            seen.add(qid)
                            m = len(qset & s)
                            if m >= (n if need_m is None else need_m):
                                docids.append(docid)
                                qids.append(qid)
                                matched.append(m)
                                nterms.append(n)
                if docids:
                    yield pd.DataFrame(
                        {
                            "docid": docids,
                            "qid": qids,
                            "matched": matched,
                            "nterms": nterms,
                        }
                    )

        return doc_term_sets(docs, self.analyzer).mapInPandas(run, schema=_OUT_SCHEMA)


def percolate(
    docs: DataFrame,
    queries: DataFrame,
    analyzer: str = "porter",
    min_should: int | None = None,
    df_stats: DataFrame | None = None,
    broadcast_queries: bool = True,
    df_probe: int = 20_000,
    probe_min_queries: int = 16,
) -> DataFrame:
    """→ (docid, qid, matched, nterms): stored queries matching each doc.
    AND semantics by default (matched == nterms); ``min_should=m`` relaxes
    to match-at-least-m (a pair must still share ≥ 1 term). ``queries``
    has (qid long, query string); empty queries never match.

    One-shot convenience over ``Percolator`` — repeated callers (streams,
    benches) should compile a Percolator once and ``match`` per batch.

    ``df_probe`` (docs sampled for routing df when ``df_stats`` is None)
    is ignored below ``probe_min_queries`` stored queries: such small sets
    route term-sorted without a probe job. Routing never changes the
    emitted rows, only how many candidates are checked; pass
    ``probe_min_queries=0`` to always probe."""
    if not broadcast_queries:
        return _percolate_join(docs, queries, analyzer, min_should, df_stats, df_probe)
    return Percolator(
        queries,
        analyzer=analyzer,
        min_should=min_should,
        df_stats=df_stats,
        df_probe=df_probe,
        probe_min_queries=probe_min_queries,
    ).match(docs)


def _percolate_join(
    docs: DataFrame,
    queries: DataFrame,
    analyzer: str,
    min_should: int | None,
    df_stats: DataFrame | None,
    df_probe: int,
) -> DataFrame:
    """Declarative fallback for stored-query sets too large to broadcast:
    the same rarest-term routing as shuffle joins. Candidates come from
    one explode of the doc term set joined to the routing table;
    verification re-joins the candidate (docid, qid) pairs against the
    exploded (qid, term)×(docid, term) relations restricted to
    candidates — never Σ_t df·qf rows."""
    qterms = _query_terms(queries, analyzer)
    qvocab = qterms.select("term").distinct()
    df_q = _routing_df(docs, qvocab, analyzer, df_stats, df_probe)

    n_route = (
        F.lit(1)
        if min_should is None
        else F.col("nterms") - F.lit(min_should) + F.lit(1)
    )
    rk = Window.partitionBy("qid").orderBy(F.col("df").asc(), F.col("term").asc())
    routing = (
        qterms.join(df_q, "term", "left")
        .withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
        .withColumn("__rk", F.row_number().over(rk))
        .filter(F.col("__rk") <= n_route)
        .select("term", "qid")
    )

    dterms = (
        doc_term_sets(docs, analyzer)
        .select("docid", F.explode("terms").alias("term"))
    )
    cands = dterms.join(routing, "term").select("docid", "qid").distinct()

    hits = (
        cands.join(qterms, "qid")
        .join(dterms, ["docid", "term"])
        .groupBy("docid", "qid")
        .agg(F.count("*").alias("matched"), F.max("nterms").alias("nterms"))
    )
    need = F.col("nterms") if min_should is None else F.lit(min_should)
    return hits.filter(F.col("matched") >= need).select(
        "docid", "qid", "matched", "nterms"
    )
