"""PageRank + combined web ranking.

Reference: ``search/IcsSearchEngine.computePageRank``
(``IcsSearchEngine.java:116-174``): damping d=0.85, all scores init 1.0,
per iteration ``score(v) = (1-d) + d·Σ_{u→v} prev(u)/outdeg(u)`` — the
UN-normalized variant with no dangling-mass redistribution. Nodes with no
in-links settle at ``1-d``. The reference publishes the ``prev`` buffer
after its swap loop (``:149-155``), i.e. the last completed iteration —
running exactly ``num_iter`` iterations here matches it.

Combined ranking: ``IcsSearchEngine.searchQuery`` (``:199-232``) —
``combined = tfidf + w · pagerank``, sort desc, truncate.

Spark-first: the iteration is a join+groupBy loop over DataFrames with
``localCheckpoint`` every few rounds to cut lineage (100 iterations would
otherwise build a 100-deep plan).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85

log = logging.getLogger(__name__)


def pagerank(
    edges: DataFrame,
    num_iter: int = 100,
    damping: float = DAMPING,
    checkpoint_every: int = 10,
    nodes: DataFrame | None = None,
    cache_inputs: bool | None = None,
) -> DataFrame:
    """→ (docid, pagerank). ``edges`` has (src, dst) long columns.

    ``nodes`` optionally supplies the full vertex set (isolated vertices
    included); by default vertices are those appearing in any edge.

    Cache policy (``cache_inputs=None`` → auto): a SHORT loop (no
    checkpoint fires) is left fully lazy with nothing persisted — AQE
    executes the whole unrolled plan in one action at essentially the
    cached-loop speed, and there is no block-manager state to leak.
    A LONG loop persists the loop invariants (nodes / outdeg / 1-over-
    outdeg contribution edges), truncates lineage via ``localCheckpoint``
    every ``checkpoint_every`` iterations, materializes the final chunk
    through the caches, then releases them before returning — a consumer
    action recomputes at most the post-last-checkpoint chunk without
    caches. (Persisting the RESULT instead was measured 4-6× slower at 10
    iterations: a cached plan forgoes AQE's shuffle coalescing and pays
    for every micro-shuffle of the loop.)
    """
    if cache_inputs is None:
        cache_inputs = num_iter > checkpoint_every
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("docid"))
            .unionByName(edges.select(F.col("dst").alias("docid")))
            .distinct()
        )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # contribution edges with 1/outdeg prebaked — loop-invariant
    contrib_edges = edges.join(outdeg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w")
    )
    if cache_inputs:
        nodes = nodes.persist()
        outdeg = outdeg.persist()
        contrib_edges = contrib_edges.persist()

    ranks = nodes.select("docid", F.lit(1.0).alias("pagerank"))
    for i in range(num_iter):
        msgs = (
            contrib_edges.join(
                ranks.withColumnRenamed("docid", "src"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pagerank") * F.col("w")).alias("msum"))
        )
        ranks = (
            nodes.join(msgs.withColumnRenamed("dst", "docid"), "docid", "left")
            .select(
                "docid",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce(F.col("msum"), F.lit(0.0))
                ).alias("pagerank"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < num_iter:
            ranks = ranks.localCheckpoint()
    if cache_inputs:
        ranks.count()  # materialize the final chunk through the caches
        nodes.unpersist()
        outdeg.unpersist()
        contrib_edges.unpersist()
    return ranks


def combined_search(
    scored: DataFrame,
    ranks: DataFrame,
    weight: float,
    topk: int | None = 10,
) -> DataFrame:
    """Join (docid, score) with (docid, pagerank) → combined ranking.

    Docs missing from the rank table contribute pagerank 0 (the reference
    looks up a dense array by docid; ids outside the graph don't occur in
    its corpus — 0 is the neutral generalization).
    """
    out = (
        scored.join(ranks, "docid", "left")
        .select(
            "docid",
            (
                F.col("score")
                + F.lit(weight) * F.coalesce(F.col("pagerank"), F.lit(0.0))
            ).alias("combined"),
            "score",
        )
        .orderBy(F.desc("combined"), F.asc("docid"))
    )
    return out.limit(topk) if topk is not None else out


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    num_iter: int = 5,
    damping: float = DAMPING,
    checkpoint_every: int = 10,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Personalized PageRank → (docid, ppr): the reference formula with
    the teleport mass concentrated on ``seeds`` instead of spread
    uniformly — ``ppr(v) = base(v) + d·Σ_{u→v} prev(u)/outdeg(u)`` with
    ``base = (1−d)`` on seeds, 0 elsewhere (the same UN-normalized
    convention as ``pagerank``; seeds init at 1.0, others 0). Scores
    measure proximity to the seed set: recommendations from a liked doc,
    TrustRank from a vetted set, topic-conditioned authority.

    Same loop/caching discipline as ``pagerank`` (loop-invariant contrib
    edges persisted, ``localCheckpoint`` lineage cuts for long runs, all
    caches released before returning). Unlike the BFS ``link_distance``,
    mass DECAYS with distance — two hops through high-outdeg hubs score
    below one hop through a focused page.
    """
    seed_set = sorted({int(s) for s in seeds})
    if not seed_set:
        raise ValueError("personalized_pagerank requires at least one seed")
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("docid"))
            .unionByName(edges.select(F.col("dst").alias("docid")))
            .distinct()
        )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    contrib_edges = edges.join(outdeg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w")
    )
    nodes = nodes.persist()
    contrib_edges = contrib_edges.persist()
    is_seed = F.col("docid").isin(seed_set)
    base = F.when(is_seed, F.lit(1.0 - damping)).otherwise(F.lit(0.0))
    ranks = nodes.select(
        "docid", F.when(is_seed, F.lit(1.0)).otherwise(F.lit(0.0)).alias("ppr")
    )
    for i in range(num_iter):
        msgs = (
            contrib_edges.join(ranks.withColumnRenamed("docid", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("ppr") * F.col("w")).alias("msum"))
        )
        ranks = nodes.join(
            msgs.withColumnRenamed("dst", "docid"), "docid", "left"
        ).select(
            "docid",
            (base + F.lit(damping) * F.coalesce(F.col("msum"), F.lit(0.0))).alias("ppr"),
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < num_iter:
            ranks = ranks.localCheckpoint()
    ranks = ranks.localCheckpoint()  # pin, then release the loop invariants
    nodes.unpersist()
    contrib_edges.unpersist()
    return ranks


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release a no-longer-needed eager ``localCheckpoint``'s storage
    block. ``Dataset.unpersist`` only clears cache-manager entries, never
    checkpoint RDDs; a checkpointed frame's analyzed plan is a
    ``LogicalRDD`` whose rdd handle unpersists exactly OUR block — no id
    guessing, safe with concurrent callers persisting their own frames.
    Best-effort: on any internals mismatch the ContextCleaner/GC backstop
    still reclaims the block eventually, and a warning says so."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        log.warning("local checkpoint not released, left to the context cleaner", exc_info=True)


def link_distance(
    edges: DataFrame,
    seeds: list[int],
    max_hops: int = 4,
) -> DataFrame:
    """BFS over the link graph → (docid, dist): minimum hop count from any
    seed, up to ``max_hops``; unreachable docs are absent. The crawl-depth /
    spam-distance primitive (distance from a trusted seed set is the core
    of TrustRank-style ranking signals).

    Iterative frontier expansion: each hop is ONE eager ``localCheckpoint``
    job — frontier ⋈ edges → new docids (left_anti against everything
    already reached) — so lineage stays constant-depth and a hop whose
    frontier is empty stops the loop early (the emptiness check rides the
    checkpoint's materialization, no extra job). State is O(reached), the
    per-hop shuffle is O(frontier-adjacent edges); hub fanout dedups inside
    the hop's ``distinct`` before touching the reached set.

    r6: the reached set is a LAZY union of the hop checkpoints rather
    than a re-checkpointed frame — a union of ≤ max_hops in-memory
    leaves is constant-depth lineage already, so the second
    materialization job every hop paid was pure overhead; and the hop-h
    frontier IS the previous hop's ``nxt`` (exactly the rows the old
    ``filter(dist == hop-1)`` selected), so no filter over the union
    either. One final checkpoint pins the result and lets every hop leaf
    be freed (same leak contract: one surviving block).
    """
    spark = edges.sparkSession
    e = edges.select("src", "dst").persist()
    seed0 = spark.createDataFrame(
        [(int(s), 0) for s in sorted(set(seeds))], "docid long, dist int"
    ).localCheckpoint()
    _ckpts: list[DataFrame] = [seed0]
    dist = seed0
    frontier = seed0.select("docid")
    for hop in range(1, max_hops + 1):
        nxt = (
            e.join(frontier.withColumnRenamed("docid", "src"), "src")
            .select(F.col("dst").alias("docid"))
            .distinct()
            .join(dist, "docid", "left_anti")
            .select("docid", F.lit(hop).alias("dist"))
        ).localCheckpoint()  # eager: 1 job per hop, constant lineage
        _ckpts.append(nxt)
        if not nxt.take(1):  # checkpointed — take(1) is a local scan
            break
        dist = dist.unionByName(nxt)  # lazy union of checkpoint leaves
        frontier = nxt.select("docid")
    out = dist.localCheckpoint()  # pin the result, then free the hop leaves
    e.unpersist()
    for df in _ckpts:
        _free_local_checkpoint(df)
    return out


def cocitation(
    edges: DataFrame,
    min_common: int = 1,
    max_outdeg: int | None = None,
) -> DataFrame:
    """Co-citation similarity → (d1, d2, common, jaccard), d1 < d2: pairs
    of docs linked FROM at least ``min_common`` common sources, with
    Jaccard over their in-neighbor sets — "docs cited together are
    related" (Small 1973), the link-structure analog of related_docs'
    term-vector cosine.

    One self-join of the edge list on ``src`` + one (d1, d2) aggregation.
    The scale knob mirrors related_docs' df ceiling: a source with outdeg
    k contributes k²/2 pairs, so ``max_outdeg`` drops mega-hub sources via
    a broadcast anti-join (the > ceiling set is tiny); in-degrees for the
    Jaccard denominator still count ALL edges, so the cap only thins the
    pair-evidence side, exactly like df-filtered cosine.
    """
    e = edges.select("src", "dst").distinct()
    if max_outdeg is not None:
        heavy = (
            e.groupBy("src")
            .agg(F.count("*").alias("outdeg"))
            .filter(F.col("outdeg") > max_outdeg)
            .select("src")
        )
        pair_src = e.join(F.broadcast(heavy), "src", "left_anti")
    else:
        pair_src = e
    a, b = pair_src.alias("a"), pair_src.alias("b")
    common = (
        a.join(b, (F.col("a.src") == F.col("b.src")) & (F.col("a.dst") < F.col("b.dst")))
        .groupBy(F.col("a.dst").alias("d1"), F.col("b.dst").alias("d2"))
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    indeg = e.groupBy("dst").agg(F.count("*").alias("indeg"))
    return (
        common.join(indeg.withColumnRenamed("dst", "d1").withColumnRenamed("indeg", "i1"), "d1")
        .join(indeg.withColumnRenamed("dst", "d2").withColumnRenamed("indeg", "i2"), "d2")
        .select(
            "d1",
            "d2",
            "common",
            F.round(
                F.col("common") / (F.col("i1") + F.col("i2") - F.col("common")), 6
            ).alias("jaccard"),
        )
    )


def hits(
    edges: DataFrame,
    num_iter: int = 5,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """HITS (Kleinberg) → (docid, authority, hub), L2-normalized each
    half-step — the query-independent complement to ``pagerank``:
    authorities are pointed at by good hubs, hubs point at good
    authorities; on a code-dependency graph authorities are core
    libraries, hubs are integration roots.

    Loop discipline: every half-step ends in an EAGER ``localCheckpoint``
    of the un-normalized score frame (O(|V|) rows), and the L2 normalize
    is a one-row aggregate crossJoined back over that checkpointed leaf.
    Both halves of this matter. The normalize references its input twice
    (values + norm), so without the checkpoint the lazy plan DOUBLES per
    half-step — exponential growth that OOMs the driver within ~10
    iterations; with it, every half-step optimizes a constant-size plan
    over a ``LogicalRDD`` leaf. And folding the norm in as a crossJoin
    (broadcast of one row) instead of a driver ``collect`` keeps the loop
    at exactly ONE Spark job per half-step — the norm agg is computed
    inside the next half-step's checkpoint job, never as its own driver
    round trip. Mutual recursion makes HITS two exchanges per iteration
    where PageRank pays one; that is inherent to the algorithm, not the
    plan.

    Sparse intermediates (r6): half-step frames carry ONLY nodes with a
    nonzero raw sum — the old per-half-step ``nodes LEFT JOIN msgs``
    zero-fill was mathematically inert (an exact 0.0 contributes nothing
    to the next half-step's sums or to the L2 norm), so dropping it
    removes one join from every checkpoint job and shrinks the
    checkpointed frames to the in/out-degree support. The full vertex set
    is restored ONCE at the end (zero-filled left joins), so the output
    contract — one row per node, isolated nodes at (0, 0) — is unchanged.
    Values are identical up to float summation order, which the declared
    contract already tolerates (the hits_rank oracle compares at 6 dp;
    verified equal at 6 dp on the entry edge sets at three SFs).
    Measured 3.0–3.4 → 1.5–2.1 s for hits_3it at sf0.1, local[32].
    """
    if num_iter < 1:
        raise ValueError("hits requires num_iter >= 1")
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("docid"))
            .unionByName(edges.select(F.col("dst").alias("docid")))
            .distinct()
        )
    e = edges.select("src", "dst").persist()
    nodes = nodes.persist()
    _ckpts: list[DataFrame] = []  # intermediate checkpoint blocks to free

    def _half_step(
        scores: DataFrame,
        score_col: str,
        join_on: str,
        group_on: str,
        out_col: str,
    ) -> DataFrame:
        raw = (
            e.join(scores.withColumnRenamed("docid", join_on), join_on)
            .groupBy(group_on)
            .agg(F.sum(score_col).alias(out_col))
            .withColumnRenamed(group_on, "docid")
        ).localCheckpoint()  # eager: truncate lineage, 1 job
        _ckpts.append(raw)
        nrm = raw.agg(F.sqrt(F.sum(F.col(out_col) * F.col(out_col))).alias("nrm"))
        return raw.crossJoin(F.broadcast(nrm)).select(
            "docid",
            F.when(F.col("nrm") > 0, F.col(out_col) / F.col("nrm"))
            .otherwise(F.lit(0.0))
            .alias(out_col),
        )

    hub = nodes.select("docid", F.lit(1.0).alias("hub"))
    auth = hub  # overwritten on the first half-step (num_iter >= 1)
    for _ in range(num_iter):
        # auth(p) = Σ_{q→p} hub(q);  hub(p) = Σ_{p→q} auth(q)
        # Checkpoint cadence A/B (r6): one checkpoint per FULL iteration
        # (auth half lazy) was measured 5.7 s vs 3.5 s for hits_3it at
        # sf1.0 local[32] — the lazy auth sub-plan recomputes inside the
        # hub checkpoint job and again in the final join, costing more
        # than the saved driver round trip. Per-half-step stays.
        auth = _half_step(hub, "hub", "src", "dst", "authority")
        hub = _half_step(auth, "authority", "dst", "src", "hub")
    out = (
        nodes.join(auth, "docid", "left")
        .join(hub, "docid", "left")
        .select(
            "docid",
            F.coalesce(F.col("authority"), F.lit(0.0)).alias("authority"),
            F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
        )
    )
    out = out.localCheckpoint()  # pin the result, then release everything
    # eagerly free the 2·num_iter intermediate O(|V|) checkpoint blocks —
    # GC would reclaim them EVENTUALLY, but a serving session calling this
    # repeatedly shouldn't depend on collector timing (same leak contract
    # as pagerank: the result block is the single survivor)
    e.unpersist()
    nodes.unpersist()
    for df in _ckpts:
        _free_local_checkpoint(df)
    return out
