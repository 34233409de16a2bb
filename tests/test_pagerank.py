"""PageRank parity vs a plain-python oracle implementing the reference
formula (IcsSearchEngine.java:116-174): score = (1-d) + d·Σ prev(u)/outdeg(u),
init 1.0, no dangling redistribution."""

import pytest
from pyspark.sql import functions as F

from mini_search_engine_spark.search.pagerank import combined_search, pagerank


def python_pagerank(edges, num_iter, d=0.85):
    nodes = sorted({u for e in edges for u in e})
    out = {}
    fwd = {}
    for s, t in edges:
        fwd.setdefault(s, []).append(t)
    scores = {n: 1.0 for n in nodes}
    for _ in range(num_iter):
        nxt = {n: 1 - d for n in nodes}
        for s, ts in fwd.items():
            share = scores[s] / len(ts)
            for t in ts:
                nxt[t] += d * share
        scores = nxt
    return scores


EDGES = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (4, 2), (5, 4)]


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


def test_pagerank_matches_oracle(edges_df):
    got = {r["docid"]: r["pagerank"] for r in pagerank(edges_df, num_iter=20).collect()}
    exp = python_pagerank(EDGES, 20)
    assert set(got) == set(exp)
    for n in exp:
        assert got[n] == pytest.approx(exp[n], rel=1e-9)
    # hub node 2 should dominate; leaf 3 gets (1-d)
    assert got[2] == max(got.values())
    assert got[3] == pytest.approx(0.15)


def test_pagerank_no_leaked_caches(spark, edges_df):
    """pagerank() releases its loop-invariant caches (nodes/outdeg/contrib
    edges) before returning; only the checkpointed result block remains
    (VERDICT r1 item 8)."""
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    ranks = pagerank(edges_df, num_iter=5)
    ranks.count()
    after = sc._jsc.getPersistentRDDs().size()
    # the eager localCheckpoint block is the single allowed addition
    assert after - before <= 1


def test_pagerank_100_iterations(spark):
    """Reference shape: computePageRank(100) over the web graph inside the
    900 s ICS budget (IcsSearchEngineTest.java:33-54). Lineage must stay
    bounded via the every-10-iterations localCheckpoint at depth 100, and
    the result must match the python oracle after 100 iterations."""
    import time

    n = 500
    edges = [(i, (i * 7 + 3) % n) for i in range(n)] + [
        (i, (i * 13 + 5) % n) for i in range(n)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    t0 = time.time()
    got = {r["docid"]: r["pagerank"] for r in pagerank(df, num_iter=100).collect()}
    wall = time.time() - t0
    exp = python_pagerank(edges, 100)
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], rel=1e-6)
    assert wall < 900, f"100-iteration pagerank took {wall:.0f}s"


def test_combined_search(spark, edges_df):
    scored = spark.createDataFrame(
        [(0, 1.0), (2, 1.0), (3, 5.0)], "docid long, score double"
    )
    ranks = pagerank(edges_df, num_iter=20)
    # weight 0 → pure score ranking (IcsSearchEngineTest.java:121-136 pattern)
    got0 = [r["docid"] for r in combined_search(scored, ranks, 0.0, 3).collect()]
    assert got0 == [3, 0, 2]
    # large weight → pagerank dominates among equal scores
    got = [r["docid"] for r in combined_search(scored, ranks, 100.0, 3).collect()]
    assert got[0] == 2  # hub


def test_hits_releases_intermediate_checkpoints(spark, edges_df):
    """Same leak contract as pagerank: after materialization only the
    result's checkpoint block remains — the 2·num_iter half-step blocks
    are freed eagerly, not left to GC."""
    from mini_search_engine_spark.search import hits, link_distance

    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    hits(edges_df, num_iter=4).count()
    assert sc._jsc.getPersistentRDDs().size() - before <= 1
    before = sc._jsc.getPersistentRDDs().size()
    link_distance(edges_df, seeds=[0], max_hops=5).count()
    assert sc._jsc.getPersistentRDDs().size() - before <= 1


def test_hits_hand_computed(spark):
    """1-iteration HITS on a 4-node graph vs hand-derived values:
    edges 0→1, 0→2, 3→1; a1 ∝ [in-link hub sums], h1 ∝ [out-link auth
    sums], each L2-normalized."""
    import math

    from mini_search_engine_spark.search import hits

    edges = spark.createDataFrame([(0, 1), (0, 2), (3, 1)], "src long, dst long")
    got = {r["docid"]: (r["authority"], r["hub"]) for r in hits(edges, num_iter=1).collect()}
    s5, s13 = math.sqrt(5), math.sqrt(13)
    expect = {
        0: (0.0, 3 / s13),
        1: (2 / s5, 0.0),
        2: (1 / s5, 0.0),
        3: (0.0, 2 / s13),
    }
    assert set(got) == set(expect)
    for d, (a, h) in expect.items():
        assert abs(got[d][0] - a) < 1e-9 and abs(got[d][1] - h) < 1e-9, d
    # more iterations keep the structure: node 1 stays the top authority,
    # node 0 the top hub, and L2 norms stay 1
    deep = hits(edges, num_iter=10).collect()
    auths = {r["docid"]: r["authority"] for r in deep}
    hubs = {r["docid"]: r["hub"] for r in deep}
    assert max(auths, key=auths.get) == 1 and max(hubs, key=hubs.get) == 0
    assert abs(sum(v * v for v in auths.values()) - 1.0) < 1e-9
    assert abs(sum(v * v for v in hubs.values()) - 1.0) < 1e-9


def test_hits_sparse_intermediates_restore_all_nodes(spark):
    """r6 sparse half-steps: intermediate frames drop exact-zero nodes;
    the final frame must still carry EVERY node — including ones supplied
    via the nodes kwarg that appear in no edge — at (0.0, 0.0)."""
    from mini_search_engine_spark.search import hits

    edges = spark.createDataFrame([(0, 1), (0, 2), (3, 1)], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(6)], "docid long")
    got = {r["docid"]: (r["authority"], r["hub"]) for r in
           hits(edges, num_iter=3, nodes=nodes).collect()}
    assert set(got) == set(range(6))
    assert got[4] == (0.0, 0.0) and got[5] == (0.0, 0.0)  # isolated
    assert got[1][0] > 0 and got[0][1] > 0  # structure intact


def test_personalized_pagerank_hand(spark):
    """2-iteration hand check on the chain 0→1→2, seed {0}: mass decays
    with distance (unnormalized base = 0.15 on seeds)."""
    from mini_search_engine_spark.search import personalized_pagerank

    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = {r["docid"]: r["ppr"] for r in personalized_pagerank(edges, [0], num_iter=2).collect()}
    assert abs(got[0] - 0.15) < 1e-12
    assert abs(got[1] - 0.85 * 0.15) < 1e-12
    assert abs(got[2] - 0.85 * 0.85) < 1e-12
    # leak contract: only the result checkpoint block survives
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    personalized_pagerank(edges, [0], num_iter=3).count()
    assert sc._jsc.getPersistentRDDs().size() - before <= 1
    import pytest as _pt

    with _pt.raises(ValueError):
        personalized_pagerank(edges, [])


def test_free_local_checkpoint_failure_is_logged(spark, caplog):
    """Releasing a frame that is not a local checkpoint cannot free a
    block; the cleanup stays best-effort but says so."""
    import logging

    from mini_search_engine_spark.search.pagerank import _free_local_checkpoint

    with caplog.at_level(logging.WARNING, logger="mini_search_engine_spark.search.pagerank"):
        _free_local_checkpoint(spark.range(3))
    assert [r.levelname for r in caplog.records] == ["WARNING"]
