"""Connected-components tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from barberini_analytics_spark.operators.graph import connected_components


def _cc(spark, node_ids, edge_pairs, **kw):
    nodes = spark.createDataFrame([(i,) for i in node_ids], ["id"])
    edges = spark.createDataFrame(edge_pairs or [(None, None)],
                                  "id1 long, id2 long").filter(
        F.col("id1").isNotNull())
    out = connected_components(nodes, edges, **kw)
    return {r.id: r.label for r in out.collect()}


def test_cc_chain_and_singletons(spark):
    # chain 1-2-3-4 plus isolated 10, pair 20-21
    got = _cc(spark, [1, 2, 3, 4, 10, 20, 21],
              [(1, 2), (2, 3), (3, 4), (20, 21)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 20: 20, 21: 20}


def test_cc_long_path_converges(spark):
    # a 20-node path needs ~diameter rounds — well inside max_iter
    n = 20
    got = _cc(spark, list(range(n)), [(i, i + 1) for i in range(n - 1)])
    assert set(got.values()) == {0} and len(got) == n


def test_cc_directed_edges_symmetrized(spark):
    # edges only given one way; symmetrize=True must still merge
    got = _cc(spark, [5, 6, 7], [(7, 6), (6, 5)])
    assert got == {5: 5, 6: 5, 7: 5}


def _pr(spark, node_ids, edge_pairs, **kw):
    from barberini_analytics_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in node_ids], ["id"])
    edges = spark.createDataFrame(edge_pairs, ["id1", "id2"])
    return {r.id: r.rank for r in pagerank(nodes, edges, **kw).collect()}


def test_pagerank_cycle_is_uniform_and_sums_to_one(spark):
    got = _pr(spark, [1, 2, 3], [(1, 2), (2, 3), (3, 1)])
    assert all(abs(v - 1 / 3) < 1e-12 for v in got.values())
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_hub_outranks_leaves(spark):
    # two leaves point at a hub; hub dangles (mass redistributed)
    got = _pr(spark, [1, 2, 3], [(1, 3), (2, 3)], n_iter=30)
    assert got[3] > got[1] and abs(got[1] - got[2]) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_closed_form_two_nodes(spark):
    # 1 -> 2, 2 -> 1 with a dangling third node: analytic fixed point
    # (symmetry: r1 = r2; dangling node d keeps base + its share)
    got = _pr(spark, [1, 2, 3], [(1, 2), (2, 1)], n_iter=60)
    # node 3 has no in-links: r3 = base + d*(r3/3)... wait: dangling mass
    # is r3 itself, spread to all 3 nodes; solve r3 = 0.05 + 0.85*r3/3
    r3 = 0.05 / (1 - 0.85 / 3)
    assert abs(got[3] - r3) < 1e-9
    assert abs(got[1] - got[2]) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# driver-side twins for the measured small-graph path (r13)
# ---------------------------------------------------------------------------

def test_local_cc_matches_distributed(spark):
    import random

    from barberini_analytics_spark.operators.graph import (
        connected_components, connected_components_local)

    rng = random.Random(13)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    sym = edges + [(b, a) for a, b in edges]
    node_ids = sorted({x for e in sym for x in e})
    nodes = spark.createDataFrame([(i,) for i in node_ids], ["id"])
    edf = spark.createDataFrame(sym, ["id1", "id2"])
    dist = {r.id: r.label
            for r in connected_components(
                nodes, edf, symmetrize=False).collect()}
    local = connected_components_local(sym)
    assert local == dist


def test_local_pagerank_matches_distributed(spark):
    import random

    from barberini_analytics_spark.operators.graph import (
        pagerank, pagerank_local)

    rng = random.Random(7)
    edges = {(rng.randrange(40), rng.randrange(40)) for _ in range(70)}
    edges = [(a, b) for a, b in edges if a != b]
    sym = sorted(set(edges) | {(b, a) for a, b in edges})
    node_ids = sorted({x for e in sym for x in e})
    nodes = spark.createDataFrame([(i,) for i in node_ids], ["id"])
    edf = spark.createDataFrame(sym, ["id1", "id2"])
    dist = {r.id: r.rank
            for r in pagerank(nodes, edf, n_iter=2, damping=0.85,
                              redistribute_dangling=False,
                              checkpoint_every=0).collect()}
    local = pagerank_local(sym, damping=0.85, n_iter=2)
    assert sorted(local) == sorted(dist)
    for node in dist:
        # summation order differs by design; round-6 hashing absorbs it
        assert abs(local[node] - dist[node]) < 1e-12


def test_minhash_near_duplicates_distributed_branch_matches_driver(
        spark, monkeypatch):
    """The registered minhash_near_duplicates query gates its closure +
    rank on the verified-pair count: driver-side at or below
    ``_SMALL_GRAPH_MAX_PAIRS``, distributed above it.  Forced onto the
    distributed branch, the sf0.01 output must equal the default
    driver-side branch row for row."""
    from barberini_analytics_spark.operators import graph
    from barberini_analytics_spark.plans import dedup_queries
    from barberini_analytics_spark.plans.registry import QUERIES
    from tests.conftest import SF_ORACLE
    from tests.oracle_utils import compare_frames

    run = QUERIES["minhash_near_duplicates"]
    driver = run(spark, SF_ORACLE).toPandas()
    assert len(driver) > 0  # parity over an empty graph shows nothing

    def no_local(*_a, **_k):
        raise AssertionError("driver-side branch ran")

    monkeypatch.setattr(dedup_queries, "_SMALL_GRAPH_MAX_PAIRS", -1)
    monkeypatch.setattr(graph, "connected_components_local", no_local)
    monkeypatch.setattr(graph, "pagerank_local", no_local)
    distributed = run(spark, SF_ORACLE).toPandas()
    compare_frames(distributed, driver, "minhash_near_duplicates")
