"""Distributed connected components (min-label propagation).

The shared graph core under two pipeline operators: the LSH-DBSCAN
cluster step (``ml/dbscan.py`` — components of the core-core ε-graph) and
near-duplicate group resolution in the registered
``minhash_near_duplicates`` query (``plans/dedup_queries.py`` —
transitive closure over verified similar pairs, the step that turns
pairwise "A≈B, B≈C" into one dedup group {A, B, C} even when A and C
never collided in any LSH bucket).

Algorithm: iterative min-label propagation — every node starts labeled
with its own id; each round every node takes the minimum label among
itself and its neighbors; converged when nothing changes.  Rounds =
O(component diameter), which is small for the blocky graphs these
pipelines produce (near-dup clusters and ε-balls are dense).  Each round
is ONE keyed shuffle (join + min-aggregate); ``localCheckpoint``
truncates the growing lineage so round N doesn't replay rounds 1..N-1.

At 100 TB: no driver collect anywhere; state per round is one (id, label)
row per node and the edge list.  For adversarial long-chain graphs an
alternating large-star/small-star scheme converges in fewer rounds, but
would shuffle more per round — the diameter-bound loop is the right
trade for deduplication workloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..core.cache import scoped_checkpoint


def connected_components_local(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side union-find twin of :func:`connected_components` —
    identical output contract (every node labeled with the smallest id
    reachable from it) for the measured SMALL-graph path.

    The distributed min-label loop costs 2 barrier jobs per round
    (eager checkpoint + convergence probe); on the few-hundred-edge
    verified-pair graphs the near-dup bench produces, that is multiple
    seconds of pure job latency for microseconds of actual work.  The
    caller gates on the MEASURED pair count (the pairs frame is
    persisted and counted anyway), so corpus-scale graphs still take
    the distributed path.  Parity pinned in ``tests/test_graph.py``.
    """
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def pagerank_local(edges: list[tuple[int, int]], damping: float = 0.85,
                   n_iter: int = 10) -> dict[int, float]:
    """Driver-side twin of :func:`pagerank` (with
    ``redistribute_dangling=False``) for the measured small-graph path:
    the same fixed-round power iteration, ``(1-d)/n + d·Σ r(u)/deg(u)``
    per node per round, contributions accumulated in sorted-edge order
    so the result is deterministic.  Floating-point summation order
    differs from the distributed partition order by design — the same
    ulp-reordering tolerance the DuckDB oracle parity already relies
    on; callers hash only ``round(rank, 6)``.  Parity pinned in
    ``tests/test_graph.py``.
    """
    from collections import Counter, defaultdict

    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    if n == 0:
        return {}
    deg = Counter(u for u, _ in edges)
    base = (1.0 - damping) / n
    ranks = {v: 1.0 / n for v in nodes}
    edges_sorted = sorted(edges)
    for _ in range(n_iter):
        contrib: dict[int, float] = defaultdict(float)
        for u, v in edges_sorted:
            contrib[v] += ranks[u] / deg[u]
        ranks = {v: base + damping * contrib.get(v, 0.0) for v in nodes}
    return ranks


def pagerank(nodes: DataFrame, edges: DataFrame, id_col: str = "id",
             src: str = "id1", dst: str = "id2", damping: float = 0.85,
             n_iter: int = 10, out_col: str = "rank",
             redistribute_dangling: bool = True,
             checkpoint_every: int = 1) -> DataFrame:
    """Power-iteration PageRank over a directed edge list — the
    link-centrality signal web-scale corpus pipelines use to weight
    crawl quality (a page's rank feeds sampling weight or a quality
    prior next to the content-based scores).

    Fixed ``n_iter`` rounds (deterministic output, no convergence
    probe); dangling-node mass (pages with no out-links) is
    redistributed uniformly each round, so ranks always sum to 1 and
    rank never silently leaks.  Per round: one broadcast of the scalar
    dangling mass, one keyed shuffle (edge join + dst-aggregate) — the
    same shuffle shape as :func:`connected_components`, with
    ``localCheckpoint`` truncating the per-round lineage.

    Returns ``(id_col, out_col)`` with raw double ranks; round at the
    call site if hashing across engines.

    ``redistribute_dangling=False`` skips the per-round dangling
    aggregate — exact (and one broadcast job per round cheaper) when the
    caller knows every node has out-edges, e.g. a symmetrized undirected
    graph.  ``checkpoint_every=0`` never checkpoints: for small
    ``n_iter`` the whole iteration then folds into ONE lazy plan with no
    per-round jobs at all; keep the default cadence for long runs, where
    the accumulated lineage would otherwise blow up plan optimization.
    """
    e = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
    deg = e.groupBy("e_src").agg(F.count(F.lit(1)).alias("__deg"))
    e = e.join(deg, "e_src")
    if checkpoint_every:
        e = scoped_checkpoint(e)
    n_nodes = nodes.count()  # scalar bound of the rank vector, not data
    ranks = nodes.select(F.col(id_col).alias("id"),
                         F.lit(1.0 / n_nodes).alias("__r"))
    base = (1.0 - damping) / n_nodes
    for it in range(n_iter):
        contrib = (
            e.join(ranks, e.e_src == ranks.id)
            .groupBy("e_dst")
            .agg(F.sum(F.col("__r") / F.col("__deg")).alias("__c"))
        )
        new_mass = F.coalesce("__c", F.lit(0.0))
        step = ranks.join(contrib, ranks.id == contrib.e_dst, "left")
        if redistribute_dangling:
            # dangling mass: rank held by nodes with no out-edges
            dangling = (
                ranks.join(deg, ranks.id == deg.e_src, "left_anti")
                .agg(F.coalesce(F.sum("__r"), F.lit(0.0)).alias("__dm"))
            )
            step = step.crossJoin(F.broadcast(dangling))
            new_mass = new_mass + F.col("__dm") / F.lit(float(n_nodes))
        ranks = step.select(
            "id",
            (F.lit(base) + F.lit(damping) * new_mass).alias("__r"))
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            ranks = scoped_checkpoint(ranks)
    return ranks.select(F.col("id").alias(id_col),
                        F.col("__r").alias(out_col))


def connected_components(nodes: DataFrame, edges: DataFrame,
                         id_col: str = "id",
                         src: str = "id1", dst: str = "id2",
                         symmetrize: bool = True,
                         max_iter: int = 25,
                         checkpoint_edges: bool = True) -> DataFrame:
    """Label every node with the smallest node id reachable from it.

    ``nodes``: one row per node (``id_col``); isolated nodes keep their
    own id as label.  ``edges``: (src, dst) pairs; pass
    ``symmetrize=False`` when the edge list already contains both
    directions.  Returns ``(id_col, label)``.  Pass
    ``checkpoint_edges=False`` when ``edges`` is already persisted by
    the caller — skips one redundant materialization job.
    """
    bi = edges.select(F.col(src).alias("id1"), F.col(dst).alias("id2"))
    if symmetrize:
        bi = bi.union(
            bi.select(F.col("id2").alias("id1"), F.col("id1").alias("id2")))
    if checkpoint_edges:
        bi = scoped_checkpoint(bi)

    labels = nodes.select(F.col(id_col).alias("id"),
                          F.col(id_col).alias("label"))
    changed = 1
    for _ in range(max_iter):
        neighbor_min = (
            bi.join(labels, bi.id1 == labels.id)
            .groupBy("id2").agg(F.min("label").alias("nlabel"))
        )
        # carry the previous label through the checkpoint so the
        # convergence probe is a FILTER over materialized rows — not a
        # join back to the previous round (which costs a shuffle job
        # per round)
        new_labels = scoped_checkpoint(
            labels.join(neighbor_min, labels.id == neighbor_min.id2, "left")
            .select("id", F.col("label").alias("__prev"),
                    F.least("label", F.coalesce("nlabel", "label"))
                    .alias("label")))
        changed = new_labels.filter("label <> __prev").limit(1).count()
        labels = new_labels.drop("__prev")
        if changed == 0:
            break
    if changed != 0:
        # no silent caps: a component deeper than max_iter would come back
        # partially merged — surface it instead of returning wrong groups
        import warnings

        warnings.warn(
            f"connected_components did not converge within {max_iter} "
            "rounds (component diameter exceeds the bound); labels are "
            "partially merged — raise max_iter",
            RuntimeWarning, stacklevel=2)
    return labels.select(F.col("id").alias(id_col), "label")
