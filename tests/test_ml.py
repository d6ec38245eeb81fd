"""ML-layer tests: GSDMM separates obvious topics, DBSCAN clusters cosine
balls with noise, KNN predicts neighbor means, forecast determinism."""

from __future__ import annotations

import numpy as np

from barberini_analytics_spark.ml.dbscan import cosine_dbscan
from barberini_analytics_spark.ml.gsdmm import GSDMM
from barberini_analytics_spark.ml.knn import KNNRegressor, MinMaxScaler


def test_gsdmm_separates_disjoint_topics():
    docs = ([["apple", "banana", "fruit"]] * 10
            + [["engine", "wheel", "car"]] * 10)
    labels = GSDMM(n_clusters=5, n_iters=15, seed=7).fit_predict(docs)
    a, b = set(labels[:10]), set(labels[10:])
    assert len(a) == 1 and len(b) == 1 and a != b


def test_gsdmm_deterministic():
    docs = [["a", "b"], ["b", "c"], ["x", "y"], ["y", "z"]] * 3
    l1 = GSDMM(n_clusters=3, seed=42).fit_predict(docs)
    l2 = GSDMM(n_clusters=3, seed=42).fit_predict(docs)
    assert (l1 == l2).all()


def test_dbscan_two_balls_and_noise():
    rng = np.random.default_rng(0)
    a = rng.normal([10, 0, 0], 0.01, (5, 3))
    b = rng.normal([0, 10, 0], 0.01, (5, 3))
    outlier = np.array([[5.0, 5.0, 30.0]])
    labels = cosine_dbscan(np.vstack([a, b, outlier]), eps=0.05,
                           min_samples=2)
    assert len(set(labels[:5])) == 1
    assert len(set(labels[5:10])) == 1
    assert labels[0] != labels[5]
    assert labels[10] == -1
    # canonical ids: cluster id == smallest member index
    assert labels[0] == 0 and labels[5] == 5


def test_knn_mean_of_neighbors():
    x = np.array([[0.0], [1.0], [2.0], [10.0], [11.0]])
    y = np.array([0.0, 1.0, 2.0, 10.0, 11.0])
    model = KNNRegressor(2).fit(x, y)
    assert model.predict([[0.4]])[0] == 0.5       # neighbors 0,1
    assert model.predict([[10.6]])[0] == 10.5     # neighbors 10,11


def test_minmax_roundtrip():
    s = MinMaxScaler().fit(np.array([10.0, 20.0, 30.0]))
    scaled = s.transform(np.array([10.0, 30.0]))
    assert scaled.tolist() == [0.0, 1.0]
    assert s.inverse(scaled).tolist() == [10.0, 30.0]


def test_ml_queries_deterministic(spark):
    from barberini_analytics_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    a = QUERIES["embedding_dbscan_clusters"](spark, sf).collect()
    b = QUERIES["embedding_dbscan_clusters"](spark, sf).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    t1 = QUERIES["topic_model"](spark, sf).collect()
    t2 = QUERIES["topic_model"](spark, sf).collect()
    assert sorted(map(tuple, t1)) == sorted(map(tuple, t2))
    f = QUERIES["visitor_prediction_forecast"](spark, sf).collect()
    assert len(f) == 7
    # Tuesday forecasts are forced to zero
    assert all(r.entries == 0 for r in f if r.date.weekday() == 1)


def test_distributed_dbscan_matches_driver_on_cores(spark):
    """The LSH scale path produces the same core-point partitions as the
    exact driver DBSCAN (sf0.001 embeddings), and each border point's
    cluster contains an ε-near core neighbor."""
    import numpy as np

    from barberini_analytics_spark.core.io import load_table
    from barberini_analytics_spark.ml.dbscan import (
        cosine_dbscan, dbscan_distributed)

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = [r.vec_id for r in rows]
    vecs = np.array([r.embedding for r in rows], dtype=np.float64)
    eps, min_samples = 0.37, 2

    exact = cosine_dbscan(vecs, eps=eps, min_samples=min_samples)

    dist = {r["vec_id"]: r["label"]
            for r in dbscan_distributed(
                emb, eps=eps, min_samples=min_samples,
                bands=16, bits=3).collect()}

    # exact core mask (driver side)
    norms = np.linalg.norm(vecs, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    unit = vecs / norms
    nbrs = (1.0 - unit @ unit.T) <= eps
    core = nbrs.sum(axis=1) >= min_samples

    def partitions(labels_by_idx):
        clusters = {}
        for i, vid in enumerate(ids):
            if core[i]:
                clusters.setdefault(labels_by_idx(i), set()).add(vid)
        return {frozenset(v) for v in clusters.values()}

    assert partitions(lambda i: exact[i]) == \
        partitions(lambda i: dist[ids[i]])

    # border validity: a labelled non-core point has an ε-near core
    # neighbor carrying the same cluster
    for i, vid in enumerate(ids):
        if core[i] or dist[vid] == -1:
            continue
        ok = any(core[j] and nbrs[i][j] and dist[ids[j]] == dist[vid]
                 for j in range(len(ids)))
        assert ok, f"border {vid} attached to a cluster with no near core"


def test_gsdmm_sharded_single_shard_matches_driver(spark):
    """One shard ⇒ the applyInPandas fit is the driver fit: same sampler,
    same seed, same sorted doc order, identical labels."""
    from barberini_analytics_spark.ml.gsdmm import fit_topics_sharded

    docs = ([(i, w) for i in range(10)
             for w in ("apple", "banana", "fruit")]
            + [(i, w) for i in range(10, 20)
               for w in ("engine", "wheel", "car")])
    tokens = spark.createDataFrame(docs, ["doc_id", "word"])

    dist = {r.doc_id: r.topic
            for r in fit_topics_sharded(
                tokens, n_docs=20, n_clusters=5, n_iters=15, seed=7,
                max_docs_per_shard=1000).collect()}

    driver = GSDMM(n_clusters=5, n_iters=15, seed=7).fit_predict(
        [sorted(("apple", "banana", "fruit"))] * 10
        + [sorted(("engine", "wheel", "car"))] * 10)
    assert dist == {i: int(z) for i, z in enumerate(driver)}


def test_gsdmm_gate_routes_large_corpus_through_shards(spark):
    """Past the doc gate, _fit_topics never collects: the sharded path
    assigns every doc exactly once, topic ids stay inside their shard's
    band, and the result is deterministic."""
    from barberini_analytics_spark.plans.ml_queries import (
        _FIT_CACHE, _fit_topics, _topic_tokens)

    tokens = _topic_tokens(spark, "/root/testdata/sf0.001")
    n_docs = tokens.select("doc_id").distinct().count()
    assert n_docs > 10  # the override below must actually trip the gate

    _FIT_CACHE.evict("gate-test")
    sharded = _fit_topics(tokens, "gate-test", max_docs=10)
    rows = sharded.collect()
    _FIT_CACHE.evict("gate-test")
    again = _fit_topics(tokens, "gate-test", max_docs=10).collect()
    _FIT_CACHE.evict("gate-test")

    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    # shard count is sized from approx_count_distinct * 1.05 headroom
    n_shards_max = -(-int(n_docs * 1.05 + 1) // 10)
    for r in rows:
        assert 0 <= r.topic < n_shards_max * 10


def test_distributed_dbscan_planted_clusters_at_scale(spark):
    """The LSH path on a generated corpus 16x the sf0.001 table, with
    planted ground truth: every planted ball must come out as one cluster,
    distinct balls as distinct clusters, and background noise as -1 —
    under the session's real shuffle partitioning, with no driver-side
    neighbor matrix anywhere."""
    import numpy as np

    from barberini_analytics_spark.ml.dbscan import dbscan_distributed

    rng = np.random.default_rng(7)
    n_balls, per_ball, n_noise, dim = 40, 100, 400, 64
    centers = rng.normal(size=(n_balls, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    truth = {}
    for b in range(n_balls):
        for _ in range(per_ball):
            v = centers[b] + 0.05 * rng.normal(size=dim)
            rows.append((vid, [float(x) for x in v]))
            truth[vid] = b
            vid += 1
    for _ in range(n_noise):
        v = rng.normal(size=dim)
        rows.append((vid, [float(x) for x in v]))
        truth[vid] = -1
        vid += 1

    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .repartition(32)
    labels = {r.vec_id: r.label
              for r in dbscan_distributed(
                  emb, eps=0.37, min_samples=2, bands=8, bits=4).collect()}

    assert len(labels) == n_balls * per_ball + n_noise
    # each planted ball is exactly one cluster; balls don't merge
    ball_labels = {}
    for v, b in truth.items():
        if b == -1:
            assert labels[v] == -1, f"noise point {v} got cluster {labels[v]}"
        else:
            ball_labels.setdefault(b, set()).add(labels[v])
    assert all(len(ls) == 1 for ls in ball_labels.values()), \
        "a planted ball split into multiple clusters"
    flat = [next(iter(ls)) for ls in ball_labels.values()]
    assert len(set(flat)) == n_balls, "planted balls merged"


def test_dbscan_query_gate_override_runs_lsh_path(spark):
    """embedding_dbscan_clusters with max_rows=0 must produce the same
    core-point clustering through the distributed path as the default
    driver path on the sf0.001 table (labels are canonical smallest-member
    ids in both, since vec_id equals collect order there)."""
    import numpy as np

    from barberini_analytics_spark.core.io import load_table
    from barberini_analytics_spark.plans.ml_queries import (
        embedding_dbscan_clusters)

    sf = "/root/testdata/sf0.001"
    driver = {r.vec_id: (r.cluster, r.cluster_label)
              for r in embedding_dbscan_clusters(spark, sf).collect()}
    dist = {r.vec_id: (r.cluster, r.cluster_label)
            for r in embedding_dbscan_clusters(spark, sf,
                                               max_rows=0).collect()}
    assert set(driver) == set(dist)

    # exact core mask to scope the strict comparison
    emb = load_table(spark, sf, "embeddings")
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    vecs = np.array([r.embedding for r in rows], dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    core_mask = ((1.0 - unit @ unit.T) <= 0.37).sum(axis=1) >= 2
    core = {r.vec_id for r, c in zip(rows, core_mask) if c}

    mismatches = {v for v in core if driver[v] != dist[v]}
    assert not mismatches, f"core rows disagree: {sorted(mismatches)[:5]}"


def test_dbscan_chain_on_externally_written_embedding_parquet(spark,
                                                              tmp_path):
    """The M8 injection point, proven end-to-end: an embedding parquet
    written by an EXTERNAL producer (raw pyarrow, the way a word2vec /
    SBERT export job would write it — never touching Spark) drops into
    ``load_table(..., "embeddings")``'s place and the full
    ``embedding_dbscan_clusters`` chain (DBSCAN → canonical cluster ids
    → centroid top-3 labeling → SemDeDup map) runs unchanged on it,
    recovering the planted geometry — on BOTH the driver path and the
    LSH-distributed path (README §Embedding provenance)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from barberini_analytics_spark.plans.ml_queries import (
        embedding_dbscan_clusters)

    rng = np.random.default_rng(7)
    dim, per = 64, 6
    ids, vecs, labels = [], [], []
    # three tight clusters around orthogonal axes: within-cluster cosine
    # distance << 0.37, between-cluster ~= 1.0
    for c, axis in enumerate((0, 1, 2)):
        for j in range(per):
            v = rng.normal(0, 0.01, dim)
            v[axis] += 1.0
            ids.append(c * 100 + j)
            vecs.append((v / np.linalg.norm(v)).astype(np.float32))
            labels.append(c * 7 % 64)
    # two isolated points: no neighbor within eps -> noise (-1)
    for k, axis in enumerate((10, 20)):
        v = np.zeros(dim); v[axis] = 1.0
        ids.append(900 + k)
        vecs.append(v.astype(np.float32))
        labels.append(50 + k)

    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array([v.tolist() for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), str(tmp_path / "embeddings.parquet"))

    expected = {c * 100: {c * 100 + j for j in range(per)}
                for c in range(3)}

    for max_rows in (200_000, 0):        # driver path, then LSH path
        out = embedding_dbscan_clusters(
            spark, str(tmp_path), max_rows=max_rows).collect()
        assert len(out) == len(ids)
        by_cluster: dict[int, set] = {}
        for r in out:
            by_cluster.setdefault(r.cluster, set()).add(r.vec_id)
        assert by_cluster.pop(-1) == {900, 901}         # noise
        # the planted partition is recovered (cluster ids are canonical
        # smallest-member VEC ids on the LSH path but smallest-member
        # POSITIONS on the driver path, so compare memberships)
        assert (set(map(frozenset, by_cluster.values()))
                == set(map(frozenset, expected.values()))), max_rows
        for r in out:
            if r.cluster >= 0:
                assert r.cluster_label, r    # labeled from the file's vocab
            assert r.sem_kept is not None
            # singleton label groups legitimately have no pairwise cosine
            if r.sem_dup_of >= 0:
                assert r.sem_max_cosine is not None
