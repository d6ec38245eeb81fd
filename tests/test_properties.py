"""Property-based tests (hypothesis) for the pure algorithm cores, plus
the MOSS winnowing guarantee checked through the real Spark operator.

These pin invariants rather than examples — the reference's test strategy
(SURVEY §5) leans on golden files; properties catch the cases goldens
miss (canonical-label structure, roundtrip identities, guarantee bounds).
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from barberini_analytics_spark.ml.dbscan import cosine_dbscan
from barberini_analytics_spark.ml.gsdmm import GSDMM


@settings(max_examples=25, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(3, 30), st.integers(2, 6))
def test_dbscan_labels_are_canonical_member_indices(seed, n, dim):
    """Every non-noise label equals the smallest member index of its
    cluster; every labeled point's cluster contains that point."""
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim))
    labels = cosine_dbscan(vecs, eps=0.4, min_samples=2)
    for c in set(labels):
        if c == -1:
            continue
        members = np.nonzero(labels == c)[0]
        assert c == members.min()
    # a noise point is never a core point of any cluster: its eps-ball
    # holds fewer than min_samples points
    unit = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True),
                             1e-12)
    near = (1.0 - unit @ unit.T) <= 0.4
    for i in np.nonzero(labels == -1)[0]:
        assert near[i].sum() < 2


@settings(max_examples=15, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(2, 8))
def test_gsdmm_labels_in_range_and_deterministic(seed, k):
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(20)]
    docs = [[vocab[rng.integers(0, 20)] for _ in range(rng.integers(2, 9))]
            for _ in range(rng.integers(3, 25))]
    a = GSDMM(n_clusters=k, n_iters=5, seed=seed % 1000).fit_predict(docs)
    b = GSDMM(n_clusters=k, n_iters=5, seed=seed % 1000).fit_predict(docs)
    assert (a == b).all()
    assert ((0 <= a) & (a < k)).all()


@settings(max_examples=40, deadline=None)
@given(st.dates())
def test_excel_serial_roundtrip_property(spark, d):
    """date -> Excel serial -> date is the identity for any proleptic
    Gregorian date in Spark's range."""
    import datetime

    from pyspark.sql import functions as F

    from barberini_analytics_spark.functions.parsing import (
        excel_serial_to_date)

    if d.year < 1901 or d.year > 2200:
        return
    serial = (d - datetime.date(1899, 12, 30)).days
    out = (spark.range(1)
           .select(excel_serial_to_date(F.lit(serial)).alias("d"))
           .collect()[0].d)
    assert out == d


def test_winnow_moss_guarantee(spark):
    """The winnowing guarantee: two documents sharing a substring of
    length >= k + window - 1 share at least one fingerprint.  Checked
    through the real Spark operator over generated pairs with planted
    shared chunks at random offsets."""
    import random

    from barberini_analytics_spark.operators.text import winnow_fingerprints

    rng = random.Random(13)
    alphabet = "abcdefghij "
    rows = []
    pairs = []
    vid = 0
    for trial in range(40):
        chunk_len = rng.randint(11, 40)      # >= k + window - 1 = 11
        chunk = "".join(rng.choice(alphabet) for _ in range(chunk_len))

        def noise(n):
            return "".join(rng.choice(alphabet) for _ in range(n))

        a = noise(rng.randint(0, 30)) + chunk + noise(rng.randint(0, 30))
        b = noise(rng.randint(0, 30)) + chunk + noise(rng.randint(0, 30))
        rows.append((vid, a)); rows.append((vid + 1, b))
        pairs.append((vid, vid + 1))
        vid += 2

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {r.doc_id: set(r.winnow_fps or [])
           for r in winnow_fingerprints(df).collect()}
    misses = [(i, j) for i, j in pairs if not (fps[i] & fps[j])]
    assert not misses, f"MOSS guarantee violated for pairs {misses[:3]}"


@settings(max_examples=10, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(2, 20), st.integers(0, 30))
def test_connected_components_matches_union_find(spark, seed, n_nodes,
                                                 n_edges):
    """Distributed CC == a driver-side union-find on random graphs."""
    from barberini_analytics_spark.operators.graph import (
        connected_components)

    rng = np.random.default_rng(seed)
    edges = [(int(a), int(b)) for a, b in
             rng.integers(0, n_nodes, size=(n_edges, 2))
             if a != b]
    # reference: union-find with min-id canonicalization
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(n_nodes)}

    nodes_df = spark.createDataFrame([(i,) for i in range(n_nodes)],
                                     ["id"])
    edges_df = spark.createDataFrame(edges or [(0, 0)], "id1 long, id2 long")
    if not edges:
        edges_df = edges_df.limit(0)
    got = {r.id: r.label for r in
           connected_components(nodes_df, edges_df).collect()}
    assert got == expected


@settings(max_examples=15, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 60),
       st.integers(2, 12), st.integers(0, 6))
def test_chunking_reconstructs_document(spark, seed, n_words, max_tokens,
                                        overlap):
    """Dropping each chunk's leading `overlap` tokens (except chunk 0) and
    concatenating reconstructs the original token stream exactly — no
    token lost, none duplicated, for any doc length / window / overlap."""
    from hypothesis import assume

    from barberini_analytics_spark.operators.text import chunk_documents

    assume(overlap < max_tokens)
    rng = np.random.default_rng(seed)
    words = [f"t{rng.integers(0, 100)}_{i}" for i in range(n_words)]
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    rows = sorted(chunk_documents(df, "doc_id", max_tokens=max_tokens,
                                  overlap=overlap).collect(),
                  key=lambda r: r.chunk_index)
    rebuilt = []
    for r in rows:
        toks = r.chunk_text.split()
        assert len(toks) == r.n_chunk_tokens <= max_tokens
        rebuilt.extend(toks if r.chunk_index == 0 else toks[overlap:])
    assert rebuilt == words


@settings(max_examples=15, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 60), st.integers(1, 20))
def test_sessionize_matches_python_reference(spark, seed, n_rows, gap):
    """Two-window sessionization == the obvious sequential scan."""
    from pyspark.sql import functions as F

    from barberini_analytics_spark.operators.relational import sessionize

    rng = np.random.default_rng(seed)
    ts = sorted(int(t) for t in rng.integers(0, 200, n_rows))
    rows = [(1, i, t) for i, t in enumerate(ts)]

    expected, session = {}, 0
    for i, (k, rid, t) in enumerate(rows):
        if i == 0 or t > rows[i - 1][2] + gap:
            session += 1
        expected[rid] = session

    df = spark.createDataFrame(rows, ["k", "rid", "ts"])
    got = {r.rid: r.session_id for r in
           sessionize(df, ["k"], "ts", F.lit(gap),
                      order_cols=["ts", "rid"]).collect()}
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 16))
def test_shuffle_sample_invariant_to_partitioning(spark, seed, parts):
    """The K3 export sample is a pure function of (seed, keys): the same
    100 rows come back under ANY physical partitioning."""
    from barberini_analytics_spark.core.sinks import shuffle_sample

    base = spark.range(500).selectExpr("id", "id * 7 AS v")
    a = shuffle_sample(base, 20, seed=seed, key_cols=["id"]).collect()
    b = shuffle_sample(base.repartition(parts), 20, seed=seed,
                       key_cols=["id"]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 20


@settings(max_examples=8, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(2, 12), st.integers(1, 8))
def test_dedup_segments_partition_invariants(spark, seed, n_docs, vocab):
    """Keep-first segment dedup invariants on random corpora:

    - every distinct segment content survives EXACTLY once corpus-wide;
    - per doc, kept + dropped = total;
    - a segment is counted common iff >= 2 distinct docs contain it."""
    from barberini_analytics_spark.operators.dedup import dedup_segments

    rng = np.random.default_rng(seed)
    docs = []
    for i in range(n_docs):
        lines = [" ".join(f"w{rng.integers(vocab)}"
                          for _ in range(rng.integers(1, 4)))
                 for _ in range(rng.integers(1, 5))]
        docs.append((i, "\n".join(lines)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = dedup_segments(df, "doc_id", sep=r"\n").collect()

    # python reference
    per_doc: dict[int, list[str]] = {}
    doc_sets: dict[str, set[int]] = {}
    for i, text in docs:
        per_doc[i] = [s for s in text.split("\n") if s.strip()]
        for s in per_doc[i]:
            doc_sets.setdefault(s, set()).add(i)
    total_kept = 0
    for r in out:
        segs = per_doc[r.doc_id]
        assert r.n_segments == len(segs)
        total_kept += r.n_kept_first
        assert r.n_common_segments == sum(
            1 for s in segs if len(doc_sets[s]) >= 2)
    distinct_contents = {s for segs in per_doc.values() for s in segs}
    assert total_kept == len(distinct_contents)
    # reconstruct global keep-first per doc and compare text
    claimed = {r.doc_id: r.text_kept_first for r in out}
    first_owner: dict[str, tuple[int, int]] = {}
    for i in sorted(per_doc):
        for pos, s in enumerate(per_doc[i]):
            if s not in first_owner:
                first_owner[s] = (i, pos)
    for i in sorted(per_doc):
        ref = " ".join(s for pos, s in enumerate(per_doc[i])
                       if first_owner[s] == (i, pos))
        assert claimed[i] == ref, (i, claimed[i], ref)


@settings(max_examples=10, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 5))
def test_mix_sources_copy_counts_bound_by_rate(spark, seed, n_sources):
    """Every document's copy count is floor(rate) or ceil(rate) of its
    source, and dropped sources get exactly zero."""
    import math

    from barberini_analytics_spark.operators.text import mix_sources

    rng = np.random.default_rng(seed)
    rows = [(i, f"s{rng.integers(n_sources + 1)}") for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "src"])
    targets = {f"s{i}": float(rng.integers(1, 4))
               for i in range(n_sources)}  # source s{n_sources} dropped
    out = mix_sources(df, "src", targets, seed=seed % 1000).collect()
    n_total = len(rows)
    counts: dict[str, int] = {}
    for _, s in rows:
        counts[s] = counts.get(s, 0) + 1
    tw = sum(targets.values())
    for r in out:
        if r.src not in targets:
            assert r.n_copies == 0
            continue
        rate = (targets[r.src] / tw) * n_total / counts[r.src]
        assert r.n_copies in (math.floor(rate), math.ceil(rate)), (
            r.src, rate, r.n_copies)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(max_size=200), min_size=1, max_size=8),
       st.integers(0, 2**31 - 1))
def test_capacities_parsers_total_on_arbitrary_html(spark, pages, seed):
    """The capacities page parsers are TOTAL: arbitrary (even adversarial)
    page text never throws and never yields a row whose numbers came from
    nowhere — rows appear only when the full popover/basic-cell grammar
    matches."""
    from barberini_analytics_spark.sources.gomus_capacities import (
        parse_basic_capacities, parse_hovercards)

    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(pages)], ["page_id", "html"])
    hov = parse_hovercards(df).collect()
    bas = parse_basic_capacities(df).collect()
    for r in hov:
        assert r.slot_unix is not None          # grammar guarantees the id
    for r in bas:
        assert r.available == r.max
    # a grammar-free corpus yields zero rows, not garbage
    if not any("popover" in p for p in pages):
        assert hov == []


@settings(max_examples=8, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(4, 12),
       st.sampled_from(["keep_first", "drop_all"]))
def test_dedup_spans_matches_python_reference(spark, seed, n_docs, policy):
    """Substring-span dedup vs an exhaustive Python reference on random
    corpora with planted copied passages: duplicated-k-gram counts,
    maximal-span merging, exact coverage, and the reassembled text all
    agree under BOTH policies."""
    from barberini_analytics_spark.operators.dedup import dedup_spans

    k = 3
    rng = np.random.default_rng(seed)
    base = [[f"w{rng.integers(12)}" for _ in range(rng.integers(1, 15))]
            for _ in range(n_docs)]
    # plant copies: ~half the docs get a slice of another doc spliced in
    for i in range(n_docs):
        if rng.random() < 0.5:
            src = base[rng.integers(n_docs)]
            if len(src) >= k:
                a = rng.integers(0, len(src) - k + 1)
                b = rng.integers(a + k, len(src) + 1)
                cut = rng.integers(0, len(base[i]) + 1)
                base[i] = base[i][:cut] + src[a:b] + base[i][cut:]
    docs = [(i, " ".join(t)) for i, t in enumerate(base)]
    toks = {i: t[:] for i, t in enumerate(base)}

    # python reference: global first occurrence / occurrence counts
    fp_first, fp_count, occ = {}, {}, []
    for i in sorted(toks):
        t = toks[i]
        for p in range(max(len(t) - k + 1, 0)):
            c = " ".join(t[p:p + k])
            occ.append((i, p, c))
            fp_count[c] = fp_count.get(c, 0) + 1
            fp_first.setdefault(c, (i, p))
    dup_pos: dict[int, list[int]] = {}
    for i, p, c in occ:
        dup = (fp_count[c] > 1 if policy == "drop_all"
               else fp_first[c] != (i, p))
        if dup:
            dup_pos.setdefault(i, []).append(p)
    expect = {}
    for i in sorted(toks):
        ps = sorted(dup_pos.get(i, []))
        spans: list[list[int]] = []
        for p in ps:
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + k)
            else:
                spans.append([p, p + k])
        covered = set()
        for s, e in spans:
            covered.update(range(s, e))
        kept = [t for j, t in enumerate(toks[i]) if j not in covered]
        expect[i] = (len(ps), len(spans), len(covered), " ".join(kept))

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r.doc_id: (r.n_dup_kgrams, r.n_dup_spans, r.n_dup_span_tokens,
                      r.text_span_deduped)
           for r in dedup_spans(df, "doc_id", k=k, policy=policy).collect()}
    assert got == expect
