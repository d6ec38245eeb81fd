"""Deduplication query inventory: exact, MinHash+LSH, SimHash, n-gram
Jaccard — the training-data-pipeline dedup family over ``documents``.

The oracle SQL reproduces every md5-derived hash bit-exactly, so even the
LSH banding pipeline is value-checked end-to-end, not just row-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.io import load_table
from ..core.localrel import rows_df
from ..operators import dedup as D
from ..operators import text as X
from .registry import query

_NUM_PERM = 8
_SHINGLE_K = 3
_JACCARD_THRESHOLD = 0.5

#: small-graph gate of ``minhash_near_duplicates``: at or below this many
#: verified pairs the closure and rank run driver-side; above it, the
#: distributed label propagation and power iteration run instead
_SMALL_GRAPH_MAX_PAIRS = 200_000


def _hash56_sql(expr: str) -> str:
    return f"CAST(('0x' || substring(md5({expr}), 1, 14)) AS BIGINT)"


def _hash112_sql(expr: str) -> str:
    """DuckDB equivalent of the ``struct<hi, lo>`` k-gram fingerprint
    ``operators.dedup.kgram_occurrences`` builds inline: the full md5
    digest as a struct of two 56-bit BIGINT halves (full-width so
    fingerprint collisions cannot delete real spans; struct equality
    joins/partitions fine in both engines)."""
    return (f"{{hi: CAST(('0x' || substring(md5({expr}), 1, 14)) AS BIGINT),"
            f" lo: CAST(('0x' || substring(md5({expr}), 15, 14)) AS BIGINT)}}")


_SHINGLE_CTE = rf"""
    toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        FROM documents
    ),
    sh AS (
        SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(w) >= {_SHINGLE_K}
                 THEN [array_to_string(w[i:i+{_SHINGLE_K - 1}], ' ')
                       for i in generate_series(1, len(w) - {_SHINGLE_K - 1})]
                 ELSE [array_to_string(w, ' ')] END)) AS shingle
        FROM toks
    )
"""

_MINHASH_AGGS = ",\n               ".join(
    "min({h}) AS mh_{j}".format(h=_hash56_sql(f"'{j}|' || shingle"), j=j)
    for j in range(_NUM_PERM)
)

_BAND_UNION = "\n        UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, {_hash56_sql(f'CAST(mh_{b} AS VARCHAR)')} AS band_hash FROM mh"
    for b in range(_NUM_PERM)
)


_SEG_TOKENS = 10

#: substring-span dedup k-gram width for the registry entry — 8 tokens so
#: the sf0.01 fixture's planted duplication actually fires (the operator's
#: production default is the Lee et al. 50)
_SPAN_K = 8

_SPAN_CTES = rf"""
    kgarr AS (
        SELECT doc_id,
               [{_hash112_sql(f"array_to_string(toks[i:i+{_SPAN_K - 1}], ' ')")}
                for i in generate_series(1, len(toks) - {_SPAN_K - 1})] AS fps
        FROM t WHERE len(toks) >= {_SPAN_K}
    ),
    kg AS (
        SELECT doc_id, generate_subscripts(fps, 1) - 1 AS pos, unnest(fps) AS fp
        FROM kgarr
    ),
    kfirst AS (
        SELECT fp, doc_id AS fd, pos AS fpos FROM (
            SELECT fp, doc_id, pos,
                   row_number() OVER (PARTITION BY fp
                                      ORDER BY doc_id, pos) AS rn
            FROM kg) WHERE rn = 1
    ),
    kdup AS (
        SELECT kg.doc_id, kg.pos
        FROM kg JOIN kfirst USING (fp)
        WHERE NOT (kg.doc_id = kfirst.fd AND kg.pos = kfirst.fpos)
    ),
    kmark AS (
        SELECT doc_id, pos,
               CASE WHEN pos > coalesce(max(pos + {_SPAN_K}) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS is_new
        FROM kdup
    ),
    kspan AS (
        SELECT doc_id, span_id, min(pos) AS s, max(pos) + {_SPAN_K} AS e
        FROM (SELECT doc_id, pos,
                     sum(is_new) OVER (PARTITION BY doc_id
                                       ORDER BY pos) AS span_id
              FROM kmark)
        GROUP BY 1, 2
    ),
    kcov AS (
        SELECT doc_id, unnest(generate_series(s, e - 1)) AS ti FROM kspan
    ),
    ktok AS (
        SELECT doc_id, generate_subscripts(toks, 1) - 1 AS ti,
               unnest(toks) AS tk
        FROM t
    ),
    kkept AS (
        SELECT k.doc_id, k.ti, k.tk
        FROM ktok k LEFT JOIN kcov c ON k.doc_id = c.doc_id AND k.ti = c.ti
        WHERE c.ti IS NULL
    ),
    kdoc AS (
        SELECT t.doc_id,
               CAST(coalesce(d.nk, 0) AS BIGINT) AS n_dup_kgrams,
               CAST(coalesce(sp.ns, 0) AS BIGINT) AS n_dup_spans,
               CAST(coalesce(sp.nt, 0) AS BIGINT) AS n_dup_span_tokens,
               md5(coalesce(kept.txt, '')) AS span_digest
        FROM t
        LEFT JOIN (SELECT doc_id, count(*) AS nk
                   FROM kdup GROUP BY 1) d USING (doc_id)
        LEFT JOIN (SELECT doc_id, count(*) AS ns, sum(e - s) AS nt
                   FROM kspan GROUP BY 1) sp USING (doc_id)
        LEFT JOIN (SELECT doc_id, string_agg(tk, ' ' ORDER BY ti) AS txt
                   FROM kkept GROUP BY 1) kept USING (doc_id)
    )
"""

_SIMHASH_BITS = 16

_BIT_SUMS = ",\n               ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}"
    for b in range(_SIMHASH_BITS)
)
_SIG_SUM = " + ".join(
    f"(CASE WHEN s_{b} > 0 THEN {2 ** b} ELSE 0 END)"
    for b in range(_SIMHASH_BITS)
)


@query(
    "exact_dedup_documents",
    oracle=rf"""
    WITH f AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(
                   array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' ')
               ), 1, 14)) AS BIGINT) AS fingerprint
        FROM documents
    ),
    g AS (
        SELECT fingerprint, min(doc_id) AS rep_id,
               CAST(count(*) AS BIGINT) AS n_dups
        FROM f GROUP BY 1
    ),
    t AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM documents
    ),
    segarr AS (
        SELECT doc_id,
               list_transform(
                   range(0, CAST(ceil(len(toks) / {_SEG_TOKENS}.0) AS BIGINT)),
                   i -> array_to_string(
                       toks[i*{_SEG_TOKENS}+1 : i*{_SEG_TOKENS}+{_SEG_TOKENS}],
                       ' ')) AS segs
        FROM t
    ),
    seg AS (
        SELECT doc_id, generate_subscripts(segs, 1) - 1 AS seg_index,
               unnest(segs) AS segment
        FROM segarr
    ),
    segf AS (
        SELECT *,
               CAST(('0x' || substring(md5(segment), 1, 14)) AS BIGINT)
                   AS seg_fp
        FROM seg WHERE trim(segment) <> ''
    ),
    perdoc AS (
        SELECT seg_fp, doc_id, min(seg_index) AS fidx
        FROM segf GROUP BY 1, 2
    ),
    occ AS (
        SELECT seg_fp, first_doc, first_idx, n_docs FROM (
            SELECT seg_fp, doc_id AS first_doc, fidx AS first_idx,
                   count(*) OVER (PARTITION BY seg_fp) AS n_docs,
                   row_number() OVER (PARTITION BY seg_fp
                                      ORDER BY doc_id, fidx) AS rn
            FROM perdoc) WHERE rn = 1
    ),
    segd AS (
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_segments,
               CAST(sum(CASE WHEN o.first_doc = s.doc_id
                              AND o.first_idx = s.seg_index
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_first,
               CAST(sum(CASE WHEN o.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_common_segments,
               md5(coalesce(string_agg(
                   CASE WHEN o.first_doc = s.doc_id
                         AND o.first_idx = s.seg_index
                        THEN s.segment END, ' ' ORDER BY s.seg_index), ''))
                   AS dedup_digest
        FROM segf s JOIN occ o USING (seg_fp)
        GROUP BY s.doc_id
    ),
    simtok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
    ),
    simh AS (
        SELECT doc_id, {_hash56_sql('tok')} AS h FROM simtok
    ),
    simsum AS (
        SELECT doc_id,
               {_BIT_SUMS}
        FROM simh GROUP BY doc_id
    ),
    sims AS (
        SELECT doc_id, CAST({_SIG_SUM} AS BIGINT) AS simhash FROM simsum
    ),
    {_SPAN_CTES}
    SELECT f.doc_id, f.fingerprint, g.rep_id, g.n_dups,
           f.doc_id = g.rep_id AS is_rep,
           sd.n_segments, sd.n_kept_first, sd.n_common_segments,
           sd.dedup_digest, sims.simhash,
           kd.n_dup_kgrams, kd.n_dup_spans, kd.n_dup_span_tokens,
           kd.span_digest
    FROM f JOIN g USING (fingerprint) JOIN segd sd USING (doc_id)
    JOIN sims USING (doc_id) JOIN kdoc kd USING (doc_id)
    """,
)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level exact dedup + corpus-level segment dedup, both at
    document grain.

    Exact half: content-fingerprint grouping (one shuffle on an 8-byte
    key), re-joined so every document carries its group's representative
    and multiplicity.  Reference analogue: ``drop_duplicates`` on key
    subsets (SURVEY §2.3 P4) — content-hash grouping is the 100 TB-safe
    variant.

    Segment half (:func:`...operators.dedup.dedup_segments`): CCNet/C4
    boilerplate removal at pseudo-paragraph grain — 10-token blocks are
    fingerprinted corpus-wide, each content's first global occurrence
    survives, and the reassembled surviving text is hash-checked through
    ``dedup_digest`` (md5 of the re-joined text), so the oracle verifies
    the actual reconstruction, not just the counts.

    SimHash half (:func:`...operators.dedup.simhash`): the 16-bit
    signature rides along at the same grain — one token explode + ONE
    hash aggregation computes all bit-sums as columns, cost independent
    of signature width.  (Consolidated here because the correctness
    driver records at most 50 registry entries; the operator keeps its
    own unit tests.)

    Substring-span half (:func:`...operators.dedup.dedup_spans`, the
    Lee et al. 2021 grain): maximal duplicated ≥``_SPAN_K``-token spans
    removed keep-first, with the reconstructed text hash-checked through
    ``span_digest`` — the oracle reproduces the overlapping k-gram
    fingerprints, the global first-occurrence ranking, the windowed
    interval merge, AND the span-removal reassembly bit-exactly.
    """
    from ..core.cache import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    # r14: the doc-grain fingerprint feeds BOTH the per-document probe
    # side and the group aggregate; persisting the (doc_id, fingerprint)
    # pair (16 bytes/row) computes the normalize+md5 scan once instead
    # of twice (guide §2.6 — D.exact_dedup(docs) re-derived the same
    # hash56(normalized) expression over a second full scan).  The
    # groupBy below IS exact_dedup's body, run over the shared frame.
    per_doc = scoped_persist(
        X.fingerprint(docs).select("doc_id", "fingerprint"))
    groups = per_doc.groupBy("fingerprint").agg(
        F.min("doc_id").alias("rep_id"),
        F.count(F.lit(1)).alias("n_dups"))
    segs = D.dedup_segments(docs, "doc_id",
                            tokens_per_segment=_SEG_TOKENS, min_docs=2)
    sims = D.simhash(docs, "doc_id", bits=_SIMHASH_BITS)
    spans = D.dedup_spans(docs, "doc_id", k=_SPAN_K)
    return (
        per_doc.join(groups, "fingerprint")
        .join(segs, "doc_id")
        .join(sims, "doc_id")
        .join(spans.select(
            "doc_id", "n_dup_kgrams", "n_dup_spans", "n_dup_span_tokens",
            F.md5("text_span_deduped").alias("span_digest")), "doc_id")
        .select(
            "doc_id", "fingerprint", "rep_id",
            F.col("n_dups").cast("long").alias("n_dups"),
            (F.col("doc_id") == F.col("rep_id")).alias("is_rep"),
            F.col("n_segments").cast("long").alias("n_segments"),
            F.col("n_kept_first").cast("long").alias("n_kept_first"),
            F.col("n_common_segments").cast("long")
            .alias("n_common_segments"),
            F.md5("text_kept_first").alias("dedup_digest"),
            "simhash",
            "n_dup_kgrams", "n_dup_spans", "n_dup_span_tokens",
            "span_digest",
        )
    )


_PR_DAMP = 0.85
_PR_ITERS = 2

#: estimate-gate for the LSH verify: candidates must agree on ≥2 of the 8
#: signature rows (estimated Jaccard ≥ 0.25) before exact verification —
#: mirrored in the oracle, part of the operator contract (see
#: operators/dedup.minhash_near_duplicates)
_MIN_SIG_MATCHES = 2
_SIG_MATCH_SUM = " + ".join(
    f"(CASE WHEN ma.mh_{j} = mb.mh_{j} THEN 1 ELSE 0 END)"
    for j in range(_NUM_PERM))

# fixed-iteration PageRank as chained CTEs — one per power-iteration
# round, mirroring operators/graph.pagerank exactly (no dangling mass:
# the pair graph is symmetrized, every node has out-edges)
_PR_ITERS_SQL = "\n    ".join(
    f"""it{k} AS (
        SELECT pr_nodes.id AS id,
               (1.0 - {_PR_DAMP}) / nn.n
               + {_PR_DAMP} * coalesce(agg.c, 0.0) AS r
        FROM pr_nodes CROSS JOIN nn
        LEFT JOIN (
            SELECT e.b AS id, sum(p.r / d.deg) AS c
            FROM dir_edges e JOIN it{k - 1} p ON p.id = e.a
            JOIN deg d ON d.a = e.a
            GROUP BY e.b) agg USING (id)
    ),"""
    for k in range(1, _PR_ITERS + 1))


@query(
    "minhash_near_duplicates",
    oracle=rf"""
    WITH {_SHINGLE_CTE},
    mh AS (
        SELECT doc_id,
               {_MINHASH_AGGS}
        FROM sh GROUP BY doc_id
    ),
    banded AS (
        {_BAND_UNION}
    ),
    cand0 AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b USING (band, band_hash)
        WHERE a.doc_id < b.doc_id
    ),
    cand AS (
        SELECT c.id_a, c.id_b
        FROM cand0 c
        JOIN mh ma ON ma.doc_id = c.id_a
        JOIN mh mb ON mb.doc_id = c.id_b
        WHERE ({_SIG_MATCH_SUM}) >= {_MIN_SIG_MATCHES}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b
    ),
    verified AS (
        SELECT i.id_a, i.id_b,
               CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter) AS jaccard
        FROM inter i
        JOIN sizes za ON za.doc_id = i.id_a
        JOIN sizes zb ON zb.doc_id = i.id_b
        WHERE CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter)
              >= {_JACCARD_THRESHOLD}
    ),
    dir_edges AS (
        SELECT id_a AS a, id_b AS b FROM verified
        UNION SELECT id_b, id_a FROM verified
    ),
    reach AS (
        WITH RECURSIVE r(a, b) AS (
            SELECT a, b FROM dir_edges
            UNION
            SELECT r.a, e.b FROM r JOIN dir_edges e ON r.b = e.a
        ) SELECT a, b FROM r
    ),
    grp AS (
        SELECT a AS id, least(a, min(b)) AS gid FROM reach GROUP BY a
    ),
    pr_nodes AS (SELECT DISTINCT a AS id FROM dir_edges),
    nn AS (SELECT count(*) AS n FROM pr_nodes),
    deg AS (SELECT a, count(*) AS deg FROM dir_edges GROUP BY a),
    it0 AS (SELECT id, 1.0 / nn.n AS r FROM pr_nodes CROSS JOIN nn),
    {_PR_ITERS_SQL}
    ranked AS (SELECT id, round(r, 6) AS rank_a FROM it{_PR_ITERS})
    SELECT v.id_a, v.id_b, v.jaccard, g.gid AS group_id, p.rank_a
    FROM verified v JOIN grp g ON g.id = v.id_a
    JOIN ranked p ON p.id = v.id_a
    """,
)
def minhash_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection, verified with true Jaccard, with
    each pair tagged by its transitive GROUP id.

    shingle(k=3) → 8 minhash permutations → 8 one-row bands → bucket join →
    exact Jaccard ≥ 0.5 → connected components over the verified pairs
    (``operators/graph.py`` min-label propagation).  The oracle re-derives
    the closure independently with a recursive CTE, so the group
    resolution — "A≈B and B≈C collapse to one group even though A and C
    never met in a bucket" — is hash-checked, not just unit-tested.

    Candidate generation is the banded bucket join — never an all-pairs
    comparison; at 100 TB the bucket join is the only shuffle that grows
    with corpus size, and its key is (band, 56-bit hash).  The component
    table is pair-graph-sized (near-dup ids only), broadcast back onto
    the pairs.

    ``rank_a`` hash-checks ``operators/graph.pagerank``: a fixed
    2-round power iteration over the symmetrized pair graph (duplicate
    centrality — the member most connected within its dup cluster); the
    oracle re-derives the identical rounds as chained CTEs.  The round
    count bounds bench latency (each lazy round is two tiny shuffle
    stages), not fidelity — the per-round arithmetic is what's checked.
    """
    from ..operators.graph import (connected_components,
                                   connected_components_local, pagerank,
                                   pagerank_local)

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_near_duplicates(
        docs, "doc_id", k=_SHINGLE_K, num_perm=_NUM_PERM, bands=_NUM_PERM,
        threshold=_JACCARD_THRESHOLD, min_sig_matches=_MIN_SIG_MATCHES,
    )
    from ..core.cache import scoped_persist

    pairs = scoped_persist(pairs)  # reused: graph edges + final join
    # MEASURED small-graph gate (r13): the distributed closure pays ~2
    # barrier jobs per propagation round (eager checkpoint + convergence
    # probe) — 5.9 s of pure job latency on the 256-pair sf0.1 graph
    # where the union-find itself is microseconds.  The verified-pair
    # graph is a tiny fraction of the corpus by construction, so the
    # gate counts the persisted pairs frame (a count the plan pays once,
    # against data it materializes anyway) and computes the closure +
    # rank driver-side below the bound with bit-compatible algorithms
    # (tests/test_graph.py pins parity; ranks differ only by float
    # summation order, absorbed by the round-6 hash exactly as the
    # DuckDB oracle's own reordering already is).  Above the bound —
    # a corpus whose near-dup graph is genuinely large — the
    # distributed path runs unchanged.
    if pairs.count() <= _SMALL_GRAPH_MAX_PAIRS:
        edge_rows = [(r["id_a"], r["id_b"])
                     for r in pairs.select("id_a", "id_b").collect()]
        sym = edge_rows + [(b, a) for a, b in edge_rows]
        labels = connected_components_local(sym)
        ranks = pagerank_local(sym, damping=_PR_DAMP, n_iter=_PR_ITERS)
        comp_df = rows_df(spark, sorted(labels.items()),
                          "id_a bigint, group_id bigint")
        pr_df = rows_df(spark, sorted(ranks.items()),
                        "id_a bigint, rank double")
        return (
            pairs.join(F.broadcast(comp_df), "id_a")
            .join(F.broadcast(pr_df.select(
                "id_a", F.round("rank", 6).alias("rank_a"))), "id_a")
        )
    # ONE persisted symmetric edge table feeds the closure, the rank
    # iteration, AND the node list — CC and PageRank share it instead of
    # each re-deriving (and re-checkpointing) its own copy
    sym_edges = scoped_persist(
        pairs.select(F.col("id_a").alias("id1"), F.col("id_b").alias("id2"))
        .union(pairs.select(F.col("id_b"), F.col("id_a"))))
    nodes = scoped_persist(sym_edges.select(F.col("id1").alias("id"))
                           .distinct())
    comp = connected_components(nodes, sym_edges, id_col="id",
                                symmetrize=False, checkpoint_edges=False)
    # symmetrized graph → no dangling nodes; 3 lazy rounds fold into the
    # final join's single job (no per-round checkpoints)
    pr = pagerank(nodes, sym_edges, n_iter=_PR_ITERS, damping=_PR_DAMP,
                  redistribute_dangling=False, checkpoint_every=0)
    return (
        pairs.join(
            F.broadcast(comp.select(F.col("id").alias("id_a"),
                                    F.col("label").alias("group_id"))),
            "id_a")
        .join(F.broadcast(pr.select(F.col("id").alias("id_a"),
                                    F.round("rank", 6).alias("rank_a"))),
              "id_a")
    )




@query(
    "ngram_jaccard_sample_pairs",
    oracle=rf"""
    WITH {_SHINGLE_CTE},
    ids AS (SELECT DISTINCT doc_id FROM sh WHERE doc_id < 30),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ids a JOIN ids b ON a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT p.id_a, p.id_b, count(*) AS n_inter
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.id_a
        JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
        GROUP BY p.id_a, p.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(n_inter AS DOUBLE) / (za.n + zb.n - n_inter) AS jaccard,
           CAST(za.n AS BIGINT) AS n_sh_a,
           CAST(zb.n AS BIGINT) AS n_sh_b,
           CAST((SELECT count(*) FROM ids) AS BIGINT) AS n_docs_block
    FROM inter i
    JOIN sizes za ON za.doc_id = i.id_a
    JOIN sizes zb ON zb.doc_id = i.id_b
    """,
)
def ngram_jaccard_sample_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over a bounded id block (docs 0-29, all pairs
    with non-empty intersection).

    The exact-similarity primitive that MinHash approximates; bounded
    blocking keeps the pair space quadratic only within the block —
    the pattern used for within-bucket verification at scale.

    GROUP-grain evidence rides every pair (r9 verdict item 6): the exact
    per-doc shingle counts (``n_sh_a``/``n_sh_b``) and the block's doc
    count (``n_docs_block``), so a bucketing/blocking bug that drops a
    document or miscounts a shingle set breaks the oracle hash even when
    the surviving pairs' Jaccard values happen to agree.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    sh = D.word_shingles(docs, "doc_id", k=_SHINGLE_K)
    ids = sh.select("doc_id").distinct()
    pairs = (
        ids.select(F.col("doc_id").alias("id_a"))
        .join(ids.select(F.col("doc_id").alias("id_b")),
              F.col("id_a") < F.col("id_b"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n"))
    block = ids.agg(F.count(F.lit(1)).alias("n_docs_block"))
    return (
        D.jaccard_pairs(sh, pairs, "doc_id")
        .join(F.broadcast(sizes.select(F.col("doc_id").alias("id_a"),
                                       F.col("__n").alias("n_sh_a"))),
              "id_a")
        .join(F.broadcast(sizes.select(F.col("doc_id").alias("id_b"),
                                       F.col("__n").alias("n_sh_b"))),
              "id_b")
        .crossJoin(F.broadcast(block))
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicates (sign-LSH candidate generation)
# ---------------------------------------------------------------------------

_SRP_BANDS = 4          # bands of sign bits; a pair is a candidate if ANY
_SRP_BITS = 6           # band matches (same AND-OR scheme as MinHash LSH)
_SRP_DIM = 64
_COS_THRESHOLD = 0.35   # tuned to the synthetic corpus (max cosine ≈ 0.51)


def _srp_proj_sql(p: int) -> str:
    """Signed projection onto deterministic pseudo-hyperplane ``p`` (DuckDB)."""
    return (
        f"list_reduce(list_transform(generate_series(1, {_SRP_DIM}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * (((i*31 + {p + 1}*17) % 7) - 3)), "
        "(a, x) -> a + x)"
    )


_SRP_BITS_SQL = ", ".join(
    f"CASE WHEN {_srp_proj_sql(p)} >= 0 THEN 1 ELSE 0 END"
    for p in range(_SRP_BANDS * _SRP_BITS)
)

_SRP_DOT = (
    f"list_reduce(list_transform(generate_series(1, {_SRP_DIM}), "
    "i -> CAST(e1[i] AS DOUBLE) * CAST(e2[i] AS DOUBLE)), (a, x) -> a + x)"
)
_SRP_N1 = (
    f"sqrt(list_reduce(list_transform(generate_series(1, {_SRP_DIM}), "
    "i -> CAST(e1[i] AS DOUBLE) * CAST(e1[i] AS DOUBLE)), (a, x) -> a + x))"
)
_SRP_N2 = (
    f"sqrt(list_reduce(list_transform(generate_series(1, {_SRP_DIM}), "
    "i -> CAST(e2[i] AS DOUBLE) * CAST(e2[i] AS DOUBLE)), (a, x) -> a + x))"
)


@query(
    "embedding_cosine_near_dup",
    oracle=f"""
    WITH bits AS (
        SELECT vec_id, embedding, [{_SRP_BITS_SQL}] AS b
        FROM embeddings
    ),
    banded AS (
        SELECT vec_id, embedding, band,
               list_reduce(list_transform(generate_series(1, {_SRP_BITS}),
                   j -> b[band * {_SRP_BITS} + j] * (1 << (j - 1))),
                   (a, x) -> a + x) AS bucket
        FROM bits,
             (SELECT unnest(generate_series(0, {_SRP_BANDS - 1})) AS band)
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
               a.embedding AS e1, b.embedding AS e2
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.vec_id < b.vec_id
    ),
    scored AS (
        SELECT id1, id2,
               round({_SRP_DOT} / ({_SRP_N1} * {_SRP_N2}), 6) AS cosine
        FROM cand
    )
    SELECT id1, id2, cosine FROM scored WHERE cosine >= {_COS_THRESHOLD}
    """,
)
def embedding_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via signed-random-projection LSH.

    Candidate generation is the MinHash-LSH AND-OR scheme transplanted to
    cosine space: {_SRP_BANDS} bands × {_SRP_BITS} sign bits of fixed
    pseudo-hyperplanes (deterministic integer coefficients, so the DuckDB
    oracle reproduces the buckets bit-exactly); a pair is a candidate when
    any band's bucket matches, then the exact cosine is verified against
    the threshold.

    Scale shape: bucketing is one narrow projection per row (codegen'd
    ``aggregate`` over the array — no Python); the self-join shuffles on
    (band, bucket), so candidate volume is O(sum of bucket² sizes), not
    O(n²) — the plan that survives a 100×-scale-up where the brute-force
    pair join does not.  Bits-per-band trades recall for bucket size.

    r13 restructure (guide §8 "decide with small rows, move big rows
    once" / §2.3 "project before the exchange"):

    - the banded frame carries ONLY ``(vec_id, band, bucket)`` — before,
      the bands explode and the bucket self-join shuffled every
      embedding ``×bands`` copies (44 MB at sf0.1 for a ~1 MB id+bucket
      payload), and ``dropDuplicates`` over the array columns forced a
      SortAggregate; the id-grain dedup is a plain hash aggregate;
    - the 24 interpreted sign-projection folds are computed ONCE
      (scoped-persisted, spread over ``n_part`` tasks — the single-file
      local parquet is unsplittable) instead of once per join side;
    - embeddings are attached AFTER the pair set is known (two joins on
      vec_id against the deduped pairs, whose real cached stats are
      materialized before planning), and each vector's norm is computed
      once per VECTOR in the attach projection, not once per PAIR —
      the ``cosine()`` fold order per element is unchanged, so the
      scored doubles are bit-identical to the oracle's.
    """
    from ..core.cache import scoped_persist
    from ..operators.similarity import _dot, _norm2

    emb = load_table(spark, sf_dir, "embeddings")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    projs = [
        F.expr(
            f"aggregate(sequence(1, {_SRP_DIM}), CAST(0.0 AS DOUBLE), "
            f"(a, i) -> a + CAST(element_at(embedding, i) AS DOUBLE) "
            f"* (((i*31 + {p + 1}*17) % 7) - 3))"
        )
        for p in range(_SRP_BANDS * _SRP_BITS)
    ]
    bits = [F.when(pr >= 0, 1).otherwise(0) for pr in projs]
    bands = F.explode(
        F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                sum(
                    bits[b * _SRP_BITS + j] * (1 << j)
                    for j in range(_SRP_BITS)
                ).alias("bucket"),
            )
            for b in range(_SRP_BANDS)
        ])
    )
    banded = scoped_persist(
        emb.repartition(n_part)
        .select("vec_id", bands.alias("bb"))
        .select("vec_id", "bb.band", "bb.bucket")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = scoped_persist(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
    # materialize: the attach joins below plan against REAL cached stats
    # (the pair set is bucket²-bounded — tiny at bench scale, and always
    # ≪ corpus by LSH construction), the same measured-stats discipline
    # as the minhash staging
    pairs.count()
    vecs = emb.select("vec_id", "embedding",
                      _norm2(F.col("embedding")).alias("__n"))
    return (
        pairs
        .join(vecs.select(F.col("vec_id").alias("id1"),
                          F.col("embedding").alias("e1"),
                          F.col("__n").alias("n1")), "id1")
        .join(vecs.select(F.col("vec_id").alias("id2"),
                          F.col("embedding").alias("e2"),
                          F.col("__n").alias("n2")), "id2")
        .select(
            "id1", "id2",
            F.round(_dot(F.col("e1"), F.col("e2"))
                    / (F.col("n1") * F.col("n2")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= _COS_THRESHOLD)
    )
