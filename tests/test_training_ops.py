"""Training-pipeline operator tests: chunking, contamination screen,
hash splitting, and token-budgeted shard packing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from barberini_analytics_spark.operators.dedup import cross_corpus_overlap
from barberini_analytics_spark.operators.text import chunk_documents


def test_chunking_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    rows = chunk_documents(df, "doc_id", max_tokens=10, overlap=2).collect()
    assert len(rows) == 1
    assert (rows[0].chunk_index, rows[0].n_chunk_tokens,
            rows[0].chunk_text) == (0, 3, "a b c")


def test_chunking_stride_overlap_and_total_coverage(spark):
    words = [f"w{i}" for i in range(25)]
    df = spark.createDataFrame([(7, " ".join(words))], ["doc_id", "text"])
    rows = sorted(chunk_documents(df, "doc_id", max_tokens=10,
                                  overlap=3).collect(),
                  key=lambda r: r.chunk_index)
    # stride 7: starts 0, 7, 14, 21
    assert [r.chunk_index for r in rows] == [0, 1, 2, 3]
    assert rows[0].chunk_text.split() == words[0:10]
    assert rows[1].chunk_text.split() == words[7:17]
    assert rows[3].chunk_text.split() == words[21:25]   # short tail
    assert rows[3].n_chunk_tokens == 4
    # overlap: consecutive chunks share exactly `overlap` tokens
    assert rows[0].chunk_text.split()[-3:] == rows[1].chunk_text.split()[:3]
    # no token lost
    seen = set()
    for r in rows:
        seen.update(r.chunk_text.split())
    assert seen == set(words)


def test_chunking_rejects_bad_overlap(spark):
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", max_tokens=8, overlap=8)


def test_contamination_screen_directional_containment(spark):
    eval_text = "the quick brown fox jumps over the lazy dog"
    train = spark.createDataFrame(
        [
            # contains the whole eval doc verbatim inside more text
            (1, "prefix words " + eval_text + " suffix words here"),
            # shares a fragment only
            (2, "the quick brown fox went elsewhere entirely today"),
            # unrelated
            (3, "museum analytics pipelines process visitor data"),
        ],
        ["doc_id", "text"])
    evalset = spark.createDataFrame([(100, eval_text)], ["doc_id", "text"])
    out = {r.train_id: r for r in
           cross_corpus_overlap(train, evalset, "doc_id", k=3,
                                min_overlap=0.2).collect()}
    # eval doc has 7 distinct 3-gram shingles; doc 1 contains all of them
    assert out[1].eval_containment == pytest.approx(1.0)
    assert out[1].n_shared == 7
    # doc 2 shares exactly the 2 leading shingles -> 2/7 ≈ 0.29
    assert out[2].n_shared == 2
    assert out[2].eval_containment == pytest.approx(2 / 7)
    assert 3 not in out


def test_chunking_emits_no_fully_redundant_chunk(spark):
    # 22 tokens, max 10, overlap 3 (stride 7): a start at 21 would emit a
    # 1-token chunk already contained in the chunk starting at 14
    words = [f"w{i}" for i in range(22)]
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    rows = sorted(chunk_documents(df, "doc_id", max_tokens=10,
                                  overlap=3).collect(),
                  key=lambda r: r.chunk_index)
    assert [r.chunk_index for r in rows] == [0, 1, 2]
    assert rows[2].chunk_text.split() == words[14:22]


def test_hash_split_deterministic_and_proportional(spark):
    from barberini_analytics_spark.operators.text import hash_split

    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: r.split for r in
         hash_split(df, [0.8, 0.1, 0.1], "doc_id", seed=7).collect()}
    b = {r.doc_id: r.split for r in
         hash_split(df.repartition(13), [0.8, 0.1, 0.1], "doc_id",
                    seed=7).collect()}
    assert a == b, "split must be partitioning-invariant"
    counts = [sum(1 for v in a.values() if v == i) for i in range(3)]
    assert abs(counts[0] / 5000 - 0.8) < 0.03
    assert abs(counts[1] / 5000 - 0.1) < 0.02
    assert abs(counts[2] / 5000 - 0.1) < 0.02
    # a different seed reshuffles membership
    c = {r.doc_id: r.split for r in
         hash_split(df, [0.8, 0.1, 0.1], "doc_id", seed=8).collect()}
    assert c != a


def test_token_shard_packing_budgets_and_determinism(spark):
    from barberini_analytics_spark.operators.text import assign_token_shards

    rng = np.random.default_rng(3)
    docs = [(int(i), int(t)) for i, t in
            enumerate(rng.integers(1, 400, size=2000))]
    max_doc = max(t for _, t in docs)
    target = 5_000
    df = spark.createDataFrame(docs, ["doc_id", "n_tokens"])
    out = assign_token_shards(df, "n_tokens", "doc_id", target).collect()
    assert len(out) == len(docs)

    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append((r.doc_id, r.n_tokens))
    # every shard except possibly the last lands inside the budget band
    sizes = {s: sum(t for _, t in rows) for s, rows in by_shard.items()}
    last = max(sizes)
    for s, tot in sizes.items():
        assert tot < target + max_doc
        if s != last:
            assert tot > target - max_doc
    # shards are contiguous runs of the packing order
    shard_of = {d: r for (d, _), r in
                zip(sorted(docs), [r.shard for r in sorted(
                    out, key=lambda r: r.doc_id)])}
    order = [shard_of[d] for d, _ in sorted(docs)]
    assert order == sorted(order)
    # partitioning-invariant
    again = assign_token_shards(df.repartition(17), "n_tokens", "doc_id",
                                target).collect()
    assert {(r.doc_id, r.shard) for r in again} == \
        {(r.doc_id, r.shard) for r in out}


def test_assign_token_shards_no_nulls_at_scale(spark):
    """Regression (sf0.1 oracle sweep): the totals job and the window job
    must see the SAME partition ids — AQE re-coalescing the range
    exchange between the two executions renumbered pids, missed the
    offset map, and produced NULL shards on 74% of rows."""
    from barberini_analytics_spark.operators.text import assign_token_shards

    df = spark.range(200_000).selectExpr(
        "id AS doc_id", "CAST(1 + id % 37 AS LONG) AS n_tokens")
    out = assign_token_shards(df, "n_tokens", "doc_id", 10_000)
    assert out.filter("shard IS NULL").count() == 0
    # exact parity with a single-partition reference cumsum
    got = {r.doc_id: r.shard for r in out.collect()}
    ref = df.coalesce(1).selectExpr(
        "doc_id",
        "CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        " - n_tokens) / 10000.0) AS LONG) AS shard").collect()
    assert got == {r.doc_id: r.shard for r in ref}


# ---------------------------------------------------------------------------
# corpus-level segment dedup (CCNet line dedup / C4 boilerplate removal)
# ---------------------------------------------------------------------------

def _seg_rows(spark, docs, **kw):
    from barberini_analytics_spark.operators.dedup import dedup_segments

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    return {r.doc_id: r for r in dedup_segments(df, "doc_id", **kw).collect()}


def test_dedup_segments_keep_first_and_reassembly(spark):
    # newline-separated "paragraphs"; "SHARED" appears in all three docs
    docs = [
        (1, "alpha one\nSHARED LINE\nbeta two"),
        (2, "SHARED LINE\ngamma three"),
        (3, "delta four\nSHARED LINE"),
    ]
    out = _seg_rows(spark, docs, sep=r"\n")
    # first global occurrence of the shared line is (doc 1, index 1)
    assert out[1].n_segments == 3 and out[1].n_kept_first == 3
    assert out[1].text_kept_first == "alpha one SHARED LINE beta two"
    # later occurrences dropped, original order of survivors preserved
    assert out[2].n_kept_first == 1
    assert out[2].text_kept_first == "gamma three"
    assert out[3].n_kept_first == 1
    assert out[3].text_kept_first == "delta four"
    # boilerplate counter: only the shared line crosses min_docs=2
    assert (out[1].n_common_segments, out[2].n_common_segments,
            out[3].n_common_segments) == (1, 1, 1)


def test_dedup_segments_fully_duplicated_doc_empties(spark):
    docs = [(1, "same line"), (2, "same line")]
    out = _seg_rows(spark, docs, sep=r"\n")
    assert out[1].text_kept_first == "same line"
    assert out[2].n_kept_first == 0
    assert out[2].text_kept_first == ""


def test_dedup_segments_within_doc_repeat_collapses(spark):
    # the same line twice INSIDE one document: keep-first also dedups
    # intra-document repetition (second occurrence is not first globally)
    docs = [(5, "x y\nx y\nz")]
    out = _seg_rows(spark, docs, sep=r"\n")
    assert out[5].n_segments == 3
    assert out[5].n_kept_first == 2
    assert out[5].text_kept_first == "x y z"
    # both copies of "x y" count as common within one doc?  No: min_docs
    # counts DISTINCT documents, so intra-doc repetition is not boilerplate
    assert out[5].n_common_segments == 0


def test_dedup_segments_token_blocks_mode(spark):
    # 10-token blocks: craft two docs sharing their first block exactly
    block = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    docs = [(1, block + " tail one"), (2, block + " other words here")]
    out = _seg_rows(spark, docs)  # sep=None -> 10-token blocks
    assert out[1].n_segments == 2 and out[1].n_kept_first == 2
    assert out[2].n_segments == 2 and out[2].n_kept_first == 1
    assert out[2].text_kept_first == "other words here"
    assert out[1].n_common_segments == 1 == out[2].n_common_segments


def test_dedup_segments_blank_runs_dropped(spark):
    docs = [(1, "a\n\n\nb")]
    out = _seg_rows(spark, docs, sep=r"\n")
    assert out[1].n_segments == 2
    assert out[1].text_kept_first == "a b"


# ---------------------------------------------------------------------------
# deterministic corpus mixing (source reweighting)
# ---------------------------------------------------------------------------

def test_mix_sources_rates_and_determinism(spark):
    from barberini_analytics_spark.operators.text import mix_sources

    rows = [(i, "a" if i < 800 else "b") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "text_source"])
    targets = {"a": 0.5, "b": 0.5}  # rebalance 800/200 -> 500/500
    out = mix_sources(df, "text_source", targets, seed=3)
    got = out.groupBy("text_source").agg(
        F.sum("n_copies").alias("tot")).collect()
    tot = {r.text_source: r.tot for r in got}
    # expectation = 500 per source; hash uniform keeps it within a few %
    assert abs(tot["a"] - 500) < 50 and abs(tot["b"] - 500) < 50
    # source b upsamples: rate 2.5 -> every doc gets >= 2 copies
    assert out.filter("text_source = 'b' AND n_copies < 2").count() == 0
    # source a downsamples: rate 0.625 -> copies in {0, 1}
    assert out.filter("text_source = 'a' AND n_copies > 1").count() == 0
    # partitioning-invariant: same counts after a reshuffle
    re = mix_sources(df.repartition(13), "text_source", targets, seed=3)
    assert {(r.doc_id, r.n_copies) for r in re.select("doc_id", "n_copies").collect()} \
        == {(r.doc_id, r.n_copies) for r in out.select("doc_id", "n_copies").collect()}


def test_mix_sources_drops_untargeted_sources(spark):
    from barberini_analytics_spark.operators.text import mix_sources

    df = spark.createDataFrame(
        [(1, "keep"), (2, "keep"), (3, "drop_me")],
        ["doc_id", "text_source"])
    out = mix_sources(df, "text_source", {"keep": 1.0})
    got = {r.doc_id: r.n_copies for r in out.collect()}
    assert got[3] == 0
    # kept source redistributes the full corpus size (rate 3/2 = 1.5)
    assert got[1] + got[2] >= 2


# ---------------------------------------------------------------------------
# semantic dedup and temperature mixture
# ---------------------------------------------------------------------------

def test_semantic_dedup_domination_policy(spark):
    """Chain a~b~c (but a!~c): the keep-minimal policy keeps only a —
    b is dominated by a, c by b — and cross-cluster pairs never meet."""
    from barberini_analytics_spark.operators.similarity import semantic_dedup

    # 2-d vectors, cluster 0: three unit vectors at 0°, 25°, 50° —
    # cos(25°)≈0.906 ≥ 0.9, cos(50°)≈0.643 < 0.9.  cluster 1: a copy of
    # vector a that must NOT dominate anything in cluster 0.
    import math
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [math.cos(math.radians(25)), math.sin(math.radians(25))], 0),
        (3, [math.cos(math.radians(50)), math.sin(math.radians(50))], 0),
        (4, [1.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    out = {r["vec_id"]: r for r in
           semantic_dedup(emb, threshold=0.9).collect()}
    assert out[1]["kept"] and out[4]["kept"]
    assert not out[2]["kept"] and out[2]["dup_of"] == 1
    assert not out[3]["kept"] and out[3]["dup_of"] == 2
    assert out[1]["dup_of"] is None and out[1]["max_cosine"] is None


def test_temperature_mixture_flattens_and_sums_to_one(spark):
    """α=0.5 weights ∝ sqrt(tokens): a 100×-larger source gets only
    10× the weight; weights sum to 1; epochs = alloc/available."""
    from barberini_analytics_spark.operators.text import temperature_mixture

    docs = spark.createDataFrame(
        [("big", 10000), ("small", 100)], "source string, n_tok int")
    out = {r["source"]: r for r in
           temperature_mixture(docs, "source", "n_tok",
                               token_budget=1000).collect()}
    assert abs(out["big"]["weight"] / out["small"]["weight"] - 10.0) < 1e-4
    assert abs(out["big"]["weight"] + out["small"]["weight"] - 1.0) < 1e-5
    assert abs(out["small"]["epochs"]
               - out["small"]["target_tokens"] / 100) < 1e-6
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        temperature_mixture(docs, "source", "n_tok", alpha=0.3)


# ---------------------------------------------------------------------------
# Gopher quality rules (operators/text.gopher_quality_filter)
# ---------------------------------------------------------------------------

def _gopher_rows(spark, texts):
    from barberini_analytics_spark.operators.text import gopher_quality_filter

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    return {r.doc_id: r for r in gopher_quality_filter(df).collect()}


def test_gopher_rules_fire_individually(spark):
    good = ("the data and that point be to of have with great value "
            + " ".join(f"word{i} item{i} note{i}" for i in range(20)))
    # 72 words, stopwords present, no repeated n-grams
    rows = _gopher_rows(spark, [
        good,                                    # 0: passes everything
        "short text only",                       # 1: word count
        good + " ###### ##### ##### #####",      # 2: symbol ratio
        "\n".join(["- bullet line"] * 20),       # 3: bullets (and others)
        good.replace("value", "value..."),       # 4: still fine (few ...)
    ])
    assert rows[0].keep
    assert not rows[1].rule_word_count and not rows[1].keep
    assert not rows[2].rule_symbol_ratio and not rows[2].keep
    assert rows[3].bullet_line_frac == 1.0 and not rows[3].rule_bullets
    assert rows[4].rule_ellipsis   # 12/72 words end with ... but 1 line


def test_gopher_line_signals_and_ellipsis(spark):
    text = "a good line of the data\n- one bullet\nthis trails off...\n\n"
    r = _gopher_rows(spark, [text])[0]
    # 3 non-empty lines: 1 bullet-started, 1 ellipsis-terminated
    assert r.bullet_line_frac == pytest.approx(1 / 3)
    assert r.ellipsis_line_frac == pytest.approx(1 / 3)
    assert not r.rule_word_count          # 13 words < 50
    assert r.rule_bullets and r.rule_ellipsis is False


def test_gopher_alpha_and_mean_length_rules(spark):
    digits = " ".join(["12345"] * 60)      # no alphabetic words, mean 5
    r = _gopher_rows(spark, [digits])[0]
    assert r.alpha_word_frac == 0.0 and not r.rule_alpha_words
    assert r.rule_mean_word_len and r.rule_word_count
    assert not r.keep


def test_gopher_repetition_ceilings(spark):
    looped = " ".join(["spam ham"] * 40)   # one bigram dominates
    r = _gopher_rows(spark, [looped])[0]
    assert r.top_bigram_frac > 0.18 and not r.rule_top_bigram
    assert r.dup_trigram_frac > 0.30 and not r.rule_dup_trigram
    assert not r.keep


# ---------------------------------------------------------------------------
# int8 quantization (operators/similarity.quantize_int8)
# ---------------------------------------------------------------------------

def test_quantize_int8_roundtrip_and_zero_vector(spark):
    from barberini_analytics_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 127.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        ["vec_id", "embedding"])
    rows = {r.vec_id: r for r in quantize_int8(df).collect()}
    assert rows[1].scale == pytest.approx(1.0)
    assert rows[1].codes == [1, 0, 0, 127]     # -0.5/1.0+0.5 floors to 0
    assert rows[2].scale == 0.0 and rows[2].codes == [0, 0, 0, 0]
    # codes stay inside int8 range by construction
    assert all(-128 <= c <= 127 for c in rows[1].codes)


def test_quantize_int8_error_bounded_by_half_step(spark):
    from barberini_analytics_spark.operators.similarity import (
        dequantize_int8, quantize_int8)

    vals = [(i, [((i * 31 + j * 17) % 1009 - 504) / 504.0
                 for j in range(16)]) for i in range(50)]
    df = spark.createDataFrame(vals, ["vec_id", "embedding"])
    out = quantize_int8(df).withColumn(
        "err", F.array_max(F.zip_with(
            F.col("embedding"),
            dequantize_int8(F.col("codes"), F.col("scale")),
            lambda x, y: F.abs(x - y))))
    for r in out.select("scale", "err").collect():
        assert r.err <= r.scale / 2 + 1e-12   # half a quantization step


# ---------------------------------------------------------------------------
# stratified sampling (operators/curation)
# ---------------------------------------------------------------------------

def _strata_df(spark):
    rows = [(i, "a" if i % 3 else "b", f"t{i}") for i in range(300)]
    return spark.createDataFrame(rows, ["id", "grp", "text"])


def test_stratified_sample_exact_quota_and_determinism(spark):
    from barberini_analytics_spark.operators.curation import stratified_sample

    df = _strata_df(spark)
    out = stratified_sample(df, ["grp"], 0.25, "id")
    got = out.groupBy("grp").count().collect()
    import math
    want = {"a": math.ceil(0.25 * 200), "b": math.ceil(0.25 * 100)}
    assert {r.grp: r["count"] for r in got} == want
    # deterministic + partitioning-invariant membership
    ids1 = sorted(r.id for r in out.select("id").collect())
    ids2 = sorted(r.id for r in stratified_sample(
        df.repartition(13), ["grp"], 0.25, "id").select("id").collect())
    assert ids1 == ids2


def test_stratified_sample_fraction_override(spark):
    from barberini_analytics_spark.operators.curation import stratified_sample

    df = _strata_df(spark)
    out = stratified_sample(df, ["grp"], 0.1, "id",
                            fractions={("b",): 1.0})
    got = {r.grp: r["count"] for r in out.groupBy("grp").count().collect()}
    assert got == {"a": 20, "b": 100}


def test_stratified_sample_rejects_partial_override_key(spark):
    from barberini_analytics_spark.operators.curation import stratified_sample

    df = _strata_df(spark).withColumn("lang", F.lit("en"))
    with pytest.raises(ValueError, match="must name all strata"):
        stratified_sample(df, ["grp", "lang"], 0.5, "id",
                          fractions={("a",): 1.0})


# ---------------------------------------------------------------------------
# degenerate inputs: tiny documents, hot LSH/SRP buckets
# ---------------------------------------------------------------------------

def test_repetition_signals_total_on_tiny_docs(spark):
    """Regression: 1-2-token documents used to hit Spark's descending
    sequence(1, 0) and crash with element_at(tokens, 0)."""
    from barberini_analytics_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "three word doc"), (4, " ")],
        ["doc_id", "text"])
    rows = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert rows[1].top_bigram_frac is None
    # one bigram total -> the top one is all of them
    assert rows[2].top_bigram_frac == 1.0 and rows[2].dup_trigram_frac is None
    assert rows[3].dup_trigram_frac == 0.0


def test_lsh_max_bucket_guards_degenerate_buckets(spark):
    """The 100 TB hot-bucket guard: a band value shared by b documents
    emits b(b-1)/2 candidate pairs, so one degenerate bucket (here: 40
    IDENTICAL documents whose every band collides) turns the bucket
    join quadratic.  With max_bucket the oversized buckets are excluded
    before the self-join; genuinely similar pairs in small buckets
    still come through, and default None preserves classic semantics."""
    from barberini_analytics_spark.operators.dedup import (
        minhash_signatures, lsh_candidate_pairs, word_shingles)

    boiler = "the same boilerplate text repeated across every mirror page"
    distinct = ("an unusual sentence about cadmium pigments in painting "
                "restoration workflows")
    rows = [(i, boiler) for i in range(40)]
    rows += [(100, distinct), (101, distinct + " extended")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(word_shingles(df, "doc_id"), "doc_id")

    classic = lsh_candidate_pairs(sigs, "doc_id", bands=4).collect()
    classic_pairs = {(r.id_a, r.id_b) for r in classic}
    assert (100, 101) in classic_pairs
    assert len(classic_pairs) >= 40 * 39 / 2          # quadratic blow-up

    capped = lsh_candidate_pairs(sigs, "doc_id", bands=4,
                                 max_bucket=10).collect()
    capped_pairs = {(r.id_a, r.id_b) for r in capped}
    assert (100, 101) in capped_pairs                 # small bucket kept
    assert not any(a < 100 and b < 100 for a, b in capped_pairs), (
        "hot-bucket pairs leaked through the cap")


def test_srp_max_bucket_guards_degenerate_buckets(spark):
    """Same guard on the embedding side: a dense region (here 30
    IDENTICAL vectors) floods every band bucket; with max_bucket those
    buckets are excluded while a genuinely similar small pair
    survives."""
    import numpy as np

    from barberini_analytics_spark.operators.similarity import (
        srp_candidate_pairs)

    rng = np.random.default_rng(3)
    hot = [float(x) for x in rng.normal(0, 1, 64)]
    a = [float(x) for x in rng.normal(0, 1, 64)]
    b = [x + float(e) for x, e in zip(a, rng.normal(0, 0.01, 64))]
    rows = [(i, hot) for i in range(30)] + [(100, a), (101, b)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    classic = {(r.id1, r.id2) for r in srp_candidate_pairs(df).collect()}
    assert (100, 101) in classic
    assert len(classic) >= 30 * 29 / 2

    capped = {(r.id1, r.id2)
              for r in srp_candidate_pairs(df, max_bucket=10).collect()}
    assert (100, 101) in capped
    assert not any(i < 100 and j < 100 for i, j in capped)


# ---------------------------------------------------------------------------
# exact substring-span dedup (Lee et al. 2021 grain)
# ---------------------------------------------------------------------------

def _span_rows(spark, docs, k):
    from barberini_analytics_spark.operators.dedup import dedup_spans

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    return {r.doc_id: r for r in dedup_spans(df, "doc_id", k=k).collect()}


def test_dedup_spans_removes_copied_passage_exactly(spark):
    # doc b embeds tokens 5..16 of doc a (12 tokens) inside unique text;
    # block-grain segment dedup would miss this (the copy starts mid-block)
    a = [f"w{i}" for i in range(20)]
    b = ["x0", "x1", "x2"] + a[5:17] + ["y0", "y1"]
    out = _span_rows(spark, [("a", " ".join(a)), ("b", " ".join(b)),
                             ("c", "entirely unrelated tokens only")], k=8)
    # keep-first: the original is untouched
    assert out["a"].n_dup_spans == 0
    assert out["a"].text_span_deduped == " ".join(a)
    # the copy is removed at its exact 12-token extent, nothing more
    assert out["b"].n_dup_spans == 1
    assert out["b"].n_dup_span_tokens == 12
    assert out["b"].n_dup_kgrams == 12 - 8 + 1
    assert out["b"].text_span_deduped == "x0 x1 x2 y0 y1"
    assert out["c"].n_dup_spans == 0


def test_dedup_spans_straddling_block_boundary_caught(spark):
    # the case that motivates span grain: a 10-token copy placed so it
    # straddles a 10-token block boundary in the copying doc — block-grain
    # dedup_segments sees no duplicate block, span dedup sees the copy
    from barberini_analytics_spark.operators.dedup import dedup_segments

    a = [f"a{i}" for i in range(30)]
    copied = a[0:10]
    b = [f"b{i}" for i in range(5)] + copied + [f"c{i}" for i in range(5)]
    docs = [("a", " ".join(a)), ("b", " ".join(b))]
    seg = {r.doc_id: r for r in dedup_segments(
        spark.createDataFrame(docs, ["doc_id", "text"]),
        "doc_id", tokens_per_segment=10).collect()}
    assert seg["b"].n_kept_first == seg["b"].n_segments  # blocks blind
    out = _span_rows(spark, docs, k=10)
    assert out["b"].n_dup_spans == 1
    assert out["b"].n_dup_span_tokens == 10
    assert out["b"].text_span_deduped == \
        " ".join([f"b{i}" for i in range(5)] + [f"c{i}" for i in range(5)])


def test_dedup_spans_adjacent_and_overlapping_hits_merge(spark):
    # two copied passages separated by ONE unique token stay two spans;
    # back-to-back copies merge into one maximal span
    a = [f"s{i}" for i in range(8)]
    b = [f"t{i}" for i in range(8)]
    gap_doc = a + ["u0"] + b                   # two spans
    fused_doc = a + b                          # one maximal span
    # keep-first is global (doc_id, pos) order — name originals so they
    # sort first
    out = _span_rows(spark, [
        ("a1", " ".join(a)), ("a2", " ".join(b)),
        ("gap", " ".join(gap_doc)), ("fused", " ".join(fused_doc)),
    ], k=8)
    assert out["gap"].n_dup_spans == 2
    assert out["gap"].n_dup_span_tokens == 16
    assert out["gap"].text_span_deduped == "u0"
    assert out["fused"].n_dup_spans == 1
    assert out["fused"].n_dup_span_tokens == 16
    assert out["fused"].text_span_deduped == ""


def test_dedup_spans_intra_document_repeat(spark):
    # a doc repeating its own opening: the SECOND occurrence is the dup
    a = [f"r{i}" for i in range(8)]
    doc = a + ["mid"] + a
    out = _span_rows(spark, [("solo", " ".join(doc))], k=8)
    assert out["solo"].n_dup_spans == 1
    assert out["solo"].n_dup_span_tokens == 8
    assert out["solo"].text_span_deduped == " ".join(a + ["mid"])


def test_dedup_spans_short_and_empty_docs_pass_through(spark):
    out = _span_rows(spark, [("short", "only three tokens"),
                             ("empty", "   ")], k=8)
    assert out["short"].n_dup_spans == 0
    assert out["short"].text_span_deduped == "only three tokens"
    assert out["empty"].n_dup_spans == 0
    assert out["empty"].text_span_deduped == ""


def test_dedup_spans_partitioning_invariant(spark):
    import random

    rng = random.Random(7)
    vocab = [f"v{i}" for i in range(40)]
    base = [" ".join(rng.choices(vocab, k=rng.randint(4, 30)))
            for _ in range(30)]
    # plant copies: doc i>=30 embeds a slice of doc i-30
    docs = [(f"d{i}", t) for i, t in enumerate(base)]
    docs += [(f"d{i + 30}", "pre " + t + " post") for i, t in enumerate(base)]
    df1 = spark.createDataFrame(docs, ["doc_id", "text"])
    df8 = df1.repartition(8)
    from barberini_analytics_spark.operators.dedup import dedup_spans

    r1 = {tuple(r) for r in dedup_spans(df1, "doc_id", k=5).collect()}
    r8 = {tuple(r) for r in dedup_spans(df8, "doc_id", k=5).collect()}
    assert r1 == r8


def test_dedup_spans_drop_all_policy(spark):
    """policy='drop_all' is the paper's exact semantics: EVERY copy of
    a corpus-repeated passage goes, including the first occurrence."""
    from barberini_analytics_spark.operators.dedup import dedup_spans

    a = [f"w{i}" for i in range(8)]
    docs = spark.createDataFrame([
        ("a1", " ".join(a + ["tail1"])),
        ("b1", " ".join(["head2"] + a)),
        ("c1", " ".join(f"u{i}" for i in range(10))),
    ], ["doc_id", "text"])
    out = {r.doc_id: r for r in
           dedup_spans(docs, "doc_id", k=8, policy="drop_all").collect()}
    assert out["a1"].text_span_deduped == "tail1"     # first copy ALSO cut
    assert out["b1"].text_span_deduped == "head2"
    assert out["c1"].n_dup_spans == 0
    kept = {r.doc_id: r for r in
            dedup_spans(docs, "doc_id", k=8).collect()}
    assert kept["a1"].text_span_deduped == " ".join(a + ["tail1"])
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dedup_spans(docs, "doc_id", k=8, policy="nope").collect()


def test_planted_span_corpus_ground_truth(spark):
    """The scale-curve generator's planted duplication is exactly what
    span dedup must find: one span per carrier document after each
    template's global first occurrence, at the exact passage extent —
    the invariant the bench/SCALE.md curves rely on to call a run
    correct, not just fast."""
    from pyspark.sql import functions as F

    from barberini_analytics_spark.core.synthdata import planted_span_corpus
    from barberini_analytics_spark.operators.dedup import dedup_spans

    n_docs, n_templates, passage = 2_000, 100, 30
    corpus = planted_span_corpus(spark, n_docs, n_templates=n_templates,
                                 passage_tokens=passage)
    agg = dedup_spans(corpus, "doc_id", k=20).agg(
        F.sum("n_dup_spans").alias("spans"),
        F.sum("n_dup_span_tokens").alias("cut"),
        F.max("n_dup_span_tokens").alias("max_cut")).first()
    planted = n_docs // 10 - n_templates  # carriers minus global firsts
    assert agg["spans"] == planted
    # extents are the planted passage, except the rare boundary bleed:
    # two same-template carriers whose hash-scattered filler happens to
    # agree on the token right at a passage edge extend that span by
    # one (~pairs/vocab per edge — single digits per 100k docs, kept
    # because a collision-free vocabulary would de-realism the corpus)
    assert planted * passage <= agg["cut"] <= int(planted * passage * 1.01)
    assert passage <= agg["max_cut"] <= 2 * passage
    # k above the passage length finds nothing (filler never repeats)
    none = dedup_spans(corpus, "doc_id", k=40).agg(
        F.sum("n_dup_spans")).first()[0]
    assert none == 0


def test_hot_bucket_corpus_shape(spark):
    """One degenerate bucket of n/20 identical docs, everything else
    unique — the geometry the LSH max_bucket guard is measured on."""
    from pyspark.sql import functions as F

    from barberini_analytics_spark.core.synthdata import hot_bucket_corpus

    corpus = hot_bucket_corpus(spark, 400)
    counts = (corpus.groupBy("text").count()
              .agg(F.max("count").alias("mx"),
                   F.count(F.lit(1)).alias("distinct_texts")).first())
    assert counts["mx"] == 20          # 400/20 identical members
    assert counts["distinct_texts"] == 381  # 380 unique + 1 boilerplate


def test_cumulative_shuffle_bytes_observes_an_exchange(spark):
    """The AppStatusStore probe must move when a shuffle runs and not
    when a map-only job runs — the property the bench's per-run
    shuffle-byte deltas depend on."""
    from pyspark.sql import functions as F

    from barberini_analytics_spark.core.metrics import (
        cumulative_shuffle_bytes)

    base = cumulative_shuffle_bytes(spark)
    assert isinstance(base, int) and base >= 0
    spark.range(200_000).select(F.col("id") * 2).write \
        .format("noop").mode("overwrite").save()
    after_map = cumulative_shuffle_bytes(spark)
    spark.range(200_000).groupBy(F.pmod("id", F.lit(1000)).alias("k")) \
        .count().write.format("noop").mode("overwrite").save()
    after_shuffle = cumulative_shuffle_bytes(spark)
    assert after_map == base, "map-only job must not add shuffle bytes"
    assert after_shuffle > after_map, "groupBy must add shuffle bytes"
