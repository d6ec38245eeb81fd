"""Corpus-curation query inventory: the pre-training data-governance
steps a 100 TB pipeline runs between dedup and shard-writing —
benchmark decontamination, and the per-document governance record
(Gopher quality rules + exact-quota stratified sampling + temperature
mixture).  SemDeDup rides in ``embedding_dbscan_clusters`` (ml_queries)
at vector grain.

Everything is hash-checked against DuckDB: shingle containment is
re-derived bit-exactly, the governance signals are exact integer
divisions, and the mixture plan's tiny cross-source normalization sums
are rounded on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.io import load_table
from ..operators import curation as C
from ..operators import dedup as D
from ..operators import text as X
from .registry import query

#: deterministic eval-set carve-out for the contamination screen: every
#: 37th document plays the held-out benchmark.  In production the eval
#: side is the real benchmark suite (MMLU/GSM8K/... dumps) — tiny either
#: way, which is what lets the eval shingle table broadcast.
_EVAL_MOD = 37
_DECON_K = 3
_DECON_MIN = 0.1

#: SemDeDup threshold, calibrated to the synthetic embeddings (labels
#: are sampling strata, not geometric clusters; within-label cosines
#: top out near 0.45, so production's 0.95 would be a vacuous 0-row
#: check).  The POLICY under test — within-cluster pairs, lowest-id
#: domination, total keep/drop map — is threshold-independent.
_SEM_TAU = 0.3


@query(
    "benchmark_decontamination",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        FROM documents
    ),
    sh AS (
        SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(w) >= {_DECON_K}
                 THEN [array_to_string(w[i:i+{_DECON_K - 1}], ' ')
                       for i in generate_series(1, len(w) - {_DECON_K - 1})]
                 ELSE [array_to_string(w, ' ')] END)) AS shingle
        FROM toks
    ),
    ev AS (SELECT doc_id AS eval_id, shingle FROM sh
           WHERE doc_id % {_EVAL_MOD} = 0),
    tr AS (SELECT doc_id AS train_id, shingle FROM sh
           WHERE doc_id % {_EVAL_MOD} <> 0),
    evsz AS (SELECT eval_id, count(*) AS n_ev FROM ev GROUP BY 1),
    shared AS (
        SELECT train_id, eval_id, CAST(count(*) AS BIGINT) AS n_shared
        FROM tr JOIN ev USING (shingle) GROUP BY 1, 2
    )
    SELECT train_id, eval_id, n_shared,
           CAST(n_shared AS DOUBLE) / n_ev AS eval_containment
    FROM shared JOIN evsz USING (eval_id)
    WHERE CAST(n_shared AS DOUBLE) / n_ev >= {_DECON_MIN}
    """,
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen (operators/dedup.cross_corpus_overlap):
    flag training documents containing ≥10% of an eval document's 3-gram
    shingles — the n-gram decontamination pass (GPT-3 appendix C / Dolma
    style) run before an LLM training corpus ships.

    Shape: shingle both corpora, broadcast the (tiny) eval shingle table,
    join on the shingle string, count per (train, eval) pair.  The only
    corpus-sized shuffle is the per-pair count; no doc×doc comparison
    exists anywhere.  ``eval_containment`` is an exact int/int division —
    bit-identical across engines, no rounding needed.

    Parity: reference has no decontamination (museum-domain engine);
    this is part of the LLM-training extension family
    (cf. ``cross_corpus_overlap``, SURVEY §2 extension table).
    """
    docs = load_table(spark, sf_dir, "documents")
    evalset = docs.filter(F.col("doc_id") % _EVAL_MOD == 0)
    train = docs.filter(F.col("doc_id") % _EVAL_MOD != 0)
    return D.cross_corpus_overlap(train, evalset, "doc_id",
                                  k=_DECON_K, min_overlap=_DECON_MIN)


_GOPHER_SW_SQL = ", ".join(
    f"'{w}'" for w in
    ("the", "be", "to", "of", "and", "that", "have", "with"))

_STRAT_FRAC = 0.3
#: per-stratum override exercising the ``fractions`` argument: German
#: src0 documents are kept in full (the "keep 100% of books" use)
_STRAT_KEEP_ALL = ("de", "src0")


@query(
    "corpus_quality_governance",
    oracle=rf"""
    WITH base AS (
        SELECT doc_id, lang, source, text,
               string_split_regex(trim(lower(text)), '\s+') AS w,
               list_filter(list_transform(string_split(text, chr(10)),
                                          x -> trim(x)),
                           x -> x <> '') AS lines
        FROM documents
    ),
    grams AS (
        SELECT doc_id, w, lines,
               CASE WHEN len(w) >= 2
                    THEN [w[i] || ' ' || w[i + 1]
                          for i in generate_series(1, len(w) - 1)]
                    ELSE [] END AS bi,
               CASE WHEN len(w) >= 3
                    THEN [w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
                          for i in generate_series(1, len(w) - 2)]
                    ELSE [] END AS tri,
               length(text) - length(replace(text, '#', '')) AS n_hash,
               (length(text) - length(replace(text, '...', ''))) / 3
                   AS n_ell
        FROM base
    ),
    sig AS (
        SELECT doc_id,
               CAST(len(w) AS INT) AS n_words,
               CASE WHEN len(w) > 0 THEN
                   CAST(list_sum(list_transform(w, x -> length(x)))
                        AS DOUBLE) / len(w) END AS mean_word_len,
               CASE WHEN len(w) > 0 THEN
                   CAST(n_hash + n_ell AS DOUBLE) / len(w) END
                   AS symbol_word_ratio,
               CASE WHEN len(w) > 0 THEN
                   CAST(len(list_filter(w,
                        x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                   / len(w) END AS alpha_word_frac,
               CASE WHEN len(lines) > 0 THEN
                   CAST(len(list_filter(lines,
                        l -> regexp_matches(l, '^[-*•] '))) AS DOUBLE)
                   / len(lines) END AS bullet_line_frac,
               CASE WHEN len(lines) > 0 THEN
                   CAST(len(list_filter(lines,
                        l -> regexp_matches(l, '(\.\.\.|…)$'))) AS DOUBLE)
                   / len(lines) END AS ellipsis_line_frac,
               CAST(len(list_filter([{_GOPHER_SW_SQL}],
                    s -> list_contains(w, s))) AS INT) AS stopword_hits,
               CASE WHEN len(bi) > 0 THEN
                   CAST(list_max(list_transform(list_distinct(bi),
                        t -> len(list_filter(bi, x -> x = t)))) AS DOUBLE)
                   / len(bi) END AS top_bigram_frac,
               CASE WHEN len(tri) > 0 THEN
                   1.0 - CAST(len(list_distinct(tri)) AS DOUBLE)
                   / len(tri) END AS dup_trigram_frac
        FROM grams
    ),
    rules AS (
        SELECT *,
               coalesce(n_words BETWEEN 50 AND 100000, FALSE)
                   AS rule_word_count,
               coalesce(mean_word_len BETWEEN 3 AND 10, FALSE)
                   AS rule_mean_word_len,
               coalesce(symbol_word_ratio <= 0.1, FALSE)
                   AS rule_symbol_ratio,
               coalesce(alpha_word_frac >= 0.8, FALSE)
                   AS rule_alpha_words,
               coalesce(bullet_line_frac, 0) <= 0.9 AS rule_bullets,
               coalesce(ellipsis_line_frac, 0) <= 0.3 AS rule_ellipsis,
               coalesce(stopword_hits >= 2, FALSE) AS rule_stopwords,
               coalesce(top_bigram_frac, 0) <= 0.18 AS rule_top_bigram,
               coalesce(dup_trigram_frac, 0) <= 0.30 AS rule_dup_trigram
        FROM sig
    ),
    samp AS (
        SELECT doc_id,
               CAST(ceil(frac * n) AS BIGINT) AS stratum_quota,
               rnk <= ceil(frac * n) AS in_sample
        FROM (
            SELECT doc_id, frac,
                   row_number() OVER (PARTITION BY lang, source
                                      ORDER BY hk, doc_id) AS rnk,
                   count(*) OVER (PARTITION BY lang, source) AS n
            FROM (
                SELECT doc_id, lang, source,
                       CAST(('0x' || substring(
                           md5(CAST(doc_id AS VARCHAR)), 1, 14))
                           AS BIGINT) AS hk,
                       CASE WHEN lang = '{_STRAT_KEEP_ALL[0]}'
                                 AND source = '{_STRAT_KEEP_ALL[1]}'
                            THEN 1.0 ELSE {_STRAT_FRAC} END AS frac
                FROM documents))
    ),
    per_src AS (
        SELECT source, CAST(sum(len(w)) AS BIGINT) AS n_tokens
        FROM base GROUP BY 1
    ),
    z AS (SELECT sum(sqrt(CAST(n_tokens AS DOUBLE))) AS z FROM per_src),
    mix AS (
        SELECT source,
               round(sqrt(CAST(n_tokens AS DOUBLE)) / z, 6) AS src_weight,
               round(sqrt(CAST(n_tokens AS DOUBLE)) / z * 1000000, 3)
                   AS src_target_tokens,
               round(sqrt(CAST(n_tokens AS DOUBLE)) / z * 1000000
                     / n_tokens, 6) AS src_epochs
        FROM per_src CROSS JOIN z
    )
    SELECT b.doc_id, b.lang, b.source,
           r.n_words, r.mean_word_len, r.symbol_word_ratio,
           r.alpha_word_frac, r.bullet_line_frac, r.ellipsis_line_frac,
           r.stopword_hits, r.top_bigram_frac, r.dup_trigram_frac,
           r.rule_word_count, r.rule_mean_word_len, r.rule_symbol_ratio,
           r.rule_alpha_words, r.rule_bullets, r.rule_ellipsis,
           r.rule_stopwords, r.rule_top_bigram, r.rule_dup_trigram,
           (r.rule_word_count AND r.rule_mean_word_len
            AND r.rule_symbol_ratio AND r.rule_alpha_words
            AND r.rule_bullets AND r.rule_ellipsis AND r.rule_stopwords
            AND r.rule_top_bigram AND r.rule_dup_trigram) AS keep,
           s.stratum_quota, s.in_sample,
           m.src_weight, m.src_target_tokens, m.src_epochs
    FROM base b
    JOIN rules r USING (doc_id)
    JOIN samp s USING (doc_id)
    JOIN mix m ON m.source = b.source
    """,
)
def corpus_quality_governance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation decision record: three governance families
    at document grain in ONE frame (consolidated because the driver
    records at most 50 registry entries; each operator keeps its own
    unit tests):

    - **Gopher rule filter** (operators/text.gopher_quality_filter) —
      the published Rae et al. 2021 table-A1 gates: word-count and
      mean-word-length bounds, symbol-to-word ratio, alphabetic-word
      fraction, bullet/ellipsis line fractions, 8-word stopword
      presence, two repetition ceilings — per-rule booleans plus the
      composed ``keep`` verdict, all map-only codegen;
    - **exact-quota stratified sampling** (operators/curation.
      stratified_sample, ``flag_only`` audit form) — deterministic
      56-bit hash order, ``ceil(frac×n)`` per (lang, source) stratum,
      with a per-stratum keep-all override; membership itself is
      hash-checked;
    - **temperature mixture** (operators/text.temperature_mixture) —
      α=0.5 per-source sampling weights / token allocation / epochs
      under a 1M-token budget, denormalized onto each document through
      the source join (so the join is checked too).

    This is the row a 100 TB curation pipeline materializes per
    document before shard-writing: quality verdict + sample membership
    + mixture weight, one scan + one stratum window + two tiny
    broadcast aggregates.  Reference has no corpus governance (museum
    domain) — SURVEY "beyond the reference" charter families.
    """
    from ..core.cache import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    # persisted: the governance select AND the mixture aggregate both
    # consume the gopher frame — without the persist Catalyst recomputes
    # the full text scan + HOF signal chain per consumer (at 100 TB the
    # text scan is the dominant cost; the persisted rows are the narrow
    # signal scalars after column pruning)
    # re-spread before the HOF signal chain: the local single-row-group
    # parquet is unsplittable, so the gopher scan otherwise runs in ONE
    # task (measured 3.1 s serial vs 0.9 s spread at sf0.1 — the
    # _spread() pattern from the ingest parses; production parquet
    # splits by row group and would not need it)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    gq = scoped_persist(
        X.gopher_quality_filter(docs.repartition(n_parts))
        .drop("tokens", "text"))
    # the sampling pass reads only (doc_id, lang, source) — its scan is
    # column-pruned to three narrow columns, so a second scan is cheap
    samp = C.stratified_sample(
        docs, ["lang", "source"], _STRAT_FRAC, "doc_id",
        fractions={_STRAT_KEEP_ALL: 1.0}, flag_only=True,
    ).select("doc_id", "stratum_quota", "in_sample")
    # the mixture's token counts REUSE the gopher frame's n_words (same
    # whitespace tokenization) instead of re-scanning the text column
    with_tok = gq.select("source", F.col("n_words").alias("n_tok"))
    mix = X.temperature_mixture(
        with_tok, "source", "n_tok", alpha=0.5, token_budget=1_000_000,
    ).select("source", F.col("weight").alias("src_weight"),
             F.col("target_tokens").alias("src_target_tokens"),
             F.col("epochs").alias("src_epochs"))
    return (
        gq.select(
            "doc_id", "lang", "source", "n_words", "mean_word_len",
            "symbol_word_ratio", "alpha_word_frac", "bullet_line_frac",
            "ellipsis_line_frac", "stopword_hits", "top_bigram_frac",
            "dup_trigram_frac", "rule_word_count", "rule_mean_word_len",
            "rule_symbol_ratio", "rule_alpha_words", "rule_bullets",
            "rule_ellipsis", "rule_stopwords", "rule_top_bigram",
            "rule_dup_trigram", "keep")
        .join(samp, "doc_id")
        .join(F.broadcast(mix), "source")
        .select(
            "doc_id", "lang", "source", "n_words", "mean_word_len",
            "symbol_word_ratio", "alpha_word_frac", "bullet_line_frac",
            "ellipsis_line_frac", "stopword_hits", "top_bigram_frac",
            "dup_trigram_frac", "rule_word_count", "rule_mean_word_len",
            "rule_symbol_ratio", "rule_alpha_words", "rule_bullets",
            "rule_ellipsis", "rule_stopwords", "rule_top_bigram",
            "rule_dup_trigram", "keep", "stratum_quota", "in_sample",
            "src_weight", "src_target_tokens", "src_epochs")
    )
