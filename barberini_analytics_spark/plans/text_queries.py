"""Text-analysis query inventory (tokenizer, n-grams, quality, language ID,
fingerprinting, token counting) over the ``documents`` table — SURVEY §2.10
M1/M2 plus the training-data-pipeline text operators.

Consolidated to two frames so the correctness driver's ~50-query window
covers every component: ``document_token_ngrams`` pins the token/adjacency
grain (M1+M2/J7), ``document_profile`` pins the per-document scalar ops
(quality, language ID, fingerprint, token counts) in one scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.io import load_table
from ..operators import text as X
from .registry import query

# Shared oracle fragment: tokenized documents with 1-based continuous word
# index (document texts carry no sentence punctuation, so sentence_index=1 —
# multi-sentence behavior is pinned by unit tests on crafted fixtures).
_TOK_CTE = r"""
    toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        FROM documents
    ),
    tok AS (
        SELECT doc_id,
               generate_subscripts(w, 1) AS word_index,
               unnest(w) AS word,
               1 AS sentence_index
        FROM toks
    )
"""

_STOPWORDS = ("a", "the")
_SW_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)

#: token budget per training shard for the packing column of
#: ``document_profile`` (small so even sf0.001 yields multiple shards)
_SHARD_TARGET_TOKENS = 2000


@query(
    "document_token_ngrams",
    oracle=f"""
    WITH {_TOK_CTE},
    grams AS (
        SELECT doc_id, 1 AS n, CAST(word_index AS INT) AS word_index,
               word AS phrase, CAST(sentence_index AS INT) AS sentence_index,
               word IN ({_SW_SQL}) AS is_stopword
        FROM tok WHERE word <> ''
        UNION ALL
        SELECT doc_id, 2 AS n, CAST(word_index AS INT) AS word_index,
               phrase, CAST(sentence_index AS INT) AS sentence_index,
               FALSE AS is_stopword
        FROM (
            SELECT doc_id, word_index, sentence_index,
                   word || ' ' || lead(word) OVER (
                       PARTITION BY doc_id, sentence_index ORDER BY word_index
                   ) AS phrase
            FROM tok
        ) WHERE phrase IS NOT NULL AND phrase LIKE '% %'
    ),
    tfidf_tf AS (
        SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        FROM tok WHERE word <> '' GROUP BY doc_id, word
    ),
    tfidf_df AS (
        SELECT word, CAST(count(*) AS BIGINT) AS dfreq
        FROM tfidf_tf GROUP BY word
    ),
    tfidf_n AS (
        SELECT count(DISTINCT doc_id) AS n_docs FROM tfidf_tf
    ),
    tfidf_scored AS (
        SELECT t.doc_id, t.word,
               round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.dfreq), 6) AS s
        FROM tfidf_tf t JOIN tfidf_df d USING (word) CROSS JOIN tfidf_n n
    ),
    tfidf_ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY s DESC, word ASC) AS rn
        FROM tfidf_scored
    ),
    tfidf_top AS (
        SELECT doc_id, string_agg(word, '|' ORDER BY rn) AS tfidf_top3
        FROM tfidf_ranked WHERE rn <= 3 GROUP BY doc_id
    ),
    lmtxt AS (
        SELECT doc_id, lower(trim(text)) AS lt FROM documents
    ),
    lmtri AS (
        SELECT doc_id, unnest(list_transform(
            generate_series(1, length(lt) - 2),
            i -> substring(lt, CAST(i AS INT), 3))) AS tri
        FROM lmtxt WHERE length(lt) >= 3
    ),
    lmc3 AS (SELECT tri, count(*) AS c3 FROM lmtri GROUP BY tri),
    lmc2 AS (
        SELECT substring(tri, 1, 2) AS pre, sum(c3) AS c2
        FROM lmc3 GROUP BY 1
    ),
    lmv AS (SELECT count(DISTINCT substring(tri, 3, 1)) AS v FROM lmc3),
    lmmodel AS (
        SELECT tri, ln((c3 + 1.0) / (c2 + 1.0 * v)) AS logp
        FROM lmc3 JOIN lmc2 ON substring(lmc3.tri, 1, 2) = lmc2.pre
        CROSS JOIN lmv
    ),
    lmscore AS (
        SELECT t.doc_id, round(-avg(m.logp), 6) AS lm_score
        FROM lmtri t JOIN lmmodel m USING (tri) GROUP BY t.doc_id
    )
    SELECT g.*, t.tfidf_top3, l.lm_score
    FROM grams g JOIN tfidf_top t USING (doc_id)
    LEFT JOIN lmscore l USING (doc_id)
    """,
)
def document_token_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 tokenizer + M2 n-grams in one frame.

    The ``n = 1`` rows are exactly the token table — (doc_id, word_index,
    word, sentence_index) with 1-based continuous word numbering, matching
    the reference's ``post_word`` PK (src/absa/post_words.py:150-231,
    migration_014.sql:11-17).  The ``n = 2`` rows are the sentence-bounded
    bigrams the reference builds with an n-way self-join
    (src/absa/post_ngrams.py:111-168) — here one ``lead`` window (J7 →
    window rewrite, SURVEY §2.6).  The reference's stopword anti-join
    (post_ngrams.py:149-152) is carried as the hash-checked
    ``is_stopword`` flag so the unigram stream stays the complete token
    table; consumers filter ``NOT is_stopword``.

    The joined ``tfidf_top3`` digest ('|'-joined top-3 keywords by
    rounded ``tf·ln(N/df)``, word tie-break) hash-checks the
    training-pipeline keyword extractor ``text.tfidf_top_terms`` — two
    hash aggregates + a per-doc rank window, N via a 1-row broadcast
    aggregate so the plan stays lazy.  The joined ``lm_score``
    hash-checks ``text.ngram_lm_score`` — the char-trigram LM
    cross-entropy quality gate (add-1 smoothing, self-trained corpus
    model, rounded to 6 decimals for engine portability).
    """
    from ..core.cache import scoped_persist
    from .ingest_queries import _spread

    # the token explode feeds grams AND the tfidf branch; persist it once
    # (re-spread first: the single-row-group local parquet is unsplittable)
    docs = _spread(load_table(spark, sf_dir, "documents"))
    tokens = scoped_persist(X.tokenize(docs, ["doc_id"]))
    grams = X.ngrams(tokens, ["doc_id"], [1, 2], stopwords=())
    sw = F.array(*[F.lit(s) for s in _STOPWORDS])
    out = grams.select(
        "doc_id", F.col("n").cast("int").alias("n"),
        F.col("word_index").cast("int").alias("word_index"),
        "phrase", F.col("sentence_index").cast("int").alias("sentence_index"),
        ((F.col("n") == 1) & F.array_contains(sw, F.col("phrase")))
        .alias("is_stopword"),
    )
    top3 = X.tfidf_top_terms(tokens, k=3, out_col="tfidf_top3")
    # per-doc char-trigram LM cross-entropy (the CCNet perplexity-filter
    # stand-in): model = one alphabet³-bounded broadcast aggregate
    lm = X.ngram_lm_score(docs).select("doc_id", "lm_score")
    # Join the two doc-grained digests into ONE dim first: chained
    # joins made Catalyst broadcast the 540k-row gram UNION (its IMR
    # stats undercut the digests' default-width estimates) and
    # sort-merge the lm side — a full sort of the gram stream per run.
    # r14: the r13 `scoped_persist + dims.count()` plan-build barrier
    # (a per-run job that materializes the whole tfidf+lm digest
    # pipeline BEFORE the timed action, and is doc-grained — it grows
    # with the corpus) is replaced by the catalog-warm `measured_hint`,
    # exactly as `dfreq` inside tfidf_top_terms: a catalog hit applies
    # the stored bytes with ZERO jobs and the dim materializes lazily
    # inside the action; a miss measures once per corpus version.  At
    # bench scale the stored bytes broadcast the ~5k-row dim, at corpus
    # scale they exceed the threshold and the join degrades to the
    # partitioned plan.  The lm side's driver-folded trigram model is a
    # LocalRelation whose rows are digested into the fingerprint, so the
    # dim is content-stable and its key is reproducible across sessions.
    # Runtime selection (AQE) alone is not enough here: with the hint
    # dropped, the sf0.1 final plan broadcasts the gram stream (ROADMAP
    # item 4).
    from ..core.stats import measured_hint

    dims, _ = measured_hint(top3.join(lm, "doc_id", "left"))
    return out.join(dims, "doc_id")


# BPE-ish pre-tokenizer pattern (GPT-2 style, minus the \s+(?!\S) lookahead
# so the same pattern runs on Java regex AND DuckDB's RE2): contractions,
# optionally space-prefixed letter runs / digit runs / symbol runs.
_BPE_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"
_BPE_SQL = _BPE_PATTERN.replace("'", "''")


def _lex_sql(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


@query(
    "document_profile",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, lang, text,
               string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM documents
    ), h AS (
        SELECT *,
               len(list_filter(toks, x -> list_contains({_lex_sql(X.LANG_LEXICONS['de'])}, x))) AS h_de,
               len(list_filter(toks, x -> list_contains({_lex_sql(X.LANG_LEXICONS['en'])}, x))) AS h_en,
               len(list_filter(toks, x -> list_contains({_lex_sql(X.LANG_LEXICONS['es'])}, x))) AS h_es,
               len(list_filter(toks, x -> list_contains({_lex_sql(X.LANG_LEXICONS['fr'])}, x))) AS h_fr
        FROM t
    )
    SELECT doc_id, lang,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           CAST(len(list_filter(toks, x -> x IN ({_SW_SQL}))) AS BIGINT)
               AS n_stopwords,
           CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / len(toks)
               AS mean_token_len,
           CAST(len(list_filter(toks, x -> x IN ({_SW_SQL}))) AS DOUBLE) / len(toks)
               AS stopword_ratio,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / length(text) AS alpha_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
           CASE WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                ELSE 'fr' END AS predicted_lang,
           CAST(('0x' || substring(md5(array_to_string(toks, ' ')), 1, 14))
               AS BIGINT) AS fingerprint,
           CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS ws_tokens,
           CAST(length(regexp_extract_all(text, '{_BPE_SQL}'))
               AS BIGINT) AS bpe_tokens,
           CAST(list_max(list_transform(list_distinct(toks),
                    t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
               / len(toks) AS top_unigram_frac,
           CASE WHEN len(toks) > 1 THEN
               CAST(list_max(list_transform(
                        list_distinct(bi),
                        t -> len(list_filter(bi, x -> x = t)))) AS DOUBLE)
                   / len(bi) END AS top_bigram_frac,
           CASE WHEN len(toks) > 2 THEN
               1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri)
               END AS dup_trigram_frac,
           CASE WHEN length(text) >= 11 THEN
               CAST(len(wfp) AS BIGINT) END AS n_winnow_fp,
           CASE WHEN length(text) >= 11 THEN
               CAST(list_sum(wfp) AS BIGINT) END AS winnow_checksum,
           CAST(floor((sum(len(toks)) OVER (
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - len(toks)) / {_SHARD_TARGET_TOKENS}.0) AS BIGINT)
               AS token_shard,
           md5(array_to_string(list_transform(
                   range(0, CAST(floor(greatest(len(toks) - 5, 0) / 28.0)
                                 AS BIGINT) + 1),
                   k -> array_to_string(toks[k*28 + 1 : k*28 + 32], ' ')),
               '|')) AS chunks_digest
    FROM (
        SELECT *,
               list_sort(list_distinct(list_transform(
                   generate_series(1, greatest(length(text) - 8 - 4 + 2, 0)),
                   j -> list_min(kg[j:j + 3])))) AS wfp
        FROM (
            SELECT *,
                   list_transform(
                       generate_series(1, greatest(length(text) - 7, 0)),
                       i -> list_reduce(
                           [CAST(0 AS BIGINT)] || list_transform(
                               generate_series(i, i + 7),
                               p -> CAST(ascii(substring(text, p, 1))
                                         AS BIGINT)),
                           (a, b) -> (a * 257 + b) % 1000000007)) AS kg
            FROM (
        SELECT *,
               list_transform(generate_series(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1]) AS bi,
               list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
                   AS tri
        FROM h
    )
        )
    )
    """,
)
def document_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document profile: quality scoring + language ID + fingerprint +
    token counts — the training-data-pipeline per-document scalar ops in
    one codegen'd scan.

    - quality: exact integer counts, ratios as single divisions →
      engine-portable without rounding;
    - language ID: function-word argmax heuristic (reference analogue: the
      langdetect gate, src/topic_modeling.py:155-160); ties resolve to the
      lexicographically first language on both engines;
    - fingerprint: md5-derived 56-bit over whitespace-normalized text — the
      exact-dedup key;
    - token counts: whitespace tokens + BPE-ish regex pre-tokens (the
      corpus budget metric);
    - winnowed rolling-hash fingerprints (MOSS): Karp-Rabin k-gram hashes
      winnowed to window minima, hash-verified through an
      order-independent count + checksum of the fingerprint set.

    At 100 TB this is one map-only scan — no shuffle, (doc_id, ~15 scalars)
    per row leaving each task.  The local single-row-group parquet file is
    unsplittable, so the scan is explicitly re-spread here — per-row HOF
    work is this query's entire cost; on a real lake the scan parallelizes
    by row group and the repartition becomes unnecessary (but stays
    harmless: one tiny exchange).
    """
    from .ingest_queries import _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    # ALL scalar outputs are computed in ONE Arrow pass BEFORE shard
    # packing (operators/text.profile_features_arrow — the vectorized
    # rewrite of the quality/language/fingerprint/repetition/winnow
    # expression chain; its docstring carries the exactness contract and
    # tests/test_profile_arrow.py pins it against the expression path).
    # The packer's range shuffle + materialization then carries ~20
    # scalars per row, never the text/tokens/winnow arrays; at 100 TB
    # range-shuffling the text column to assign a shard id is exactly
    # the wasted exchange this avoids.
    scalars = X.profile_features_arrow(
        docs, id_cols=("doc_id", "lang"), stopwords=_STOPWORDS,
        bpe_pattern=_BPE_PATTERN)
    sharded = X.assign_token_shards(scalars, "n_tokens", "doc_id",
                                    _SHARD_TARGET_TOKENS,
                                    out_col="token_shard")
    return sharded.withColumn(
        "token_shard", F.col("token_shard").cast("long"))
