"""Text-analysis operators over document corpora.

Two client layers share these:

- the museum ABSA chain (reference ``src/absa/post_words.py`` /
  ``post_ngrams.py`` — tokenization, n-grams, stopword filtering), and
- the training-data pipeline ops (token counting, quality scoring,
  language ID, fingerprinting) that a 100 TB corpus needs.

Everything here is built from JVM-side ``pyspark.sql.functions`` — no Python
UDFs in any hot path: at corpus scale the tokenizer is a per-row regexp
pipeline inside whole-stage codegen, and the "hashes" are ``md5`` prefixes so
an external SQL engine (the correctness oracle) can reproduce them bit-exact.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..core.cache import FrameCache, scoped_persist
from ..core.catalog import fingerprint_is_content_stable, plan_fingerprint
from ..core.localrel import arrow_df

#: default stopword list for the synthetic corpus (the reference ships a
#: 176-word German list, data/stopwords.csv — swap in per deployment)
DEFAULT_STOPWORDS = ("a", "the")

#: tiny per-language function-word lexicons for the n-gram/stopword
#: language-ID heuristic (public-knowledge function words)
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht"),
    "es": ("el", "la", "de", "que", "y", "en", "un"),
    "fr": ("le", "la", "de", "et", "un", "une", "est"),
}


# ---------------------------------------------------------------------------
# M1 — tokenization (sentence + word split with stable indices)
# ---------------------------------------------------------------------------

def tokenize(df: DataFrame, id_cols: Sequence[str], text_col: str = "text",
             lowercase: bool = True) -> DataFrame:
    """Explode text into one row per word with 1-based word/sentence indices.

    Reference: the ABSA tokenizer ``src/absa/post_words.py:150-231``
    (sentence split, word split, lowercasing; indices are 1-based and the
    word index runs continuously across sentences — PK of ``post_word``,
    migration_014.sql:11-17).  The emoji/URL special cases of the reference
    live in :func:`barberini_analytics_spark.domain.absa_text.tokenize_posts`;
    this core operator pins the portable semantics: sentences split on
    ``[.!?]+``, words on whitespace.

    One ``posexplode`` per level — the plan stays a narrow pipeline
    (no shuffle) until the window that numbers words per document.
    """
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    sentences = F.split(text, r"[.!?]+\s*")
    out = (
        df.select(*id_cols, F.posexplode(sentences).alias("__spos", "__sentence"))
        .filter(F.trim(F.col("__sentence")) != "")
        .select(
            *id_cols,
            (F.col("__spos") + 1).alias("sentence_index"),
            F.posexplode(F.split(F.trim(F.col("__sentence")), r"\s+"))
            .alias("__wpos", "word"),
        )
        .filter(F.col("word") != "")
    )
    w = W.partitionBy(*id_cols).orderBy("sentence_index", "__wpos")
    return (
        out.withColumn("word_index", F.row_number().over(w))
        .select(*id_cols, "word_index", "word", "sentence_index")
    )


# ---------------------------------------------------------------------------
# M2 — contiguous n-grams (window-based, sentence-bounded)
# ---------------------------------------------------------------------------

def ngrams(tokens: DataFrame, id_cols: Sequence[str], n_values: Sequence[int],
           stopwords: Sequence[str] = DEFAULT_STOPWORDS) -> DataFrame:
    """Sentence-bounded contiguous n-grams from a tokenized frame.

    Reference: ``src/absa/post_ngrams.py:111-168`` builds n-grams with an
    n-way self-join on ``word_index + 1 = next.word_index``; the Spark plan
    uses ``lead(word, i)`` over one window — a single shuffle instead of n-1
    joins (SURVEY §2.4 J7).  Stopword unigrams are excluded, matching the
    reference's anti-join (post_ngrams.py:149-152); multi-word phrases keep
    interior stopwords, also matching.
    """
    w = (
        W.partitionBy(*id_cols, "sentence_index")
        .orderBy("word_index")
    )
    parts = []
    for n in n_values:
        phrase = F.concat_ws(
            " ", F.col("word"), *[F.lead("word", i).over(w) for i in range(1, n)]
        )
        last = F.lead("word", n - 1).over(w) if n > 1 else F.col("word")
        gram = (
            tokens.withColumn("phrase", phrase)
            .withColumn("__last", last)
            .filter(F.col("__last").isNotNull())
            .select(*id_cols, F.lit(n).alias("n"), "word_index",
                    "phrase", "sentence_index")
        )
        if n == 1 and stopwords:
            gram = gram.filter(~F.col("phrase").isin(*stopwords))
        parts.append(gram)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# token counting + quality scoring
# ---------------------------------------------------------------------------

def with_tokens(df: DataFrame, text_col: str = "text",
                out_col: str = "tokens") -> Column | DataFrame:
    """Lowercased whitespace tokens as an array column (no explode)."""
    return df.withColumn(
        out_col, F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    )


def quality_features(df: DataFrame, text_col: str = "text",
                     stopwords: Sequence[str] = DEFAULT_STOPWORDS) -> DataFrame:
    """Per-document quality signals for corpus filtering.

    The training-data-pipeline quality score: token count, mean token
    length, stopword ratio, alphabetic ratio, distinct-token ratio.  All
    ratios are exact integer divisions (engine-portable doubles) computed
    inside codegen — at 100 TB this is a single scan, no shuffle.
    """
    df = with_tokens(df, text_col)
    n_tokens = F.size("tokens")
    sw = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter("tokens", lambda t: F.array_contains(sw, t)))
    n_alpha = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", ""))
    return (
        df.withColumn("n_chars", F.length(text_col))
        .withColumn("n_tokens", n_tokens)
        .withColumn("n_distinct_tokens", F.size(F.array_distinct("tokens")))
        .withColumn("n_stopwords", n_stop)
        .withColumn(
            "mean_token_len",
            (F.length(F.regexp_replace(F.col(text_col), r"\s+", "")).cast("double")
             / n_tokens),
        )
        .withColumn("stopword_ratio", n_stop.cast("double") / n_tokens)
        .withColumn("alpha_ratio", n_alpha.cast("double") / F.length(text_col))
        .withColumn(
            "distinct_ratio",
            F.col("n_distinct_tokens").cast("double") / n_tokens,
        )
    )


# ---------------------------------------------------------------------------
# language identification (function-word heuristic)
# ---------------------------------------------------------------------------

def language_id(df: DataFrame, text_col: str = "text",
                lexicons: dict[str, Sequence[str]] | None = None,
                out_col: str = "predicted_lang") -> DataFrame:
    """Heuristic language ID: argmax of function-word hit counts.

    Reference analogue: ``langdetect`` gate in topic modeling
    (src/topic_modeling.py:155-160) — an external model there; here a
    deterministic, oracle-reproducible n-gram/function-word heuristic, which
    is also the honest baseline for corpus-scale language bucketing.
    Ties (incl. zero hits) resolve to the lexicographically first language,
    pinned deterministic.
    """
    lex = lexicons or LANG_LEXICONS
    df = with_tokens(df, text_col, "__tokens")
    scores = []
    def _hit_counter(arr):
        # NB: F.filter treats a 2-arg lambda as (element, index) — close over
        # the lexicon array instead of passing it as a defaulted parameter
        return F.size(F.filter("__tokens", lambda t: F.array_contains(arr, t)))

    for lang in sorted(lex):
        hits = _hit_counter(F.array(*[F.lit(t) for t in lex[lang]]))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    # argmax with ties → first language in sorted order: compare (hits, lang)
    # with lang ranked ascending by preferring earlier on equal hits
    best = scores[0]
    for s in scores[1:]:
        best = F.when(s["hits"] > best["hits"], s).otherwise(best)
    return df.withColumn(out_col, best["lang"]).drop("__tokens")


#: version of :func:`ngram_lm_score`'s driver-folded model (the trigram
#: coding, smoothing and fold), part of the model memo's key: bump it on
#: any change to how the model is derived.
NGRAM_LM_VERSION = "ngram-lm-2"

#: per-input model memo (a re-run over unchanged input collects nothing)
_LM_MODELS = FrameCache(max_entries=2)

_LOW21 = (1 << 21) - 1


def ngram_lm_score(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", add_k: float = 1.0,
                   out_col: str = "lm_score") -> DataFrame:
    """Character-trigram language-model surprisal per document — the
    model-free stand-in for the KenLM perplexity filter of CCNet-style
    quality gating: fluent (corpus-typical) text scores LOW, gibberish
    and outlier character sequences score HIGH.

    The LM is trained on the scored corpus itself in the same job:
    ``p(c₃ | c₁c₂) = (C₃(c₁c₂c₃) + k) / (C₂(c₁c₂) + k·V)`` with add-k
    smoothing, ``C₂`` derived from the trigram table (so the two counts
    are consistent by construction) and ``V`` = distinct third-character
    alphabet.  ``lm_score = round(-avg ln p, 6)`` over the document's
    trigram OCCURRENCES, i.e. its per-character cross-entropy under the
    corpus model; rounding makes the double portable to the DuckDB
    oracle.  Documents shorter than 3 characters get NULL.

    100 TB shape: the model is one hash aggregate whose result is
    bounded by the alphabet cubed — broadcast to the scoring join, so
    scoring is a map-side join + one per-document aggregate.  No UDFs
    and no Python worker: every step is a JVM expression.  The trigram
    frame feeds both the model counts and the scoring pass, so it is
    query-scope persisted (and re-spread first: without it Catalyst
    re-runs the explode per consumer, serially on an unsplittable
    single-row-group input).

    Each trigram travels as a BIJECTIVE int64 code: three code points
    ≤ U+10FFFF < 2²¹, packed ``cp₀<<42 | cp₁<<21 | cp₂`` (always
    positive).  ``split(s, '')`` splits on code points and ``ascii``
    returns a one-character string's code point (astral ones too); the
    document becomes one code-point array, and three shifted ``slice``s
    of it zipped and exploded once give every trigram in document order
    (2.6× faster than zipping the one-character strings: 100k docs,
    4 vCPUs), so the ``avg`` accumulates in the same order as any
    per-document loop would.  Documents shorter than 3 code points (and
    NULL text) emit no rows — the ``when`` guard also keeps ``slice``
    away from its negative-length error.  The code↔trigram map
    is bijective, so every count (C₃, C₂ via the top-42-bit prefix, V
    via the low-21-bit third char) equals its string-grain twin
    integer-for-integer — pinned against a string-sliced reference
    model in tests/test_operators.py.

    The model is folded on the driver from the collected ``C₃`` rows —
    bounded by the same alphabet³ argument that makes it broadcastable —
    and handed back as an Arrow-built ``LocalRelation``: zero jobs to
    broadcast, no Python worker, and a content fingerprint.  When the
    input's fingerprint determines its content (file and plan-embedded
    leaves), the model is memoized per (input, columns, ``add_k``,
    :data:`NGRAM_LM_VERSION`), so a re-run over unchanged input skips
    the collect.
    """
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                          "32"))
    chars = F.split(F.lower(F.trim(F.col(text_col))), "")
    cps = F.col("__cp")
    n = F.size(cps)
    tri = F.explode(F.when(n >= 3, F.arrays_zip(
        F.slice(cps, 1, n - 2), F.slice(cps, 2, n - 2),
        F.slice(cps, 3, n - 2)))).alias("__z")
    doc_tris = scoped_persist(
        df.repartition(n_part)
        .select(id_col, F.transform(chars, lambda c: F.ascii(c).cast("long"))
                .alias("__cp"))
        .select(id_col, tri)
        .select(id_col, F.shiftleft("__z.0", 42)
                .bitwiseOR(F.shiftleft("__z.1", 21))
                .bitwiseOR(F.col("__z.2")).alias("__tri")))

    def build() -> DataFrame:
        # Every fold is INTEGER-exact; ``log`` stays a Spark expression
        # over the exact ints, so the model doubles are bit-identical to
        # an aggregate-built twin (pinned by the hand-computed test).
        c3 = (doc_tris.groupBy("__tri").agg(F.count(F.lit(1)).alias("__c3"))
              .toArrow())
        # code order makes the LocalRelation's rows — and so its
        # fingerprint — independent of the aggregate's output order
        codes = c3.column("__tri").to_numpy()
        order = np.argsort(codes)
        codes, counts = codes[order], c3.column("__c3").to_numpy()[order]
        prefixes, inv = np.unique(codes >> 21, return_inverse=True)
        c2 = np.zeros(len(prefixes), dtype=np.int64)
        np.add.at(c2, inv, counts)
        v = len(np.unique(codes & _LOW21))
        return arrow_df(
            df.sparkSession, [codes, counts, c2[inv]],
            "__tri bigint, __c3 bigint, __c2 bigint",
        ).select(
            "__tri",
            F.log((F.col("__c3") + F.lit(add_k))
                  / (F.col("__c2") + F.lit(add_k) * F.lit(v)))
            .alias("__logp"))

    if fingerprint_is_content_stable(df):
        model = _LM_MODELS.get_or_build(
            (plan_fingerprint(df), id_col, text_col, add_k,
             NGRAM_LM_VERSION), build)
    else:
        model = build()
    scores = (
        doc_tris.join(F.broadcast(model), "__tri")
        .groupBy(id_col)
        .agg(F.round(-F.avg("__logp"), 6).alias(out_col))
    )
    return df.join(scores, id_col, "left")


# ---------------------------------------------------------------------------
# document fingerprinting (md5-derived 56-bit hash)
# ---------------------------------------------------------------------------

def tfidf_top_terms(tokens: DataFrame, k: int = 3, id_col: str = "doc_id",
                    word_col: str = "word",
                    out_col: str = "tfidf_terms") -> DataFrame:
    """Per-document top-``k`` TF-IDF keywords as a ``'|'``-joined digest.

    The classic two-aggregate shape: term frequency per (doc, word), then
    document frequency per word OVER the tf frame (already distinct per
    doc, so ``count(*)`` IS the document frequency — no countDistinct
    expand).  ``N`` comes from a 1-row broadcast aggregate cross-joined
    in, keeping the plan fully lazy.  Scores are ``round(tf · ln(N/df),
    6)`` — rounded BEFORE ranking so the (score DESC, word ASC) order is
    engine-portable (the DuckDB oracle hash-checks the digest inside
    ``document_token_ngrams``).

    Scale shape: two hash aggregates + one broadcast-keyed join on
    ``word`` + one per-doc window; nothing is driver-side.
    """
    # persist tf: it feeds THREE consumers (dfreq, the N-docs aggregate,
    # and the score join).  The broadcast-vs-merge decision on the word
    # join is owned by the measured hint on dfreq below — the document-
    # frequency table is vocab-sized, but its static estimate flows
    # through the token explode (fan-out invisible to size-only
    # estimation), which at corpus scale can statically plan a multi-GB
    # broadcast (same failure family as the span-dedup hit join; see
    # operators/dedup.py).  Measured bytes keep the bench-scale
    # broadcast win and drop it when vocab is big.
    tf = scoped_persist(
        tokens.filter(F.col(word_col) != "")
        .groupBy(id_col, word_col).agg(F.count("*").alias("__tf"))
    )
    # r13: the explicit tf.count() barrier is replaced by a catalog-warm
    # measured hint on the VOCAB side of the join — the side the
    # broadcast decision is actually about.  On a catalog miss the hint
    # persists+counts dfreq (materializing tf en route, so the barrier
    # cost is unchanged); on a hit it applies the stored bytes with ZERO
    # jobs and tf materializes lazily inside the action.  tf's plan is
    # expression-only over the token scan, so the fingerprint is
    # content-stable and a rewritten corpus self-invalidates.
    from ..core.stats import measured_hint

    dfreq, _ = measured_hint(
        tf.groupBy(word_col).agg(F.count("*").alias("__df")))
    n_docs = tf.agg(F.countDistinct(id_col).alias("__n"))
    scored = (
        tf.join(dfreq, word_col)
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col, word_col,
            F.round(
                F.col("__tf")
                * F.log(F.col("__n").cast("double") / F.col("__df")),
                6,
            ).alias("__s"),
        )
    )
    from .relational import top_k_per_group

    top = top_k_per_group(
        scored, [id_col],
        [F.col("__s").desc(), F.col(word_col).asc()],
        k=k, rank_col="__rank", keep_rank=True,
    )
    return (
        top.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__rank", word_col))),
                    lambda s: s[word_col],
                ),
                "|",
            ).alias(out_col)
        )
    )


def hash56(col: Column) -> Column:
    """Deterministic 56-bit integer hash of a string column.

    ``conv(substr(md5(x), 1, 14), 16, 10)`` — reproducible in any engine
    with ``md5`` (the DuckDB oracle uses ``('0x' || substring(md5(x),1,14))
    ::BIGINT``).  56 bits keeps the value positive in a signed 64-bit int.
    Used for fingerprints, shingle hashing, and minhash permutations.
    """
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("long")


def fingerprint(df: DataFrame, text_col: str = "text",
                out_col: str = "fingerprint") -> DataFrame:
    """Whole-document content fingerprint over normalized tokens.

    Normalization (lowercase, collapse whitespace) makes the fingerprint
    robust to spacing; the md5-based hash makes it portable.  This is the
    exact-dedup key for corpus-scale dedup (group by fingerprint).
    """
    normalized = F.concat_ws(" ", F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    return df.withColumn(out_col, hash56(normalized))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        k: int = 8, window: int = 4, base: int = 257,
                        mod: int = 1_000_000_007,
                        out_col: str = "winnow_fps") -> DataFrame:
    """Winnowed rolling-hash document fingerprints (the MOSS scheme,
    Schleimer/Wilkerson/Aiken SIGMOD'03): Karp-Rabin polynomial hashes of
    char ``k``-grams, reduced to the minimum per sliding ``window`` — a
    position-robust fingerprint SET whose overlap measures local text
    reuse (unlike the whole-document hash above, one edit only perturbs
    nearby fingerprints).

    The polynomial hash (``Σ c·base^i  mod  m``) is deliberately chosen
    over murmur: identical integer arithmetic runs in any SQL engine, so
    the fingerprints are oracle-checkable cross-engine.  Everything is
    codegen array lambdas over the scan — per-row work, no explode, no
    shuffle, no UDF; at 100 TB this adds nothing to the profile scan's
    shape.  (A streaming implementation would roll the hash in O(len);
    the vectorized form is O(len·k) with k=8 — the constant is the cost
    of staying in whole-stage codegen.)

    Documents shorter than ``k + window - 1`` chars yield NULL.
    """
    eligible = F.length(text_col) >= k + window - 1
    kg = (
        f"transform(sequence(1, length({text_col}) - {k} + 1), "
        f"i -> aggregate(sequence(i, i + {k} - 1), 0L, "
        f"(acc, p) -> (acc * {base} + ascii(substring({text_col}, p, 1)))"
        f" % {mod}))"
    )
    fps = (
        f"array_sort(array_distinct(transform("
        f"sequence(1, size(__kg) - {window} + 1), "
        f"j -> array_min(slice(__kg, j, {window})))))"
    )
    return (
        df.withColumn("__kg", F.when(eligible, F.expr(kg)))
        .withColumn(out_col, F.when(eligible, F.expr(fps)))
        .drop("__kg")
    )


# ---------------------------------------------------------------------------
# PII scrubbing (training-data pipeline hygiene stage)
# ---------------------------------------------------------------------------

#: pattern -> replacement token, applied in order.  The shapes follow the
#: public CCNet/Dolma-style pipeline conventions: redact rather than drop,
#: so token offsets stay roughly stable for downstream dedup.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    # emails before phones: user.name+tag@host.tld
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # IPv4 (bounded octets would cost a bigger regex; training-data
    # pipelines accept the over-match)
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # international-ish phone numbers: optional +CC, separators, >= 7 digits
    (r"(?<!\w)\+?\d[\d ()./-]{5,}\d(?!\w)", "<PHONE>"),
)


def profile_features_arrow(df: DataFrame, id_cols: Sequence[str] = ("doc_id",),
                           text_col: str = "text",
                           stopwords: Sequence[str] = DEFAULT_STOPWORDS,
                           lexicons: dict[str, Sequence[str]] | None = None,
                           bpe_pattern: str | None = None,
                           k: int = 8, window: int = 4, base: int = 257,
                           mod: int = 1_000_000_007,
                           chunk_max: int = 32,
                           chunk_overlap: int = 4) -> DataFrame:
    """Every per-document profile scalar in ONE Arrow pass — the
    vectorized-native rewrite of the ``quality_features → language_id →
    fingerprint → repetition_signals → winnow_fingerprints`` expression
    chain (guide §4.2: hand whole batches to native code instead of
    running interpreted per-row lambdas).

    Why: the array higher-order functions those operators use
    (``transform``/``filter``/``aggregate`` lambdas) are evaluated
    row-at-a-time OUTSIDE whole-stage codegen; at sf0.1 the profile scan
    burned ~25 executor-CPU-seconds per pass on 1.5 MB of text.  The
    same math over NumPy code-point arrays and C-level ``Counter``/
    ``md5`` runs ~20× cheaper and crosses the Python boundary once,
    carrying only (ids, text) in and ~20 scalars out.

    Exactness contract (pinned by ``tests/test_profile_arrow.py``
    against the expression chain, and by the DuckDB oracle hash):

    - tokens are split IN THE JVM semantics: the input projection
      computes ``lower(trim(text))`` Spark-side, and Python splits it
      with the exact Java ``\\s`` class ``[ \\t\\n\\x0b\\f\\r]+``;
    - ``bpe_tokens`` (Java-regex dependent) is computed Spark-side in
      the input projection and passed through;
    - winnow hashes run the identical ``(acc·base + codepoint) % mod``
      int64 recurrence over UTF-32 code points (``ascii(substring())``
      equivalent), vectorized as ``k`` NumPy passes;
    - fingerprints/digests are ``md5`` via hashlib — bit-identical;
    - all ratios are single int/int double divisions (IEEE-identical),
      with Spark's divide-by-zero→NULL honored.

    Output columns (after the ``id_cols``): n_chars, n_tokens,
    n_distinct_tokens, n_stopwords, mean_token_len, stopword_ratio,
    alpha_ratio, distinct_ratio, predicted_lang, fingerprint, ws_tokens,
    bpe_tokens, top_unigram_frac, top_bigram_frac, dup_trigram_frac,
    n_winnow_fp, winnow_checksum, chunks_digest.
    """
    from pyspark.sql import types as T

    lex_sets = {lg: frozenset(ws) for lg, ws in
                (lexicons or LANG_LEXICONS).items()}
    langs = sorted(lex_sets)
    stopset = frozenset(stopwords)
    if chunk_overlap >= chunk_max:
        raise ValueError("overlap must be smaller than max_tokens")
    stride = chunk_max - chunk_overlap

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = T.StructType(list(id_fields) + [
        T.StructField("n_chars", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("n_distinct_tokens", T.LongType()),
        T.StructField("n_stopwords", T.LongType()),
        T.StructField("mean_token_len", T.DoubleType()),
        T.StructField("stopword_ratio", T.DoubleType()),
        T.StructField("alpha_ratio", T.DoubleType()),
        T.StructField("distinct_ratio", T.DoubleType()),
        T.StructField("predicted_lang", T.StringType()),
        T.StructField("fingerprint", T.LongType()),
        T.StructField("ws_tokens", T.LongType()),
        T.StructField("bpe_tokens", T.LongType()),
        T.StructField("top_unigram_frac", T.DoubleType()),
        T.StructField("top_bigram_frac", T.DoubleType()),
        T.StructField("dup_trigram_frac", T.DoubleType()),
        T.StructField("n_winnow_fp", T.LongType()),
        T.StructField("winnow_checksum", T.LongType()),
        T.StructField("chunks_digest", T.StringType()),
    ])

    src_cols = [F.col(c) for c in id_cols] + [
        F.col(text_col).alias("__text"),
        F.lower(F.trim(F.col(text_col))).alias("__lt"),
    ]
    if bpe_pattern is not None:
        src_cols.append(
            F.size(F.regexp_extract_all(text_col, F.lit(bpe_pattern), 0))
            .cast("long").alias("__bpe"))
    src = df.select(*src_cols)
    have_bpe = bpe_pattern is not None
    min_winnow_len = k + window - 1

    def compute(batches):
        import hashlib
        import re

        import numpy as np
        import pyarrow as pa
        from collections import Counter
        from numpy.lib.stride_tricks import sliding_window_view

        ws_re = re.compile("[ \t\n\x0b\f\r]+")
        ws_codes = np.array([32, 9, 10, 11, 12, 13], dtype=np.uint32)

        def build_schema(in_schema):
            # pass-through id columns keep their INPUT Arrow type
            # (ADVICE r13: the Long/Double/string heuristic broke for
            # e.g. integer or date ids — the arrays are taken verbatim
            # from the input batch, so the declared type must match it)
            fields = []
            for f in out_schema.fields:
                if f.name in id_cols:
                    fields.append(pa.field(
                        f.name, in_schema.field(f.name).type))
                elif isinstance(f.dataType, T.LongType):
                    fields.append(pa.field(f.name,
                                           pa.from_numpy_dtype(np.int64)))
                elif isinstance(f.dataType, T.DoubleType):
                    fields.append(pa.field(f.name, pa.float64()))
                else:
                    fields.append(pa.field(f.name, pa.string()))
            return pa.schema(fields)

        arrow_schema = None
        for batch in batches:
            if arrow_schema is None:
                arrow_schema = build_schema(batch.schema)
            names = batch.schema.names
            texts = batch.column(names.index("__text")).to_pylist()
            lts = batch.column(names.index("__lt")).to_pylist()
            bpes = (batch.column(names.index("__bpe")).to_pylist()
                    if have_bpe else [None] * batch.num_rows)
            out: dict[str, list] = {f.name: [] for f in out_schema.fields
                                    if f.name not in id_cols}

            for text, lt, bpe in zip(texts, lts, bpes):
                if text is None or lt is None:
                    for key in out:
                        out[key].append(None)
                    continue
                tokens = ws_re.split(lt)
                n_tok = len(tokens)
                counts = Counter(tokens)
                arr = np.frombuffer(text.encode("utf-32-le"),
                                    dtype=np.uint32)
                n_chars = arr.size
                n_ws = int(np.isin(arr, ws_codes).sum())
                n_alpha = int((((arr >= 65) & (arr <= 90))
                               | ((arr >= 97) & (arr <= 122))).sum())
                n_stop = sum(counts[t] for t in stopset if t in counts)
                out["n_chars"].append(n_chars)
                out["n_tokens"].append(n_tok)
                out["n_distinct_tokens"].append(len(counts))
                out["n_stopwords"].append(n_stop)
                out["mean_token_len"].append(
                    (n_chars - n_ws) / n_tok if n_tok else None)
                out["stopword_ratio"].append(
                    n_stop / n_tok if n_tok else None)
                out["alpha_ratio"].append(
                    n_alpha / n_chars if n_chars else None)
                out["distinct_ratio"].append(
                    len(counts) / n_tok if n_tok else None)
                # argmax with ties -> lexicographically first language
                # (identical to the sorted-langs strict-> fold)
                best_lang, best_hits = langs[0], -1
                for lg in langs:
                    hits = sum(c for t, c in counts.items()
                               if t in lex_sets[lg])
                    if hits > best_hits:
                        best_lang, best_hits = lg, hits
                out["predicted_lang"].append(best_lang)
                joined = " ".join(tokens)
                out["fingerprint"].append(int(
                    hashlib.md5(joined.encode("utf-8")).hexdigest()[:14],
                    16))
                # split(trim(text)) has the same token COUNT as the
                # lowered split (case never changes whitespace)
                out["ws_tokens"].append(n_tok)
                out["bpe_tokens"].append(bpe)
                out["top_unigram_frac"].append(
                    max(counts.values()) / n_tok if n_tok else None)
                if n_tok >= 2:
                    bi = Counter(f"{tokens[i]} {tokens[i + 1]}"
                                 for i in range(n_tok - 1))
                    out["top_bigram_frac"].append(
                        max(bi.values()) / (n_tok - 1))
                else:
                    out["top_bigram_frac"].append(None)
                if n_tok >= 3:
                    tri = Counter(
                        f"{tokens[i]} {tokens[i + 1]} {tokens[i + 2]}"
                        for i in range(n_tok - 2))
                    out["dup_trigram_frac"].append(
                        1.0 - len(tri) / (n_tok - 2))
                else:
                    out["dup_trigram_frac"].append(None)
                if n_chars >= min_winnow_len:
                    codes = arr.astype(np.int64)
                    m = n_chars - k + 1
                    acc = np.zeros(m, dtype=np.int64)
                    for j in range(k):
                        acc = (acc * base + codes[j:j + m]) % mod
                    mins = sliding_window_view(acc, window).min(axis=1)
                    fps = np.unique(mins)
                    out["n_winnow_fp"].append(int(fps.size))
                    out["winnow_checksum"].append(int(fps.sum()))
                else:
                    out["n_winnow_fp"].append(None)
                    out["winnow_checksum"].append(None)
                ub = max(n_tok - chunk_overlap - 1, 0)
                chunks = "|".join(
                    " ".join(tokens[s:s + chunk_max])
                    for s in range(0, ub + 1, stride))
                out["chunks_digest"].append(
                    hashlib.md5(chunks.encode("utf-8")).hexdigest())

            arrays = []
            for f, af in zip(out_schema.fields, arrow_schema):
                if f.name in id_cols:
                    arrays.append(batch.column(names.index(f.name)))
                else:
                    arrays.append(pa.array(out[f.name], type=af.type))
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return src.mapInArrow(compute, out_schema)


def scrub_pii(df: DataFrame, text_col: str = "text",
              out_col: str | None = None) -> DataFrame:
    """Redact emails / IPv4s / phone-like digit runs with typed tokens.

    Pure ``regexp_replace`` chain — JVM-side, codegen, order-pinned (the
    email pattern must run before the phone pattern so local parts with
    digits are not half-eaten).  At 100 TB this is a map-only stage with
    zero shuffle; patterns are compiled once per task.
    """
    out = out_col or text_col
    col = F.col(text_col)
    for pat, token in PII_PATTERNS:
        col = F.regexp_replace(col, pat, token)
    return df.withColumn(out, col)


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals.

    - ``top_unigram_frac``: share of tokens taken by the most frequent
      token,
    - ``top_bigram_frac``: share of adjacent bigrams taken by the most
      frequent bigram,
    - ``dup_trigram_frac``: fraction of trigram occurrences that are
      repeats (1 - distinct/total).

    Computed entirely with array higher-order functions inside the scan —
    map-only, no explode, no shuffle.  The per-row cost is
    O(distinct × length); documents are tokenizer-bounded, so this stays
    cheap.  (For book-length texts, switch to the explode + groupBy
    formulation — same signals, one shuffle.)
    """
    df = with_tokens(df, text_col)

    def max_count_frac(arr_col: str) -> F.Column:
        return F.expr(
            f"CASE WHEN size({arr_col}) > 0 THEN "
            f"CAST(array_max(transform(array_distinct({arr_col}), "
            f"t -> size(filter({arr_col}, x -> x = t)))) AS DOUBLE) "
            f"/ size({arr_col}) END"
        )

    # materialize the n-gram arrays as columns first: the frac expressions
    # reference them several times, and Catalyst does not collapse the
    # projections (non-cheap expressions used more than once), so each
    # array is built once per row instead of once per reference
    # guard n-gram windows on document length: sequence(1, 0) is a
    # DESCENDING [1, 0] in Spark, so an unguarded transform would call
    # element_at(tokens, 0) (index error) on 1-2-token documents
    staged = df.withColumns({
        "__bi": F.expr(
            "CASE WHEN size(tokens) >= 2 THEN "
            "transform(sequence(1, size(tokens) - 1), "
            "i -> concat(element_at(tokens, i), ' ', "
            "element_at(tokens, i + 1))) "
            "ELSE array() END"),
        "__tri": F.expr(
            "CASE WHEN size(tokens) >= 3 THEN "
            "transform(sequence(1, size(tokens) - 2), "
            "i -> concat(element_at(tokens, i), ' ', "
            "element_at(tokens, i + 1), ' ', element_at(tokens, i + 2))) "
            "ELSE array() END"),
    })
    return (
        staged.withColumn("top_unigram_frac", max_count_frac("tokens"))
        .withColumn("top_bigram_frac", max_count_frac("__bi"))
        .withColumn(
            "dup_trigram_frac",
            F.expr(
                "CASE WHEN size(__tri) > 0 THEN "
                "1.0 - CAST(size(array_distinct(__tri)) AS DOUBLE) "
                "/ size(__tri) END"),
        )
        .drop("__bi", "__tri")
    )


#: the Gopher "must contain ≥2 of these" English function words
#: (Rae et al. 2021, appendix A1.1 — a public, fixed 8-word list)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, table A1) —
    the standard pre-training corpus filter, as one map-only scan.

    Adds per-document signals and one boolean per rule plus the composed
    ``keep`` verdict, so a pipeline can either hard-filter (``keep``) or
    audit rule hit-rates per source (group by the booleans):

    - ``rule_word_count``: 50 ≤ words ≤ 100 000
    - ``rule_mean_word_len``: 3 ≤ mean word length ≤ 10
    - ``rule_symbol_ratio``: (# + … occurrences) / words ≤ 0.1
    - ``rule_alpha_words``: ≥80 % of words contain a letter
    - ``rule_bullets`` / ``rule_ellipsis``: ≤90 % bullet-started lines,
      ≤30 % ellipsis-terminated lines
    - ``rule_stopwords``: ≥2 distinct hits from the 8-word Gopher list
    - ``rule_top_bigram`` / ``rule_dup_trigram``: repetition ceilings
      0.18 / 0.30 over :func:`repetition_signals`

    Every signal is array/string arithmetic inside whole-stage codegen —
    no shuffle, no UDF; at 100 TB this is scan-speed and composes with
    the scan's column pruning (only ``text_col`` is read).  Thresholds
    are the published ones (repetition ceilings adapted to the two
    signals this module computes); override by filtering on the raw
    signal columns instead of ``keep``.
    """
    df = repetition_signals(df, text_col)   # adds `tokens` + rep signals
    n_tok = F.size("tokens")
    text = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(text, "\n"), F.trim),
        lambda ln: ln != "")
    n_hash = F.length(text) - F.length(F.expr(f"replace({text_col}, '#')"))
    n_ell = (F.length(text)
             - F.length(F.expr(f"replace({text_col}, '...')"))) / F.lit(3)
    sw = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    staged = df.withColumns({
        "n_words": n_tok,
        "mean_word_len": F.when(n_tok > 0, F.aggregate(
            "tokens", F.lit(0).cast("long"),
            lambda acc, t: acc + F.length(t)).cast("double") / n_tok),
        "symbol_word_ratio": F.when(
            n_tok > 0, (n_hash + n_ell).cast("double") / n_tok),
        "alpha_word_frac": F.when(n_tok > 0, F.size(F.filter(
            "tokens", lambda t: t.rlike("[a-z]"))).cast("double") / n_tok),
        "bullet_line_frac": F.when(F.size(lines) > 0, F.size(F.filter(
            lines, lambda ln: ln.rlike("^[-*•] ")))
            .cast("double") / F.size(lines)),
        "ellipsis_line_frac": F.when(F.size(lines) > 0, F.size(F.filter(
            lines, lambda ln: ln.rlike(r"(\.\.\.|…)$")))
            .cast("double") / F.size(lines)),
        "stopword_hits": F.size(F.filter(
            sw, lambda s: F.array_contains("tokens", s))),
    })
    rules = {
        "rule_word_count": (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100_000),
        "rule_mean_word_len": (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10),
        "rule_symbol_ratio": F.col("symbol_word_ratio") <= 0.1,
        "rule_alpha_words": F.col("alpha_word_frac") >= 0.8,
        "rule_bullets": F.coalesce(F.col("bullet_line_frac"),
                                   F.lit(0.0)) <= 0.9,
        "rule_ellipsis": F.coalesce(F.col("ellipsis_line_frac"),
                                    F.lit(0.0)) <= 0.3,
        "rule_stopwords": F.col("stopword_hits") >= 2,
        "rule_top_bigram": F.coalesce(F.col("top_bigram_frac"),
                                      F.lit(0.0)) <= 0.18,
        "rule_dup_trigram": F.coalesce(F.col("dup_trigram_frac"),
                                       F.lit(0.0)) <= 0.30,
    }
    # null signals (empty document) fail the rule, not the expression:
    # coalesce(rule, false) pins 3-valued logic to a 2-valued verdict
    staged = staged.withColumns(
        {name: F.coalesce(cond, F.lit(False)) for name, cond in rules.items()})
    keep = F.lit(True)
    for name in rules:
        keep = keep & F.col(name)
    return staged.withColumn("keep", keep)


# ---------------------------------------------------------------------------
# training-data chunking (token-bounded windows with overlap)
# ---------------------------------------------------------------------------

def chunk_texts(tokens: Column, max_tokens: int, overlap: int) -> Column:
    """Array of ``struct(n_chunk_tokens, chunk_text)`` chunk windows over a
    token-array column — the shared core of :func:`chunk_documents` and
    the profile chunk digest (so the oracle exercises the same logic).

    Start offsets 0, stride, 2*stride, … bounded so every chunk
    contributes at least one token beyond the overlap (a final chunk
    fully contained in its predecessor would emit duplicate training
    text); the interval [n - max_tokens, n - overlap - 1] always holds a
    stride multiple, so coverage stays total.  Chunk structs are built
    INSIDE one transform over the offsets so downstream explodes carry
    only their own chunk text, never the parent token array.
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be smaller than max_tokens")
    stride = max_tokens - overlap
    n = F.size(tokens)
    starts = F.sequence(
        F.lit(0), F.greatest(n - overlap - 1, F.lit(0)), F.lit(stride))
    return F.transform(starts, lambda s: F.struct(
        F.size(F.slice(tokens, s + 1, max_tokens)).alias("n_chunk_tokens"),
        F.array_join(F.slice(tokens, s + 1, max_tokens), " ")
        .alias("chunk_text")))


def chunk_documents(df: DataFrame, id_col: str, text_col: str = "text",
                    max_tokens: int = 128, overlap: int = 16) -> DataFrame:
    """Split documents into token-bounded chunks with overlap — the
    standard pre-tokenization step of an LLM training pipeline (long
    documents become stride-``max_tokens - overlap`` windows so no text
    is lost at chunk boundaries).

    Pure codegen: one whitespace split, a stride ``sequence`` per row,
    ``posexplode`` over ``slice``s of the token array — no UDF, no
    shuffle; at 100 TB this is a map-only stage.  Returns
    ``(id_col, chunk_index, n_chunk_tokens, chunk_text)``; a document
    shorter than ``max_tokens`` yields exactly one chunk (index 0).
    """
    chunks = chunk_texts(F.split(F.trim(F.col(text_col)), r"\s+"),
                         max_tokens, overlap)
    return (
        df.select(F.col(id_col),
                  F.posexplode(chunks).alias("chunk_index", "__c"))
        .select(id_col, "chunk_index",
                F.col("__c.n_chunk_tokens").alias("n_chunk_tokens"),
                F.col("__c.chunk_text").alias("chunk_text"))
    )


# ---------------------------------------------------------------------------
# dataset splitting + token-budgeted shard packing
# ---------------------------------------------------------------------------

def hash_split(df: DataFrame, weights: Sequence[float], key_col: str,
               seed: int = 42, out_col: str = "split") -> DataFrame:
    """Deterministic train/val/test split by key hash.

    Unlike ``randomSplit`` (partitioning-dependent sampling), the split
    is a pure function of ``(seed, key)``: reproducible across runs,
    clusters and repartitioning, and all rows sharing a key land in the
    same split (no leakage of a document across train and eval).  Split
    ``i`` gets keys whose hash falls in the cumulative-weight bucket.
    """
    total = float(sum(weights))
    bounds = []
    acc = 0.0
    for w in weights:
        acc += w / total
        bounds.append(acc)
    # 12 hex chars of md5 = 48 bits → uniform in [0, 1), EXACTLY
    # representable in a double — so any SQL engine reproduces u
    # bit-identically (the correctness oracle re-derives it digit-wise)
    u = (F.conv(F.substring(F.md5(
        F.concat_ws("|", F.lit(str(seed)), F.col(key_col).cast("string"))),
        1, 12), 16, 10).cast("double") / float(16 ** 12))
    expr = F.lit(len(bounds) - 1)
    for i in range(len(bounds) - 2, -1, -1):
        expr = F.when(u < bounds[i], i).otherwise(expr)
    return df.withColumn(out_col, expr.cast("int"))


def mix_sources(df: DataFrame, source_col: str, targets: dict[str, float],
                key_col: str = "doc_id", seed: int = 7,
                out_col: str = "n_copies") -> DataFrame:
    """Deterministic corpus mixing: resample each source to a target
    share of the corpus (the Pile/Dolma-style mixture step) by assigning
    every document an integer replication count.

    ``targets`` maps source → desired share (normalized internally).
    With the corpus size held constant, source ``s`` gets rate
    ``r_s = share_s · N / N_s``; each document receives
    ``floor(r_s)`` copies plus one more iff its 48-bit md5 uniform
    ``u(seed, key) < frac(r_s)`` — so downsampling (r<1) keeps an exact
    deterministic subset and upsampling (r>1) replicates with a
    deterministic fractional remainder, reproducible across runs,
    clusters, and repartitioning (no ``rand()``).  Sources missing from
    ``targets`` get share 0 (dropped).  In expectation each source lands
    exactly on its target share; a consumer materializes the copies with
    ``explode(sequence(1, n_copies))``.

    100 TB shape: one tiny per-source aggregate (rows = #sources,
    broadcast back), then a map-only projection — no shuffle of the
    corpus itself.
    """
    total_w = float(sum(targets.values()))
    shares = {s: w / total_w for s, w in targets.items()}
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n_s"))
    grand = df.agg(F.count(F.lit(1)).alias("__n"))
    share_expr = F.lit(0.0)
    for s, w in shares.items():
        share_expr = F.when(F.col(source_col) == s, F.lit(w)) \
            .otherwise(share_expr)
    u = (F.conv(F.substring(F.md5(
        F.concat_ws("|", F.lit(str(seed)), F.col(key_col).cast("string"))),
        1, 12), 16, 10).cast("double") / float(16 ** 12))
    rate = share_expr * F.col("__n") / F.col("__n_s")
    return (
        df.join(F.broadcast(counts), source_col)
        .crossJoin(F.broadcast(grand))
        .withColumn(
            out_col,
            (F.floor(rate) + (u < rate - F.floor(rate)).cast("long"))
            .cast("long"))
        .drop("__n_s", "__n")
    )


def assign_token_shards(df: DataFrame, token_col: str, order_col: str,
                        target_tokens: int,
                        out_col: str = "shard") -> DataFrame:
    """Pack documents into shards of ~``target_tokens`` tokens each — the
    step that turns a filtered corpus into even training-shard files.

    Scalable global running sum (no global window, no driver data):
    range-partition by ``order_col``, compute per-partition token totals
    (one tiny aggregate), collect only those totals (one row per
    partition), broadcast their prefix offsets back, and add the offset
    to each partition's local ROWS-frame cumulative sum.  Shard id =
    ``floor((cumsum - tokens) / target)`` so every shard's token count
    lands in ``[target - max_doc_tokens, target + max_doc_tokens)``.

    Contract: ``order_col`` must be unique (a document PK) — it defines
    the global packing order, and ties would make shard assignment
    partitioning-dependent.

    Cost: two exchanges of the (narrow) rows — the range partition plus
    the pid-keyed hash the window demands (Catalyst cannot prove the
    range layout satisfies ``partitionBy(__pid)``); the cumulative sum
    itself stays JVM-side.

    The ranged frame is MATERIALIZED (query-scoped localCheckpoint)
    before ``spark_partition_id`` is read: the totals aggregate and the
    window run as separate jobs, and without pinning, AQE may coalesce
    the range exchange differently per job — renumbered pids then miss
    the offset map and produce NULL shards.  (Surfaced by the sf0.1
    oracle sweep: correct at 500 docs, 74% NULL at 5,000.)

    The INPUT is query-scope persisted first: ``repartitionByRange``
    runs a range-bound sampling job over its child before the actual
    exchange, so an expensive upstream (document_profile's per-row
    feature projection) would otherwise execute twice per run — the
    r13 stage profile showed two back-to-back full-cost stages, one
    with zero shuffle write (the sampler) and one with the range
    exchange's.  Persisting the packer input (narrow scalar rows by
    contract — callers project text/token payloads away first) makes
    the sampler and the exchange share one materialization.
    """
    from ..core.cache import scoped_checkpoint, scoped_persist

    df = scoped_persist(df)
    ranged = scoped_checkpoint(
        df.repartitionByRange(F.col(order_col))
        .withColumn("__pid", F.spark_partition_id()))
    totals = (ranged.groupBy("__pid")
              .agg(F.sum(token_col).alias("__t")).collect())
    offsets = {}
    acc = 0
    for row in sorted(totals, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = acc
        acc += row["__t"] or 0
    off_col = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv])[F.col("__pid")]
    w = (W.partitionBy("__pid").orderBy(order_col)
         .rowsBetween(W.unboundedPreceding, 0))
    cum = F.sum(token_col).over(w) + off_col
    return (ranged
            .withColumn(out_col, F.floor(
                (cum - F.col(token_col)) / target_tokens).cast("long"))
            .drop("__pid"))


def temperature_mixture(df: DataFrame, source_col: str, token_col: str,
                        alpha: float = 0.5,
                        token_budget: int = 1_000_000) -> DataFrame:
    """Temperature-scaled sampling plan per source (the multilingual /
    multi-source mixture rule of mBERT/XLM-R and Pile-style corpora):
    source ``s`` with ``T_s`` tokens gets sampling weight
    ``T_s^alpha / Σ T_s^alpha`` — ``alpha < 1`` flattens the natural
    distribution so small sources are not drowned out, without the
    fixed hand-tuned shares of :func:`mix_sources`.

    Returns one row per source: document/token counts, the temperature
    weight, the token allocation under ``token_budget``, and
    ``epochs`` (allocation / available tokens — >1 means the source
    repeats, the standard "epochs over source" diagnostic).

    Shape: ONE per-source aggregate (rows = #sources) plus a broadcast
    total — nothing corpus-sized moves.  ``alpha = 0.5`` is computed as
    ``sqrt`` (bit-identical across engines, unlike ``pow``); doubles
    aggregated across sources are rounded to 6 decimals because the
    fold order of the tiny normalization sum is engine-specific.
    """
    if alpha != 0.5:  # pragma: no cover - pow() is not bit-portable
        raise NotImplementedError(
            "alpha != 0.5 requires pow(), which is not bit-identical "
            "across engines; extend with a rounded pow if needed")
    per_src = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_col).cast("bigint").alias("n_tokens"))
    tot = per_src.agg(
        F.sum(F.sqrt(F.col("n_tokens").cast("double"))).alias("__z"))
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            source_col, "n_docs", "n_tokens",
            F.round(F.sqrt(F.col("n_tokens").cast("double")) / F.col("__z"),
                    6).alias("weight"),
            F.round(F.sqrt(F.col("n_tokens").cast("double")) / F.col("__z")
                    * token_budget, 3).alias("target_tokens"),
            F.round(F.sqrt(F.col("n_tokens").cast("double")) / F.col("__z")
                    * token_budget / F.col("n_tokens"), 6).alias("epochs"),
        )
    )
