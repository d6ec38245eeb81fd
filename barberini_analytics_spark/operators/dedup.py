"""Corpus deduplication operators (exact + near-duplicate).

The training-data-pipeline dedup family, each designed as a shuffle-bounded
DataFrame plan that survives a 100 TB corpus:

- **exact**: hash-groupBy on a normalized content fingerprint — one shuffle
  on a 56-bit key, representative = min id.
- **MinHash + LSH**: shingle → per-permutation min-hash → band → bucket join.
  Candidate generation never compares all pairs: docs meet only inside a
  band bucket.  Verification computes true Jaccard on the candidate set.
- **SimHash**: 16-bit sign-of-weighted-sum signature computed in ONE hash
  aggregation (no per-bit explode) — near-dups collide on equal signatures.
- **n-gram Jaccard**: exact pairwise similarity, bucketed by a cheap block
  key so the cross product stays within blocks.

All hashing is md5-derived (:func:`..operators.text.hash56`) so the DuckDB
correctness oracle reproduces every signature bit-exactly — no engine-private
hash functions in results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .text import hash56


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by normalized-content fingerprint.

    Returns one row per distinct content: ``(fingerprint, rep_id, n_dups)``
    with the smallest id as representative.  Reference analogue:
    ``drop_duplicates`` on key subsets (SURVEY §2.3 P4) — upgraded to
    content-hash grouping, the only form that scales to 100 TB (the shuffle
    key is 8 bytes, not the document).
    """
    normalized = F.concat_ws(" ", F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    return (
        df.withColumn("fingerprint", hash56(normalized))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def word_shingles(df: DataFrame, id_col: str, text_col: str = "text",
                  k: int = 3, out_col: str = "shingle") -> DataFrame:
    """Distinct k-word shingles per document (lowercased, whitespace split).

    ``transform`` over the token array builds the shingle list without a
    join or window; ``explode`` + ``distinct`` yields the set.
    """
    # r14: the token split is HOISTED into a projected column — an array
    # HOF lambda is evaluated interpreted per element, and a lambda body
    # that embeds the split expression re-runs the full regex split of
    # the document once PER SHINGLE POSITION (O(len²) splits per doc;
    # measured 1.7× on the k-gram twin of this pattern).  The lambda now
    # references the once-per-row column.
    split_expr = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    toks = F.col("__toks")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    shingles = F.when(
        n >= k,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    # repartition before the explode: corpus tables often arrive as few large
    # files (locally: one), and the shingle explode + downstream md5 hashing
    # is CPU-bound — spread it across the cluster before fan-out.  The
    # partition COUNT must be explicit: a bare repartition(col) is
    # advisory to AQE, whose size-based coalescing sees the few input
    # bytes and collapses the exchange to ~1 partition, serializing the
    # whole shingle stage (measured 6× on the sf0.1 table); with an
    # explicit count AQE leaves user repartitions alone.
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                          "32"))
    return (
        df.repartition(n_part, F.col(id_col))
        .withColumn("__toks", split_expr)
        .select(F.col(id_col),
                F.explode(F.array_distinct(shingles)).alias(out_col))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(shingles: DataFrame, id_col: str,
                       num_perm: int = 8, shingle_col: str = "shingle") -> DataFrame:
    """Per-document MinHash signature: ``sig_j = min(hash56(j || shingle))``.

    The j-th permutation is simulated by salting the shingle with ``j``
    before hashing — standard public construction, engine-portable via md5.
    One hash aggregation computes all permutations (columns, not rows).
    """
    aggs = [
        F.min(hash56(F.concat(F.lit(f"{j}|"), F.col(shingle_col)))).alias(f"mh_{j}")
        for j in range(num_perm)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(signatures: DataFrame, id_col: str,
                        num_perm: int = 8, bands: int = 4,
                        max_bucket: int | None = None) -> DataFrame:
    """LSH banding: docs whose signature agrees on ALL rows of ≥1 band.

    Returns distinct candidate pairs ``(id_a, id_b)`` with ``id_a < id_b``.
    The self-join key is ``(band_index, band_hash)`` — at scale this is the
    classic band-bucket shuffle; no all-pairs comparison ever happens.

    ``max_bucket`` is the 100 TB degenerate-bucket guard: a band value
    shared by ``b`` documents emits ``b(b-1)/2`` pairs, so ONE hot bucket
    (boilerplate band, near-constant field) turns the bucket join
    quadratic — the standard MinHash-at-scale failure.  With a cap,
    buckets larger than ``max_bucket`` are excluded before the self-join
    (one extra (band, hash) count aggregate — map-side combining, output
    one row per bucket).  A band shared by that many documents carries
    near-zero discriminative signal (it behaves like a stopword), and a
    true near-dup pair is lost only if EVERY band it shares is
    degenerate; exact/segment dedup upstream removes the identical-text
    mass that would otherwise create such buckets.  ``None`` (default)
    preserves exact classic semantics — the oracle-checked entries use
    the default.
    """
    rows_per_band = num_perm // bands
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_hash = hash56(F.concat_ws(",", *[c.cast("string") for c in cols]))
        band_structs.append(
            F.struct(F.lit(b).alias("band"), band_hash.alias("band_hash"))
        )
    # one explode instead of a bands-way union: a union would replicate the
    # whole signature subplan per band (Spark does not dedupe common
    # subplans), turning one aggregation into `bands` of them
    banded = (
        signatures.select(F.col(id_col), F.explode(F.array(*band_structs)).alias("bb"))
        .select(id_col, F.col("bb.band").alias("band"),
                F.col("bb.band_hash").alias("band_hash"))
    )
    if max_bucket is not None:
        from ..core.cache import scoped_persist

        banded = scoped_persist(banded)  # reused: sizes + both join sides
        ok = (banded.groupBy("band", "band_hash")
              .agg(F.count(F.lit(1)).alias("__bn"))
              .filter(F.col("__bn") <= max_bucket)
              .select("band", "band_hash"))
        banded = banded.join(ok, ["band", "band_hash"])
    left = banded.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    return (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(shingles: DataFrame, pairs: DataFrame, id_col: str,
                  shingle_col: str = "shingle") -> DataFrame:
    """True Jaccard similarity for candidate pairs via a shingle co-join.

    ``|A ∩ B|`` comes from joining the shingle table to itself restricted to
    the candidate pairs; ``|A ∪ B| = |A| + |B| − |A ∩ B|``.  Exact integer
    counts → the final division is engine-portable.
    """
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = shingles.select(F.col(id_col).alias("id_a"), F.col(shingle_col))
    b = shingles.select(F.col(id_col).alias("id_b"), F.col(shingle_col))
    inter = (
        pairs.join(a, "id_a").join(b, ["id_b", shingle_col])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter
        .join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .select(
            "id_a", "id_b",
            (F.col("n_inter").cast("double")
             / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
             ).alias("jaccard"),
        )
    )


def minhash_near_duplicates(df: DataFrame, id_col: str, text_col: str = "text",
                            k: int = 3, num_perm: int = 8, bands: int = 4,
                            threshold: float = 0.5,
                            min_sig_matches: int = 0,
                            max_bucket: int | None = None) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band → verify.

    Returns ``(id_a, id_b, jaccard)`` for verified pairs above threshold.

    ``min_sig_matches > 1`` inserts the standard estimate-gate between
    banding and exact verification: candidates must agree on that many of
    the ``num_perm`` signature rows (estimated Jaccard ≥ matches/num_perm)
    before the shingle-intersection join runs.  The gate joins the
    signature table (``num_perm`` longs per doc), so spurious bucket
    collisions are discarded without ever shuffling shingle strings —
    at 100 TB the exact verify then touches only plausibly-similar pairs.
    Part of the operator contract, not an approximation knob: a true
    near-dup pair can land below the gate only with probability
    ``P(Binom(num_perm, j) < min_sig_matches)`` (≈3.5% at j=0.5 for
    2-of-8), the usual LSH recall trade.
    """
    # persist the two frames the plan reuses (shingles: signature build +
    # both sides of the intersection join; signatures: both sides of the
    # band self-join) — the same staging the reference does with temp
    # tables for its fuzzy joins (src/absa/post_aspects.py:59-118).
    # Scoped: released by the registry when the next query starts, so a
    # long-running session doesn't accumulate cached partitions per call.
    from ..core.cache import scoped_persist

    sh = scoped_persist(word_shingles(df, id_col, text_col, k))
    sigs = scoped_persist(minhash_signatures(sh, id_col, num_perm))
    # materialize the persisted staging BEFORE the downstream joins are
    # planned: the pre-materialization size estimates reach those joins
    # through the shingle explode (fan-out invisible to size-only
    # estimation) and the default width assumed for derived strings, so
    # a billion-row shingle/signature table can be "estimated" under
    # the broadcast threshold and statically planned as a corpus-size
    # broadcast — the failure the span-dedup scale curve hit at 1M
    # docs.  Once the cache is materialized its statistics are ACTUAL
    # bytes: Catalyst then broadcasts the genuinely small sides
    # (candidate pairs, per-doc sizes — the bench-scale win AQE keeps)
    # and never the corpus-scale ones.  One count over frames the query
    # materializes anyway.
    sigs.count()
    cand = lsh_candidate_pairs(sigs, id_col, num_perm, bands,
                               max_bucket=max_bucket)
    if min_sig_matches > 1:
        sa = sigs.select(F.col(id_col).alias("id_a"),
                         *[F.col(f"mh_{j}").alias(f"__a_{j}")
                           for j in range(num_perm)])
        sb = sigs.select(F.col(id_col).alias("id_b"),
                         *[F.col(f"mh_{j}").alias(f"__b_{j}")
                           for j in range(num_perm)])
        matches = sum(
            F.when(F.col(f"__a_{j}") == F.col(f"__b_{j}"), 1).otherwise(0)
            for j in range(num_perm))
        cand = (cand.join(sa, "id_a").join(sb, "id_b")
                .filter(matches >= min_sig_matches)
                .select("id_a", "id_b"))
    return jaccard_pairs(sh, cand, id_col).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str = "text",
            bits: int = 16, out_col: str = "simhash") -> DataFrame:
    """Per-document SimHash over word tokens (with multiplicity).

    For each bit ``b``: sum ±1 over token hashes' bit ``b``; the signature
    bit is 1 iff the sum is positive.  Computed as ``bits`` aggregate
    columns in ONE groupBy — no per-bit row explosion, so the cost is one
    token explode + one hash aggregation regardless of ``bits``.
    """
    tokens = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
        )
        .withColumn("h", hash56(F.col("tok")))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"s_{b}")
        for b in range(bits)
    ]
    agg = tokens.groupBy(id_col).agg(*bit_sums)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else (sig + term)
    return agg.select(F.col(id_col), sig.alias(out_col))


# ---------------------------------------------------------------------------
# eval-contamination detection (cross-corpus n-gram overlap)
# ---------------------------------------------------------------------------

def cross_corpus_overlap(train: DataFrame, evalset: DataFrame,
                         id_col: str, text_col: str = "text",
                         k: int = 3,
                         min_overlap: float = 0.1) -> DataFrame:
    """Flag training documents that share ≥ ``min_overlap`` of an eval
    document's k-gram shingles — the standard benchmark-contamination
    screen run before an LLM training job ships.

    Shape: shingle both corpora, join on the shingle hash (the only
    shuffle that grows with corpus size — never a doc×doc comparison),
    count co-occurrences per (train, eval) pair, and score
    ``n_shared / n_eval_shingles`` (containment of the eval doc in the
    training doc, the directional metric contamination checks use).
    The eval side is tiny next to the training corpus, so its shingle
    table broadcasts; the training corpus streams through one scan.

    Returns ``(train_id, eval_id, n_shared, eval_containment)`` for pairs
    over the threshold.
    """
    tr = word_shingles(train, id_col, text_col, k).select(
        F.col(id_col).alias("train_id"), "shingle")
    ev = word_shingles(evalset, id_col, text_col, k).select(
        F.col(id_col).alias("eval_id"), "shingle")
    ev_sizes = ev.groupBy("eval_id").agg(
        F.count(F.lit(1)).alias("n_eval_shingles"))
    shared = (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(F.broadcast(ev_sizes), "eval_id")
        .withColumn("eval_containment",
                    F.col("n_shared").cast("double")
                    / F.col("n_eval_shingles"))
        .filter(F.col("eval_containment") >= min_overlap)
        .select("train_id", "eval_id", "n_shared", "eval_containment")
    )


# ---------------------------------------------------------------------------
# segment and span dedup
# ---------------------------------------------------------------------------

def segment_documents(df: DataFrame, id_col: str, text_col: str = "text",
                      sep: str | None = None,
                      tokens_per_segment: int = 10) -> DataFrame:
    """Split documents into dedup-grain segments: one row per
    ``(id, seg_index, segment)``.

    ``sep`` (a regex) splits on explicit boundaries (newlines for web text,
    the CCNet/C4 "paragraph" unit).  When the corpus has no layout markers
    (``sep=None``), fixed ``tokens_per_segment``-token blocks of the
    normalized token stream serve as pseudo-paragraphs — the same
    fixed-window unit the chunker uses, so boilerplate repeated across
    documents still collides.

    Map-only: split + ``posexplode`` in one codegen stage, no shuffle.
    Blank segments are dropped (a run of separators is not content).
    """
    if sep is not None:
        segs = F.split(F.trim(F.col(text_col)), sep)
        return (
            df.select(id_col,
                      F.posexplode(segs).alias("seg_index", "segment"))
            .filter(F.trim(F.col("segment")) != "")
        )
    k = tokens_per_segment
    # hoisted split (r14): embedding the split in the transform lambda
    # re-ran it once per BLOCK (interpreted HOF, no subexpression
    # elimination); the lambda now slices the once-per-row column
    toks = F.col("__toks")
    n_blocks = F.ceil(F.size(toks) / F.lit(float(k))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), F.greatest(n_blocks - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i * k + 1, k)),
    )
    return (
        df.withColumn("__toks",
                      F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        .select(id_col, F.posexplode(segs).alias("seg_index", "segment"))
        .filter(F.trim(F.col("segment")) != "")
    )


def dedup_segments(df: DataFrame, id_col: str, text_col: str = "text",
                   sep: str | None = None, tokens_per_segment: int = 10,
                   min_docs: int = 2,
                   broadcast_bytes: int | None = None) -> DataFrame:
    """Corpus-level segment dedup (CCNet line dedup / C4 boilerplate
    removal): fingerprint every segment, keep only each content's FIRST
    global occurrence (ordered by ``(id, seg_index)``), and reassemble the
    surviving text per document.

    Returns one row per input document:

    - ``n_segments`` — segments the document split into;
    - ``n_kept_first`` — segments surviving keep-first global dedup;
    - ``n_common_segments`` — segments whose content appears in at least
      ``min_docs`` distinct documents (the boilerplate count; a
      drop-common policy filters on this instead of keep-first);
    - ``text_kept_first`` — the document re-joined from its surviving
      segments in original order ('' when every segment was seen earlier).

    100 TB shape: segments shuffle ONCE on their 56-bit fingerprint; the
    two-level aggregate (``(fp, id)`` then ``fp``) keeps the
    distinct-document count out of a count-distinct expand, and the
    occurrence join reuses the fingerprint hash partitioning from the
    aggregate, so no segment text is ever compared pairwise.  Reassembly
    is one shuffle back on the document id.  Reference analogue: the
    text-cleaning dedup inside post filtering (SURVEY §2.3 P4) lifted
    from document to segment grain.

    NOTE (ADVICE r12): plan construction is EAGER — the segment stream
    is query-scope persisted and the occurrence side's ``measured_hint``
    may persist + count it (skipped when the statistics catalog already
    holds its bytes).  Library callers outside the query registry own
    the release: ``core.cache.scope_mark()`` / ``release_scoped()``
    after consuming the result.
    """
    from ..core.cache import scoped_persist

    # the segment frame feeds the occurrence aggregate AND the kept-join;
    # persist it (re-spread first — on an unsplittable single-row-group
    # input the explode would otherwise run serially, twice)
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                          "32"))
    segs = segment_documents(df.repartition(n_part), id_col, text_col,
                             sep, tokens_per_segment)
    segs = scoped_persist(segs.withColumn("seg_fp", hash56(F.col("segment"))))
    per_doc = (
        segs.groupBy("seg_fp", id_col)
        .agg(F.min("seg_index").alias("__first_idx"))
    )
    occ = (
        per_doc.groupBy("seg_fp")
        .agg(
            F.count(F.lit(1)).alias("__n_docs"),
            F.min(F.struct(F.col(id_col).alias("i"),
                           F.col("__first_idx").alias("p"))).alias("__first"),
        )
    )
    # measured hint (r11 verdict ask 4): occ's static size estimate
    # passes through the posexplode fan-out, which Catalyst cannot see —
    # unhinted, a corpus of long documents gets a corpus-size broadcast
    # here, while a blanket merge hint pays a full shuffle of `segs`
    # even when occ genuinely fits.  Materializing occ and reading its
    # ACTUAL cached bytes keeps both properties (broadcast small, merge
    # big); the small case skips shuffling the corpus-scale segment
    # stream entirely.
    from ..core.stats import measured_hint

    occ_hinted, _ = measured_hint(occ, broadcast_bytes=broadcast_bytes)
    joined = segs.join(occ_hinted, "seg_fp")
    kept = (F.col("__first.i") == F.col(id_col)) & \
        (F.col("__first.p") == F.col("seg_index"))
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(kept.cast("long")).alias("n_kept_first"),
            F.sum((F.col("__n_docs") >= min_docs).cast("long"))
            .alias("n_common_segments"),
            F.concat_ws(" ", F.transform(
                F.array_sort(F.collect_list(
                    F.when(kept, F.struct(F.col("seg_index").alias("p"),
                                          F.col("segment").alias("s"))))),
                lambda x: x["s"])).alias("text_kept_first"),
        )
    )


def kgram_occurrences(df: DataFrame, id_col: str, text_col: str = "text",
                      k: int = 50) -> DataFrame:
    """Overlapping token ``k``-gram fingerprints with positions: one row
    per ``(id, pos, kgram_fp)`` for every start position ``pos`` in
    ``0..n_tokens-k`` (normalized lowercase whitespace tokens).

    This is the substring-dedup grain (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): the suffix-array
    structure the paper builds is single-machine; the Spark-first
    equivalent is this linear fingerprint stream — ~one output row per
    corpus token, the same O(n) footprint as the suffix array, but
    shuffle-partitioned instead of memory-resident.  The k-token concat
    feeding each hash is transient inside the codegen ``transform``; only
    ``(id, pos, fp)`` leaves the scan.

    The fingerprint is the FULL-width 112-bit md5 struct built below
    (``struct<hi, lo>``: the digest's two 56-bit halves, each by the
    :func:`..text.hash56` arithmetic), not the 56-bit hash the
    document/segment grains use: those grains key ~one hash per document
    or block, while this one keys ~one per corpus TOKEN — at the 100 TB
    target that is ~1e13 keys, where 56-bit birthday collisions
    (~n²/2⁵⁷ ≈ 1e9 pairs) would each silently delete ≥k real tokens.
    At 112 bits the expected colliding pairs are ~1e-8.

    Documents shorter than ``k`` tokens emit no rows (they have no
    ``k``-token substring; document-grain exact dedup covers them).
    """
    tokens = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # r14: two per-task-work fixes on the dominant CPU (guide §4.2 /
    # §1.2).  (a) The lambda emits the raw md5 HEX once per position;
    # the hi/lo struct is split out AFTER the explode in a codegen'd
    # Project — building the struct inside the lambda evaluated
    # ``md5(concat_ws(slice(...)))`` TWICE per position (array HOF
    # lambdas run interpreted — codegen subexpression elimination never
    # sees them; measured 1.5× on the fingerprint pass, bit-identical
    # structs).  (b) The token split is HOISTED into a projected column:
    # a lambda body embedding the split re-ran the full regex split once
    # per k-gram POSITION (measured another 1.7× on this pass).
    toks = F.col("__toks")
    md5s = F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda p: F.md5(F.concat_ws(" ", F.slice(toks, p + 1, k))),
    )
    # explicit-count repartition before the CPU-bound fan-out (see
    # word_shingles: bare repartition(col) is AQE-coalescible to ~1)
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                          "32"))
    return (
        df.filter(F.size(tokens) >= k)
        .repartition(n_part, F.col(id_col))
        .withColumn("__toks", tokens)
        .select(F.col(id_col),
                F.posexplode(md5s).alias("pos", "__h"))
        .select(
            F.col(id_col), "pos",
            F.struct(
                F.conv(F.substring("__h", 1, 14), 16, 10).cast("long")
                .alias("hi"),
                F.conv(F.substring("__h", 15, 14), 16, 10).cast("long")
                .alias("lo"),
            ).alias("kgram_fp"),
        )
    )


def duplicate_spans(df: DataFrame, id_col: str, text_col: str = "text",
                    k: int = 50, policy: str = "keep_first",
                    broadcast_bytes: int | None = None) -> DataFrame:
    """Maximal duplicated token spans per document — exact substring
    dedup at span grain (Lee et al. 2021 semantics, keep-first policy).

    Under ``policy="keep_first"`` (default) a position is *duplicated*
    when its ``k``-gram's content occurred earlier in the corpus
    (global order ``(id, pos)`` — the corpus-wide keep-first convention
    :func:`dedup_segments` also uses, preserving one copy of every
    passage).  ``policy="drop_all"`` is the paper's exact semantics:
    EVERY occurrence of a corpus-repeated ``k``-gram is duplicated,
    including the first (Lee et al. remove all copies of a repeated
    substring).  Overlapping/adjacent duplicated ``k``-grams are merged
    into maximal half-open token spans ``[span_start, span_end)``.

    Returns one row per span: ``(id, span_start, span_end, n_kgram_hits)``.

    100 TB shape: the only corpus-size shuffle is the fingerprint
    aggregate (map-side-combining ``min(struct(id, pos)) + count``, one
    16-byte 112-bit key — full-width so span deletion cannot be
    triggered by a fingerprint collision, see :func:`kgram_occurrences`);
    the hit join reuses that hash partitioning; the
    interval merge is a per-document window over the *duplicated* rows
    only (a corpus-duplication-fraction subset, each document's rows
    bounded by its own length).  A k-gram shared by millions of
    documents is an aggregate fan-in plus an equi-join fan-out — never a
    self-join, so no hot bucket goes quadratic.  The hit join's strategy
    is decided from the first-occurrence table's MEASURED cached bytes
    (``core.stats.measured_hint``): broadcast when it fits
    (``broadcast_bytes``, default the session threshold), merge —
    reusing the aggregate's hash partitioning — when it does not.

    NOTE (ADVICE r12): plan construction is EAGER — the occurrence
    stream is query-scope persisted and ``measured_hint`` may persist +
    count the first-occurrence side (skipped when the statistics
    catalog already holds its bytes).  Library callers outside the
    query registry own the release: ``core.cache.scope_mark()`` /
    ``release_scoped()`` after consuming the result.
    """
    from ..core.cache import scoped_persist

    # the occurrence stream feeds the first-occurrence aggregate AND the
    # hit join; persist so the O(n·k) k-gram hashing scan runs once
    if policy not in ("keep_first", "drop_all"):
        raise ValueError(f"unknown policy {policy!r}")
    occ = scoped_persist(kgram_occurrences(df, id_col, text_col, k))
    first = occ.groupBy("kgram_fp").agg(
        F.min(F.struct(F.col(id_col).alias("i"),
                       F.col("pos").alias("p"))).alias("__first"),
        F.count(F.lit(1)).alias("__n_occ"),
    )
    # measured hint (r11 verdict ask 4): `first` is ~one row per
    # distinct k-gram, but Catalyst's size estimate for it passes
    # through the posexplode, whose ~k× fan-out is INVISIBLE to static
    # size estimation — the estimate lands under the broadcast
    # threshold and Spark plans a corpus-size broadcast (measured: a
    # 1 GiB driver-side collect at 1M docs).  Materializing `first`
    # and deciding from its ACTUAL cached bytes broadcasts only when
    # it truly fits (skipping the full shuffle of the occurrence
    # stream the blanket merge hint paid at bench scale) and merges
    # above — scripts/span_curve.py proves the large case stays
    # broadcast-free.
    from ..core.stats import measured_hint

    first_hinted, _ = measured_hint(first, broadcast_bytes=broadcast_bytes)
    joined = occ.join(first_hinted, "kgram_fp")
    if policy == "drop_all":
        dup_cond = F.col("__n_occ") > 1
    else:
        dup_cond = ~((F.col("__first.i") == F.col(id_col))
                     & (F.col("__first.p") == F.col("pos")))
    dups = joined.filter(dup_cond).select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    is_new = F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1) \
        .otherwise(0)
    spans = (
        dups.withColumn("__new", is_new)
        .withColumn("__span", F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(id_col, "__span")
        .agg(F.min("pos").cast("long").alias("span_start"),
             (F.max("pos") + k).cast("long").alias("span_end"),
             F.count(F.lit(1)).alias("n_kgram_hits"))
        .drop("__span")
    )
    return spans


def dedup_spans(df: DataFrame, id_col: str, text_col: str = "text",
                k: int = 50, policy: str = "keep_first",
                broadcast_bytes: int | None = None) -> DataFrame:
    """Document-grain exact substring dedup: remove every maximal token
    span (≥ ``k`` tokens) whose content appeared earlier in the corpus,
    and reassemble the surviving text.

    The missing member of the dedup family between :func:`exact_dedup`
    (whole-document grain) and :func:`dedup_segments` (fixed
    non-overlapping block grain): block dedup cannot see a duplicated
    passage that straddles a block boundary or starts mid-block; the
    overlapping ``k``-gram stream sees every duplicated substring of
    length ≥ ``k`` at its exact extent, which is what Lee et al. 2021
    showed matters for memorization.

    Returns one row per input document:

    - ``n_tokens`` — normalized token count;
    - ``n_dup_kgrams`` — duplicated ``k``-gram positions;
    - ``n_dup_spans`` — maximal duplicated spans;
    - ``n_dup_span_tokens`` — tokens covered by those spans (spans are
      disjoint after merging, so this is exact coverage);
    - ``text_span_deduped`` — the document re-joined from uncovered
      tokens in original order ('' when fully covered).

    Reconstruction is per-document codegen array work, LINEAR in
    ``tokens + spans``: the merged spans are disjoint, so sorting them
    by start position turns the survivor set into the gap slices
    ``[0, s₀) ∪ [e₀, s₁) ∪ … ∪ [e_last, n)`` — one ``slice`` per gap
    ``zip_with``-folded over the span boundaries (a per-position
    membership probe would be O(tokens × spans), ~len²/k worst case on
    a long heavily-duplicated document).  No second corpus shuffle
    beyond the one the span derivation already pays plus the join back
    on the document id.

    NOTE (ADVICE r12): plan construction is EAGER (see
    :func:`duplicate_spans`; the per-document span side adds one more
    ``measured_hint``) — library callers outside the query registry
    should release scoped persists after consuming the result.
    """
    spans = duplicate_spans(df, id_col, text_col, k, policy,
                            broadcast_bytes)
    per_doc = spans.groupBy(id_col).agg(
        F.sum("n_kgram_hits").alias("n_dup_kgrams"),
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start"))
        .alias("n_dup_span_tokens"),
        F.collect_list(F.struct(F.col("span_start").alias("s"),
                                F.col("span_end").alias("e")))
        .alias("__spans"),
    )
    tokens = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # gap boundaries: kept-run i starts at the previous span's end (or
    # 0) and stops at span i's start (or n); spans are disjoint after
    # the maximal merge, so array_sort by start orders both boundary
    # lists consistently and every gap is non-negative except the
    # possibly-empty first ([0, s₀) when a span starts at 0) and last
    # ([e_last, n) when a span ends at n) — greatest(…, 0) handles both
    sorted_spans = F.array_sort(F.col("__spans"))
    n_toks = F.size("__toks").cast("long")
    gap_starts = F.concat(
        F.array(F.lit(0).cast("long")),
        F.transform(sorted_spans, lambda sp: sp["e"]))
    gap_ends = F.concat(
        F.transform(sorted_spans, lambda sp: sp["s"]),
        F.array(n_toks))
    kept = F.flatten(F.zip_with(
        gap_starts, gap_ends,
        lambda b, s: F.slice(F.col("__toks"), (b + 1).cast("int"),
                             F.greatest(s - b, F.lit(0)).cast("int"))))
    # measured hint: per_doc is duplication-fraction-sized, but its
    # estimate flows through the k-gram explode (invisible fan-out, see
    # the hit join above) — on a heavily-duplicated corpus an
    # auto-broadcast here would collect a corpus-scale frame, while the
    # common low-duplication case fits and broadcasting it avoids
    # shuffling the whole corpus on the document id
    from ..core.stats import measured_hint

    per_doc_hinted, _ = measured_hint(per_doc,
                                      broadcast_bytes=broadcast_bytes)
    return (
        df.join(per_doc_hinted, id_col, "left")
        .withColumn("__toks", tokens)
        .withColumn("__spans", F.coalesce(
            F.col("__spans"),
            F.array().cast("array<struct<s:long,e:long>>")))
        .select(
            id_col,
            F.size("__toks").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_dup_kgrams"), F.lit(0)).cast("long")
            .alias("n_dup_kgrams"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long")
            .alias("n_dup_spans"),
            F.coalesce(F.col("n_dup_span_tokens"), F.lit(0)).cast("long")
            .alias("n_dup_span_tokens"),
            F.concat_ws(" ", kept).alias("text_span_deduped"),
        )
    )
