"""Mergeable cardinality / frequency sketches (HyperLogLog, count-min).

The 100 TB rationale: ``COUNT(DISTINCT x)`` needs a shuffle of every
distinct value; an HLL register vector is a FIXED 2^p-row summary whose
per-partition partials merge by elementwise ``max`` — the same
partial/final split Spark's hash aggregate already performs, so the
distinct-cardinality of a 100 TB column costs one scan plus a
2^p-per-group shuffle.  Likewise a count-min sketch summarizes per-key
frequencies into a fixed ``d×w`` counter grid built by ONE hash
aggregate, with point lookups that never touch the fact table again.

Spark ships HLL internally (``approx_count_distinct``); this module
re-derives the registers with an explicitly portable integer hash so the
DuckDB oracle can replay the register construction bit-for-bit — the
same cross-engine-determinism trade as ``text.winnow_fingerprints``
(polynomial hash over murmur).  The register CONSTRUCTION is the
distributed operator under test; turning 2^p integers into a corrected
estimate is O(m) local math (property-tested, not oracled, because the
bias-corrected branch needs ``ln`` whose libm rounding differs across
engines).  The raw-estimate column IS oracle-safe: every term
``2^(2^p_bits - p_bits) / 2^reg`` is dyadic, so the aggregate sum is an
exact integer and the single IEEE division that follows is identical in
any engine.

All arithmetic stays inside whole-stage codegen — no UDFs, no explode
except the deliberate ``d``-way fan-out of the count-min builder.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

#: Mersenne prime 2^31-1 — the Lehmer modulus.  Keeping every
#: intermediate below 2^62 means the SAME expression runs exactly in any
#: engine with 64-bit integer SQL arithmetic (no overflow, no hugeint).
PRIME = 2_147_483_647

#: depth-indexed multiplier/offset pairs for the count-min hash family
CMS_A = (1_103_515_245, 1_588_635_695, 1_117_695_901, 1_181_783_497)
CMS_B = (12_345, 7_654_321, 2_718_281, 31_415_927)


def lehmer_sql(x: str, a: int = CMS_A[0], b: int = CMS_B[0]) -> str:
    """``((|x| % P) * a + b) % P`` as an engine-shared SQL fragment.

    ``|x| % P < 2^31`` and ``a < 2^31`` keep the product under 2^62:
    exact in int64, hence identical in Spark and DuckDB.  Affine maps
    spread evenly across cells (good for count-min) but have NO
    avalanche — sequential inputs land on a lattice whose max-rank
    statistics wreck HLL.  HLL uses :func:`mix_sql` instead.
    """
    return f"(((abs({x}) % {PRIME}) * {a} + {b}) % {PRIME})"


def mix_sql(x: str) -> str:
    """Nonlinear portable mix: affine → square mod P → affine feedback.

    ``h1 = (|x|%P)·A + B mod P;  h = (h1² mod P)·A + h1 mod P`` — the
    squaring breaks the lattice an affine-only map leaves in sequential
    ids (measured: HLL error drops from ~50% to within the canonical
    1.04/√m bound).  Every intermediate stays below 2^62, so the SAME
    string evaluates identically in Spark and DuckDB int64 arithmetic.
    """
    h1 = lehmer_sql(x)
    return (f"((({h1} * {h1}) % {PRIME}) * {CMS_A[0]} + {h1})"
            f" % {PRIME}")


def bit_length_sql(v: str, max_bits: int) -> str:
    """Integer bit-length as a comparison CASE cascade (0 for v = 0).

    ``floor(log2(v))`` would be one call, but ``log2`` is libm floating
    point and ``log(8)/log(2) = 2.9999…96`` style off-by-ones differ per
    engine; integer comparisons cannot.  Shared verbatim by the Spark
    plan and the DuckDB oracle.
    """
    arms = " ".join(
        f"WHEN {v} >= {1 << (bits - 1)} THEN {bits}"
        for bits in range(max_bits, 0, -1)
    )
    return f"(CASE {arms} ELSE 0 END)"


def hll_rank_sql(x: str, p_bits: int) -> str:
    """Bucket + rank of one item: ``(bucket, 1 + leading-zeros(rest))``.

    Returns the SQL for the rank given ``__h`` already computed; the
    caller extracts ``bucket = __h % 2^p`` separately.  With a 31-bit
    Lehmer hash and ``p_bits`` bucket bits the remaining width is
    ``w = 31 - p_bits``; ``rank = w + 1 - bit_length(rest)`` ∈ [1, w+1].
    """
    w = 31 - p_bits
    rest = f"CAST(floor({x} / {1 << p_bits}.0) AS BIGINT)"
    return f"({w} + 1 - {bit_length_sql(rest, w)})"


def hll_registers(df: DataFrame, group_cols: Sequence[str], item_col: str,
                  p_bits: int = 8) -> DataFrame:
    """Per-group HLL register vector: ``group_cols + (bucket, reg)``.

    One hash aggregate — Spark's partial/final split IS the HLL merge
    (``max`` per register), so this is a single shuffle of at most
    ``2^p_bits`` rows per group regardless of input size.  Buckets no
    item hashed into are ABSENT (implicit register 0); ``hll_summary``
    accounts for them closed-form.
    """
    h = mix_sql(item_col)
    m = 1 << p_bits
    return (
        df.select(*group_cols, F.expr(h).alias("__h"))
        .select(*group_cols,
                F.expr(f"__h % {m}").alias("bucket"),
                F.expr(hll_rank_sql("__h", p_bits)).alias("rank"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rank").alias("reg"))
    )


def hll_merge(*register_frames: DataFrame) -> DataFrame:
    """Merge register vectors from independent scans (elementwise max).

    The mergeability that makes HLL a 100 TB operator: yesterday's
    registers + today's registers = the union's registers, without
    rescanning yesterday.
    """
    merged = register_frames[0]
    for other in register_frames[1:]:
        merged = merged.unionByName(other)
    keys = [c for c in merged.columns if c != "reg"]
    return merged.groupBy(*keys).agg(F.max("reg").alias("reg"))


def hll_summary_cols(p_bits: int = 8) -> dict[str, str]:
    """Engine-shared aggregate SQL over a register frame (group cols +
    ``bucket`` + ``reg``), for use inside a GROUP BY over the group cols.

    Returns column-name -> SQL aggregate:

    - ``hll_est``: the RAW HLL estimate ``floor(α_m · m² / Σ 2^-reg)``,
      computed overflow- and libm-safely: the sum is scaled by ``2^w``
      so every term is an exact integer, absent buckets contribute
      ``2^w`` each, and the single final division is IEEE-identical in
      every engine.  (No small-range linear-counting correction here —
      that needs ``ln``; see ``hll_estimate_corrected``.)
    - ``hll_zero_regs``: number of zero registers (drives the corrected
      estimate, and an independent determinism witness).
    - ``hll_reg_digest``: position-weighted integer digest of the whole
      register vector — the oracle row pins every register, not just
      the two scalars.
    """
    m = 1 << p_bits
    w = 31 - p_bits
    alpha = f"(0.7213 / (1.0 + 1.079 / {m}.0))"
    # 2^(w - reg) as round(power(2,k)): integer powers of two are exact
    # in IEEE double for any libm, round() guards a stray ulp
    term = f"CAST(round(power(2.0, {w} - reg)) AS BIGINT)"
    inv_scaled = (f"(CAST(sum({term}) AS BIGINT)"
                  f" + ({m} - count(*)) * {1 << w})")
    return {
        "hll_est": (f"CAST(floor({alpha} * {m}.0 * {m}.0 * {1 << w}.0"
                    f" / {inv_scaled}) AS BIGINT)"),
        "hll_zero_regs": f"CAST({m} - count(*) AS BIGINT)",
        "hll_reg_digest": (f"CAST(sum(reg * ((bucket * 2654435761 + 1)"
                           f" % {PRIME})) AS BIGINT)"),
    }


def hll_summary(registers: DataFrame, group_cols: Sequence[str],
                p_bits: int = 8) -> DataFrame:
    """Collapse a register frame to per-group estimate columns."""
    aggs = [F.expr(sql).alias(name)
            for name, sql in hll_summary_cols(p_bits).items()]
    return registers.groupBy(*group_cols).agg(*aggs)


def hll_estimate_corrected(registers: DataFrame,
                           group_cols: Sequence[str],
                           p_bits: int = 8) -> DataFrame:
    """Bias-corrected estimate (Flajolet et al. 2007 small-range rule):
    below ``5/2·m`` with zero registers present, switch to linear
    counting ``m·ln(m/V)``.  Uses ``ln`` → library-quality accuracy,
    property-tested rather than cross-engine-oracled.
    """
    m = 1 << p_bits
    s = hll_summary(registers, group_cols, p_bits)
    lin = F.lit(m) * F.log(F.lit(float(m)) / F.col("hll_zero_regs"))
    corrected = (
        F.when((F.col("hll_est") <= int(2.5 * m))
               & (F.col("hll_zero_regs") > 0), lin)
        .otherwise(F.col("hll_est").cast("double"))
    )
    return s.select(*group_cols,
                    F.round(corrected).cast("long").alias("n_distinct_est"))


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------


def cms_cell_sql(item: str, depth: int, width: int) -> str:
    """Cell coordinate of ``item`` at ``depth`` — engine-shared."""
    return f"({lehmer_sql(item, CMS_A[depth], CMS_B[depth])} % {width})"


def cms_build(df: DataFrame, item_col: str, depth: int = 4,
              width: int = 512, weight_col: str | None = None) -> DataFrame:
    """Build the ``d×w`` counter grid: ``(i, cell, cnt)``.

    One deliberate ``d``-way explode then ONE hash aggregate to at most
    ``d·w`` rows — partial aggregation compresses each input partition
    to ≤ d·w counters before the (tiny) shuffle, so the fact table is
    scanned once and shuffles nothing proportional to its size.
    """
    wexpr = f"CAST({weight_col} AS BIGINT)" if weight_col else "1"
    cells = F.expr(
        "array(" + ", ".join(
            f"named_struct('i', {i}, 'cell', {cms_cell_sql(item_col, i, width)})"
            for i in range(depth)) + ")")
    return (
        df.select(F.explode(cells).alias("c"), F.expr(wexpr).alias("__w"))
        .groupBy(F.col("c.i").alias("i"), F.col("c.cell").alias("cell"))
        .agg(F.sum("__w").alias("cnt"))
    )


def bloom_build(keys: DataFrame, item_col: str, m_bits: int = 1 << 17,
                k: int = 4) -> DataFrame:
    """Build a Bloom filter of ``keys[item_col]`` as ONE row holding a
    dense ``array<long>`` of ``m_bits/64`` words.

    Dataflow: k portable hashes per key → (word, bit) → ``bit_or`` per
    word (one hash aggregate with map-side combine) → densify against
    ``range(m/64)`` → collapse to a single array row.  The array is
    ``m_bits/8`` bytes (16 KiB at the default) — broadcastable at any
    corpus size, and probing is O(1) per hash via ``element_at`` on the
    dense array (a map would linear-scan).

    At 100 TB this is the join-pruning primitive AQE's runtime bloom
    filter implements JVM-internally (``bloom_filter_agg`` is not in the
    public registry): build from the small side, filter the fact table
    BEFORE its shuffle.  False-positive rate ≈ (1-e^(-kn/m))^k — size
    ``m_bits`` ≥ ~10 bits/key for ~1%.
    """
    n_words = m_bits // 64
    # nonlinear mix once, then k distinct affine maps: breaks sequential
    # lattices while keeping the k positions decorrelated
    pos = F.explode(F.expr(
        "array(" + ", ".join(
            f"{lehmer_sql(mix_sql(item_col), CMS_A[i % 4], CMS_B[i % 4] + i)}"
            f" % {m_bits}" for i in range(k)) + ")"))
    words = (
        keys.select(pos.alias("pos"))
        .select(F.expr("CAST(pos / 64 AS INT)").alias("word"),
                F.expr("pos % 64").alias("bit"))
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(1L, CAST(bit AS INT)))").alias("bits"))
    )
    dense = (
        keys.sparkSession.range(n_words)
        .withColumnRenamed("id", "word")
        .join(words, "word", "left")
        .select("word", F.coalesce("bits", F.lit(0)).alias("bits"))
    )
    return dense.agg(F.expr(
        "transform(array_sort(collect_list(struct(word, bits))),"
        " x -> x.bits)").alias("words")).select(
        "words", F.lit(m_bits).alias("m_bits"), F.lit(k).alias("k"))


def bloom_probe(df: DataFrame, bloom: DataFrame,
                item_col: str) -> DataFrame:
    """Keep only rows whose ``item_col`` MIGHT be in the filter.

    No false negatives (every inserted key passes); false positives pass
    at the configured rate and are eliminated by the real join that
    follows — so ``join(bloom_probe(fact, bloom_build(dim)), dim)``
    equals ``join(fact, dim)`` while shuffling only the surviving
    fraction of the fact table.  The filter row is broadcast; the probe
    is a codegen conjunction of k O(1) word lookups — no shuffle added.

    ``m_bits``/``k`` are read from the filter row itself (written by
    ``bloom_build``), so build and probe can never disagree on the hash
    family — a mismatch would silently break the no-false-negative
    guarantee.  Reading them is one job over the one-row frame; the
    frame is query-scope-persisted so the cross join reuses it.
    """
    from ..core.cache import scoped_persist

    bloom = scoped_persist(bloom)
    meta = bloom.select("m_bits", "k").first()
    m_bits, k = int(meta.m_bits), int(meta.k)
    checks = [
        f"(shiftright(element_at(words, CAST(__p{i} / 64 AS INT) + 1),"
        f" CAST(__p{i} % 64 AS INT)) & 1) = 1"
        for i in range(k)
    ]
    probed = df.crossJoin(F.broadcast(bloom.select("words")))
    for i in range(k):
        probed = probed.withColumn(
            f"__p{i}",
            F.expr(f"{lehmer_sql(mix_sql(item_col), CMS_A[i % 4], CMS_B[i % 4] + i)}"
                   f" % {m_bits}"))
    return (probed.filter(F.expr(" AND ".join(checks)))
            .drop("words", *[f"__p{i}" for i in range(k)]))


def histogram_bins(df: DataFrame, group_cols: Sequence[str],
                   value_col: str, n_bins: int = 256) -> DataFrame:
    """Per-group equi-width histogram: ``group_cols + (bin, n)`` plus the
    per-group ``(vmin, vmax, total)`` frame it was built against.

    Returns ``(bins, bounds)``.  Two passes over the data — an exact
    min/max aggregate, then ONE bin-count hash aggregate of at most
    ``n_bins`` rows per group; both have map-side partials, so at 100 TB
    the cost is two scans and two fixed-width shuffles.  Bin counts from
    disjoint scans over the same bounds merge by addition — the
    mergeable-quantile property (t-digest would adapt bin placement but
    is not expressible as one hash aggregate, and its merge is
    order-dependent; fixed bins trade resolution for exact determinism
    and SQL portability).

    Bin assignment ``floor((v - vmin) / width)`` is pure IEEE double
    arithmetic — deterministic and engine-identical; ``v = vmax`` clamps
    into the last bin.
    """
    g = list(group_cols)
    bounds = df.groupBy(*g).agg(
        F.min(value_col).cast("double").alias("vmin"),
        F.max(value_col).cast("double").alias("vmax"),
        F.count(value_col).alias("total"))
    joined = df.join(F.broadcast(bounds), g) if g else df.crossJoin(
        F.broadcast(bounds))
    bin_expr = F.expr(
        f"least({n_bins - 1}, greatest(0, CAST(floor("
        f"(CAST({value_col} AS DOUBLE) - vmin) * {n_bins}.0"
        f" / (vmax - vmin)) AS INT)))")
    bins = (
        joined.filter(F.col(value_col).isNotNull()
                      & (F.col("vmax") > F.col("vmin")))
        .select(*g, bin_expr.alias("bin"))
        .groupBy(*g, "bin").agg(F.count(F.lit(1)).alias("n"))
    )
    return bins, bounds


def histogram_quantile(df: DataFrame, group_cols: Sequence[str],
                       value_col: str, quantiles: Sequence[float],
                       n_bins: int = 256) -> DataFrame:
    """Approximate per-group quantiles from the equi-width histogram,
    with linear interpolation inside the crossing bin.

    Error bound: one bin width ``(vmax-vmin)/n_bins`` — rank-exact to
    ±total/n_bins under any distribution, and every arithmetic step
    (cumulative window sum over ≤ n_bins rows per group, one multiply,
    one divide) is engine-deterministic, which is what lets the oracle
    hash-check it.  Output: group cols + ``q_<pct>`` per quantile.
    """
    from pyspark.sql import Window

    g = list(group_cols)
    bins, bounds = histogram_bins(df, g, value_col, n_bins)
    w = Window.partitionBy(*[F.col(c) for c in g]).orderBy("bin") \
        if g else Window.orderBy("bin")
    cum = bins.withColumn("cum", F.sum("n").over(w))
    cum = cum.join(F.broadcast(bounds), g) if g else cum.crossJoin(
        F.broadcast(bounds))
    out_cols = []
    for q in quantiles:
        name = f"q_{str(q).replace('0.', '')}"
        target = f"({q} * total)"
        # first bin whose cumulative count reaches the target rank;
        # interpolate within it: vmin + width*(bin + frac)
        est = (
            f"min_by(vmin + (vmax - vmin) / {n_bins}.0 * (bin"
            f" + (greatest({target} - (cum - n), 0.0)) / n), "
            f"CASE WHEN cum >= {target} THEN bin ELSE {n_bins} END)")
        out_cols.append(F.expr(est).alias(name))
    agg = cum.groupBy(*g).agg(*out_cols) if g else cum.groupBy().agg(*out_cols)
    if not g:
        return agg
    # all-equal groups produce no bins (the vmax > vmin filter): their
    # every quantile IS the constant — emit it from the bounds side
    fills = bounds.filter("vmax = vmin").select(
        *g, *[F.col("vmin").alias(f"q_{str(q).replace('0.', '')}")
              for q in quantiles])
    return agg.unionByName(fills)


def filter_by_quantile(df: DataFrame, value_col: str, q: float,
                       keep: str = "above",
                       group_cols: Sequence[str] = (),
                       n_bins: int = 1024) -> DataFrame:
    """Keep rows whose ``value_col`` is above (or below) the (per-group)
    ``q``-quantile — the quality-gate stage of a training pipeline
    ("drop the bottom decile by quality score") without a global sort.

    Two fixed-width aggregate passes to find the threshold (see
    :func:`histogram_quantile`; accurate to one bin width), then one
    broadcast-joined filter scan.  A sort-based exact quantile would
    shuffle the full corpus; this never shuffles anything proportional
    to it.
    """
    g = list(group_cols)
    name = f"q_{str(q).replace('0.', '')}"
    thresholds = histogram_quantile(df, g, value_col, [q], n_bins) \
        .withColumnRenamed(name, "__thr")
    joined = df.join(F.broadcast(thresholds), g) if g else \
        df.crossJoin(F.broadcast(thresholds))
    cmp = (F.col(value_col) >= F.col("__thr")) if keep == "above" else \
        (F.col(value_col) <= F.col("__thr"))
    return joined.filter(cmp).drop("__thr")


def cms_lookup(grid: DataFrame, keys: DataFrame, item_col: str,
               depth: int = 4, width: int = 512) -> DataFrame:
    """Point-estimate every row of ``keys``: ``min_i grid[i][h_i(key)]``.

    Never an underestimate (counters only ever include extra
    collisions); exact when no colliding key shares all ``d`` cells.
    The grid side is ≤ ``d·w`` rows → broadcast join.
    """
    coords = F.expr(
        "array(" + ", ".join(
            f"named_struct('i', {i}, 'cell', {cms_cell_sql(item_col, i, width)})"
            for i in range(depth)) + ")")
    probes = keys.select("*", F.explode(coords).alias("__c"))
    out_cols = [c for c in keys.columns]
    return (
        probes.join(F.broadcast(grid),
                    (probes["__c.i"] == grid["i"])
                    & (probes["__c.cell"] == grid["cell"]), "left")
        .groupBy(*out_cols)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_est"))
    )


def hll_overlap_estimate(left: DataFrame, right: DataFrame,
                         item_col: str, p_bits: int = 10) -> DataFrame:
    """Join-key overlap diagnostics from HLL sketches alone:
    estimate ``|A|``, ``|B|``, ``|A∪B|`` (merged registers), and by
    inclusion–exclusion ``|A∩B|`` plus the containment ratios
    ``overlap/|A|`` and ``overlap/|B|`` — the pre-join cardinality
    report a 100 TB pipeline runs BEFORE committing to a join strategy
    (broadcast? bloom-prune? is the join even selective?).

    Cost: one register aggregate per side (≤ 2^p_bits rows each) and a
    constant-size merge — the inputs are never joined.  Error compounds
    across the three estimates (~3·1.04/sqrt(2^p_bits) worst case on the
    intersection; negative estimates clamp to 0), so this is a planning
    signal, not an exact count — the default p=10 gives ~±10% on the
    intersection of similar-sized sides.
    """
    one = F.lit(1)
    a = hll_registers(left.select(F.col(item_col)), [], item_col, p_bits) \
        .withColumn("__side", one)
    b = hll_registers(right.select(F.col(item_col)), [], item_col, p_bits) \
        .withColumn("__side", one)
    est = hll_estimate_corrected(a.drop("__side"), [], p_bits) \
        .select(F.col("n_distinct_est").alias("n_left"))
    est_b = hll_estimate_corrected(b.drop("__side"), [], p_bits) \
        .select(F.col("n_distinct_est").alias("n_right"))
    union = hll_estimate_corrected(
        hll_merge(a.drop("__side"), b.drop("__side")), [], p_bits) \
        .select(F.col("n_distinct_est").alias("n_union"))
    out = est.crossJoin(est_b).crossJoin(union)
    inter = F.greatest(
        F.col("n_left") + F.col("n_right") - F.col("n_union"), F.lit(0))
    return out.select(
        "n_left", "n_right", "n_union",
        inter.alias("n_overlap_est"),
        F.round(inter / F.greatest(F.col("n_left"), F.lit(1)), 4)
        .alias("containment_left"),
        F.round(inter / F.greatest(F.col("n_right"), F.lit(1)), 4)
        .alias("containment_right"),
    )
