"""Deterministic stratified sampling with exact per-stratum quotas — the
sampling step of the per-document governance record
(``plans/curation_queries.corpus_quality_governance``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W, functions as F


def stratified_sample(df: DataFrame, strata_cols: Sequence[str],
                      fraction: float, key_col: str,
                      fractions: dict | None = None,
                      flag_only: bool = False) -> DataFrame:
    """Deterministic stratified downsample with EXACT per-stratum quotas:
    every stratum keeps ``ceil(fraction_s * n_s)`` rows, chosen by a
    content-independent hash order so the sample is reproducible across
    runs, partitionings, and engines (no ``rand()``, no seed plumbing).

    ``fractions`` optionally overrides the global ``fraction`` per
    stratum, keyed by the tuple of stratum values (single-column strata
    may key by the bare value) — the mixture-rebalancing use ("keep 10%
    of web, 100% of books").

    Mechanics: rows are ranked inside each stratum by
    ``(hash56(key), key)`` — a uniform 56-bit md5-derived order — and a
    count window supplies ``n_s``; rank ≤ quota survives.  One shuffle on
    the strata columns.  Skew note: a single giant stratum serializes
    into one task under the window.

    ``flag_only=True`` keeps every row and emits the membership verdict
    as an ``in_sample`` boolean (plus ``stratum_quota``) instead of
    filtering — the audit/join form.
    """
    from .text import hash56

    strata = [F.col(c) for c in strata_cols]
    w = W.partitionBy(*strata)
    order = w.orderBy(hash56(F.col(key_col).cast("string")),
                      F.col(key_col))
    frac = F.lit(float(fraction))
    if fractions:
        expr = F.lit(float(fraction))
        for key, f in fractions.items():
            tup = key if isinstance(key, tuple) else (key,)
            if len(tup) != len(strata_cols):
                raise ValueError(
                    f"fractions key {key!r} must name all strata "
                    f"columns {list(strata_cols)}")
            cond = F.lit(True)
            for c, v in zip(strata_cols, tup):
                cond = cond & (F.col(c) == F.lit(v))
            expr = F.when(cond, F.lit(float(f))).otherwise(expr)
        frac = expr
    out = (
        df.withColumn("__rnk", F.row_number().over(order))
        .withColumn("__n", F.count(F.lit(1)).over(w))
        .withColumn("stratum_quota",
                    F.ceil(frac * F.col("__n")).cast("long"))
    )
    if flag_only:
        return out.withColumn(
            "in_sample", F.col("__rnk") <= F.col("stratum_quota")
        ).drop("__rnk", "__n")
    return (out.filter(F.col("__rnk") <= F.col("stratum_quota"))
            .drop("__rnk", "__n"))
