"""Deterministic synthetic corpora for stress/scale benchmarks.

These generators synthesize large inputs directly from ``spark.range``
(no disk, no dependence on driver-provided testdata), so throughput
measurements 1-2 orders of magnitude beyond sf0.1 stay reproducible.
Shared by ``bench.py``'s scale paths and ``scripts/span_curve.py`` —
one definition, identical corpora in both artifacts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def planted_span_corpus(spark: SparkSession, n_docs: int,
                        dup_fraction: int = 10,
                        n_templates: int = 100,
                        passage_tokens: int = 30,
                        body_tokens: int = 60,
                        vocab: int = 50_000) -> DataFrame:
    """Substring-dedup stress corpus: every ``dup_fraction``-th document
    embeds a ``passage_tokens``-token passage drawn from an
    ``n_templates``-template pool (the mirror-crawl shape — the same
    boilerplate passage recurs across unrelated documents), surrounded
    by ``body_tokens`` of xxhash64-scattered unique filler over a
    ``vocab``-word vocabulary.

    Ground truth: ~``n_docs/dup_fraction - n_templates`` duplicated
    spans of EXACTLY ``passage_tokens`` tokens (every occurrence of a
    template after its global first), zero spans elsewhere — so a span
    dedup at ``k <= passage_tokens`` must find each planted copy at its
    exact extent and nothing else.  Pure integer-hash arithmetic,
    bit-identical across runs.
    """
    half = body_tokens // 2
    filler = lambda lo, hi: F.transform(  # noqa: E731
        F.sequence(F.lit(lo), F.lit(hi)),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("id") * 1_000_003 + i), vocab)
            .cast("string")))
    # template index from id // dup_fraction, not id % n_templates: the
    # carriers are the multiples of dup_fraction, whose residues mod
    # n_templates would only ever hit n_templates/gcd values — dividing
    # first walks ALL templates round-robin across carriers
    passage = F.transform(
        F.sequence(F.lit(1), F.lit(passage_tokens)),
        lambda i: F.concat(
            F.lit("t"),
            (F.pmod(F.floor(F.col("id") / dup_fraction), n_templates)
             * passage_tokens + i).cast("string")))
    carries = F.pmod(F.col("id"), F.lit(dup_fraction)) == 0
    toks = F.when(
        carries,
        F.concat(filler(1, half), passage, filler(half + 1, body_tokens))
    ).otherwise(filler(1, body_tokens + passage_tokens))
    return spark.range(n_docs).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.array_join(toks, " ").alias("text"))


def hot_bucket_corpus(spark: SparkSession, n_docs: int,
                      hot_fraction: int = 20,
                      body_tokens: int = 40,
                      vocab: int = 50_000) -> DataFrame:
    """LSH-guard stress corpus: every ``hot_fraction``-th document is the
    SAME boilerplate text (one degenerate near-dup bucket of
    ``n_docs/hot_fraction`` members — ``b(b-1)/2`` candidate pairs if
    unguarded), the rest unique hash-scattered filler.  The shape a
    mirror crawl or an error-page corpus produces, used to measure the
    ``max_bucket`` hot-bucket guard.
    """
    hot = F.pmod(F.col("id"), F.lit(hot_fraction)) == 0
    filler = F.transform(
        F.sequence(F.lit(1), F.lit(body_tokens)),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("id") * 999_983 + i), vocab)
            .cast("string")))
    boiler = F.transform(
        F.sequence(F.lit(1), F.lit(body_tokens)),
        lambda i: F.concat(F.lit("hot"), i.cast("string")))
    return spark.range(n_docs).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.array_join(F.when(hot, boiler).otherwise(filler), " ")
        .alias("text"))


def time_extended_event_slices(spark: SparkSession, events: DataFrame,
                               landing_dir: str, factor: int,
                               rows_per_slice: int = 12_500,
                               gap_seconds: int = 10_800) -> dict:
    """Write a time-EXTENDED ``factor``× copy of an events table as a
    landing directory of contiguous, time-ordered parquet slices — the
    file-drop shape a production ingestion stream consumes.

    Copy ``i`` shifts ``ts`` by ``i × (span + gap_seconds)`` (the gap
    must exceed the dedup watermark so copies never interleave inside
    one horizon; default 3 h > the 2 h default horizon) and
    ``event_id`` by ``i × 10^12`` (ids stay globally unique — the
    streaming dedup must not collapse rows across copies).  ``user_id``
    is NOT shifted: the user population is the stable dimension a
    longer stream keeps enriching against.

    Slices hold a CONSTANT ``rows_per_slice`` each, so a
    ``maxFilesPerTrigger=1`` drain sees constant-size micro-batches and
    the scale curve isolates the claim that matters at 100 TB: state
    and per-batch cost track the ARRIVAL RATE × watermark horizon, not
    the corpus size (a 10× longer stream is 10× more batches, not 10×
    more state).  Files are stamped with strictly increasing mtimes —
    the file source orders by modification time, so batch k is time
    range k.

    Single Spark job: slice ids come from a global ``ntile`` over event
    time (bench-gen convenience; a production writer would
    ``repartitionByRange`` straight off the feed), written
    ``partitionBy`` slice, then the part files are renamed into the
    flat landing layout.  Returns ``{"n_slices": int, "rows": int,
    "write_sec": float}``.
    """
    import math
    import os
    import shutil
    import time

    from pyspark.sql import Window

    t0 = time.perf_counter()
    span = events.select(
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
         + F.lit(int(gap_seconds))).alias("s")).first()["s"]
    parts = []
    for i in range(factor):
        c = (events
             .withColumn("ts", F.col("ts")
                         + F.expr(f"INTERVAL {int(i) * int(span)} SECOND"))
             .withColumn("event_id",
                         F.col("event_id") + F.lit(i * 1_000_000_000_000)))
        parts.append(c)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    n_rows = events.count() * factor
    n_slices = max(1, int(math.ceil(n_rows / rows_per_slice)))
    sliced = out.withColumn(
        "__slice",
        F.ntile(n_slices).over(Window.orderBy("ts", "event_id")) - 1)
    tmp = landing_dir.rstrip("/") + ".__stage"
    (sliced.repartition(n_slices, "__slice")
     .write.mode("overwrite").partitionBy("__slice").parquet(tmp))
    os.makedirs(landing_dir, exist_ok=True)
    base = time.time() - 86_400
    written = 0
    for s in range(n_slices):
        sdir = os.path.join(tmp, f"__slice={s}")
        part = [f for f in os.listdir(sdir)
                if f.endswith(".parquet") and not f.startswith(".")]
        for j, f in enumerate(sorted(part)):
            dst = os.path.join(landing_dir, f"ev_{s:05d}_{j}.parquet")
            shutil.move(os.path.join(sdir, f), dst)
            os.utime(dst, (base + s, base + s))
            written += 1
    shutil.rmtree(tmp, ignore_errors=True)
    return {"n_slices": n_slices, "rows": int(n_rows),
            "write_sec": round(time.perf_counter() - t0, 1),
            "n_files": written}
