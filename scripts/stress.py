#!/usr/bin/env python
"""Throughput stress: core operators against in-memory synthetic data
1-2 orders of magnitude beyond sf0.1.

The correctness gate runs at sf0.01 and bench at sf0.1 (~1.5 M events,
5 k docs) — small enough that per-job latency dominates.  This script
synthesizes much larger inputs directly from ``spark.range`` (no disk,
no dependence on the driver-provided testdata) and measures the
operators whose cost grows with data volume, reporting rows/second so
the 100 TB extrapolation rests on measured throughput, not narrative.

Usage: python scripts/stress.py [events_millions] [docs_thousands]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from barberini_analytics_spark.core.session import get_spark  # noqa: E402
from barberini_analytics_spark.operators import dedup as D  # noqa: E402
from barberini_analytics_spark.operators import relational as R  # noqa: E402
from barberini_analytics_spark.operators import sketch as SK  # noqa: E402
from barberini_analytics_spark.operators import text as X  # noqa: E402


def main() -> None:
    n_events = int(float(sys.argv[1]) * 1e6) if len(sys.argv) > 1 \
        else 30_000_000
    n_docs = int(float(sys.argv[2]) * 1e3) if len(sys.argv) > 2 else 200_000

    spark = get_spark("barberini-stress")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").write \
        .format("noop").mode("overwrite").save()

    results: dict[str, dict] = {}

    def run(name: str, df, rows: int) -> None:
        # accepts a thunk for operators that do eager work (checkpoint
        # rounds) during plan CONSTRUCTION — a pre-built frame would
        # leave that cost outside the timer.  The host gets multi-second
        # CPU-interference bursts from outside the container, so every
        # figure records the loadavg bracket it was measured under —
        # a number taken at load > ~4 is a floor, not a throughput.
        load_before = os.getloadavg()[0]
        start = time.perf_counter()
        if callable(df):
            df = df()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - start
        results[name] = {"sec": round(dt, 2),
                         "rows_in": rows,
                         "rows_per_sec": int(rows / dt),
                         "loadavg": [round(load_before, 1),
                                     round(os.getloadavg()[0], 1)]}

    # --- events-shaped table, n_events rows, synthesized in the scan ----
    events = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 1_000_000).alias("user_id"),
        F.expr("timestamp_micros(CAST(1700000000000000 + id * 1e4 AS LONG))")
        .alias("ts"),
        F.element_at(
            F.array(*[F.lit(t) for t in
                      ("view", "click", "purchase", "error")]),
            (F.col("id") % 4 + 1).cast("int")).alias("event_type"),
        (F.col("id") % 997).cast("double").alias("value"))

    # keyed aggregation (A2-shape): one shuffle on user_id
    run("user_rollup", events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")),
        n_events)

    # window condense (M13-shape): shuffle + per-key ordered scan
    run("condense", R.condense_snapshots(
        events, ["user_id"], ["ts"], ["value"]), n_events)

    # as-of style latest-per-key (J7-shape)
    run("latest_per_key", R.latest_per_key(
        events, ["user_id"], ["ts", "event_id"]), n_events)

    # sketch family: fixed-width aggregates whose shuffle volume is
    # CONSTANT in n — the throughput here is pure scan+hash speed
    run("hll_registers", SK.hll_registers(
        events, ["event_type"], "user_id"), n_events)
    run("cms_grid", SK.cms_build(events, "user_id"), n_events)
    run("histogram_quantile", SK.histogram_quantile(
        events, ["event_type"], "value", [0.5, 0.9]), n_events)

    # --- documents-shaped corpus, n_docs rows ---------------------------
    words = F.array(*[F.lit(f"w{i}") for i in range(64)])
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(F.sequence(F.lit(0), F.lit(80)),
                        lambda i: F.element_at(
                            words,
                            (F.pmod(F.col("id") * 31 + i * 17, 64) + 1)
                            .cast("int"))), " ").alias("text"))

    run("exact_dedup", D.exact_dedup(docs, "doc_id"), n_docs)
    run("simhash", D.simhash(docs, "doc_id"), n_docs)
    run("chunking", X.chunk_documents(docs, "doc_id", max_tokens=32,
                                      overlap=4), n_docs)
    run("quality_profile", X.quality_features(docs), n_docs)
    run("tfidf_top_terms", X.tfidf_top_terms(
        X.tokenize(docs, ["doc_id"])), n_docs)

    # corpus-level segment dedup: fingerprint shuffle + keyed join + doc
    # reassembly over ~8 segments/doc
    run("dedup_segments", D.dedup_segments(docs, "doc_id"), n_docs)

    # char-trigram LM scoring: ~240 trigram occurrences/doc through the
    # broadcast model join + per-doc aggregate; a thunk, so the model's
    # C₃ collect at construction is timed too
    from barberini_analytics_spark.core.cache import release_scoped

    run("ngram_lm_score", lambda: X.ngram_lm_score(docs)
        .select("doc_id", "lm_score"), n_docs)
    release_scoped()

    # deterministic corpus mixing: map-only after a #sources-row aggregate
    mix_docs = docs.withColumn(
        "source", F.concat(F.lit("s"), (F.col("doc_id") % 8).cast("string")))
    run("mix_sources", X.mix_sources(
        mix_docs, "source", {f"s{i}": 1 / 6 for i in range(6)}), n_docs)

    # map-only Gopher rule gate: pins the "scan-speed" claim
    run("gopher_filter", X.gopher_quality_filter(docs), n_docs)

    # PageRank: 4 out-edges/node power-iteration, 5 rounds
    from barberini_analytics_spark.operators.graph import pagerank

    pr_nodes = spark.range(n_docs).select(F.col("id"))
    pr_edges = spark.range(n_docs).select(
        F.col("id").alias("id1"),
        F.explode(F.transform(
            F.sequence(F.lit(1), F.lit(4)),
            lambda i: F.pmod(F.col("id") * 131 + i * 7919, n_docs)))
        .alias("id2"))
    run("pagerank_5it", lambda: pagerank(pr_nodes, pr_edges, n_iter=5),
        n_docs * 4)
    release_scoped()

    # SCD2 intervals over the event stream (two windows, one shuffle)
    run("snapshot_intervals", R.snapshot_intervals(
        events, ["user_id"], ["ts"], ["value"]), n_events)

    # --- embeddings-shaped corpus: PQ encode is the map-only claim ------
    from barberini_analytics_spark.operators import similarity as SIM

    n_vecs = max(n_docs, 100_000)
    # materialize the synthetic vectors first: the generator is an
    # interpreted HOF whose cost would otherwise dominate the encode
    # timing (events/docs synthesis above is codegen — cheap in-line)
    vecs = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: ((F.pmod(F.col("id") * 31 + i * 17, 1009) - 504)
                       / F.lit(504.0)).cast("float"),
        ).alias("embedding")).localCheckpoint(eager=True)
    # production contract: train on a bounded sample, encode the corpus
    sample = vecs.filter(F.col("vec_id") % max(n_vecs // 10_000, 1) == 0)
    cb = SIM.pq_train(sample, m=8, k=16, iters=1).collect()
    run("pq_encode", SIM.pq_encode_arrow(vecs, cb, m=8, k=16), n_vecs)
    run("quantize_int8", SIM.quantize_int8(vecs), n_vecs)

    print(json.dumps({
        "events_rows": n_events,
        "docs_rows": n_docs,
        "vec_rows": n_vecs,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "ops": results,
    }))


if __name__ == "__main__":
    main()
