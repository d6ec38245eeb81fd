#!/usr/bin/env python
"""Higher-SF evidence sweep (r14, VERDICT item 6): build an sfN-equivalent
corpus as id-shifted copies of the driver's sf0.1 tables, then time a set
of registered queries there and record the scale-adaptive decisions (the
measured-hint strategies, the minhash small-graph gate, the dbscan gate).

The copies shift every id-ish key by 1e8 per copy (the relational scale
curve's convention) and keep text/payloads identical — which deliberately
DENSIFIES the duplicate structure: at 10 copies every document content has
10 exact near-duplicates, so the verified-pair graph crosses the 200k-pair
small-graph gate and the distributed closure path must run (the flip this
sweep exists to confirm).  Every other table in the source directory
(the dimension tables: nation/region/part/supplier) is copied once.

Usage:
  python scripts/scale_sweep.py build <copies> <outdir>
  python scripts/scale_sweep.py run <dir> [query ...]      # min-of-2 noop
"""
from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql import functions as F  # noqa: E402

from barberini_analytics_spark.core.session import get_spark  # noqa: E402

SHIFT = 100_000_000

#: table -> columns to shift by copy*SHIFT (referential keys shift together)
SHIFTED: dict[str, list[str]] = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "customer": ["c_custkey"],
}


def build(copies: int, outdir: str) -> None:
    spark = get_spark("scale-build")
    spark.sparkContext.setLogLevel("ERROR")
    src = "/root/testdata/sf0.1"
    os.makedirs(outdir, exist_ok=True)
    tables = sorted(n[:-len(".parquet")] for n in os.listdir(src)
                    if n.endswith(".parquet"))
    for t in (t for t in tables if t not in SHIFTED):
        spark.read.parquet(f"{src}/{t}.parquet").coalesce(1) \
            .write.mode("overwrite").parquet(f"{outdir}/{t}.parquet")
        print(f"{t}: copied once")
    for t, keys in SHIFTED.items():
        base = spark.read.parquet(f"{src}/{t}.parquet")
        parts = []
        for c in range(copies):
            df = base
            for k in keys:
                df = df.withColumn(
                    k, (F.col(k) + F.lit(c * SHIFT)).cast(base.schema[k]
                                                          .dataType))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{outdir}/{t}.parquet")
        n = spark.read.parquet(f"{outdir}/{t}.parquet").count()
        print(f"{t}: {copies} copies -> {n} rows")


def run(sf_dir: str, names: list[str]) -> None:
    from barberini_analytics_spark.core.stats import HINT_DECISIONS
    from barberini_analytics_spark.plans import QUERIES

    spark = get_spark("scale-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    for name in names:
        best = None
        hints = []
        for attempt in range(2):
            n_hints = len(HINT_DECISIONS)
            t0 = time.perf_counter()
            spark.sparkContext.setJobDescription(f"scale:{name}#{attempt}")
            QUERIES[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            dt = time.perf_counter() - t0
            hints = [dict(h) for h in list(HINT_DECISIONS)[n_hints:]]
            best = dt if best is None else min(best, dt)
            print(f"  {name} attempt {attempt}: {dt:.2f}s "
                  f"load={os.getloadavg()[0]:.1f}", flush=True)
        results[name] = {"sec": round(best, 2), "hints": hints}
        print(json.dumps({name: results[name]}), flush=True)
    print("SWEEP " + json.dumps(
        {"sf_dir": sf_dir,
         "secs": {k: v["sec"] for k, v in results.items()}}), flush=True)


if __name__ == "__main__":
    argv = sys.argv[1:]
    if len(argv) == 3 and argv[0] == "build" and argv[1].isdigit():
        build(int(argv[1]), argv[2])
    elif len(argv) >= 2 and argv[0] == "run":
        run(argv[1], argv[2:])
    else:
        sys.exit(__doc__[__doc__.index("Usage:"):])
