#!/usr/bin/env python
"""Time both FillDb cadences end to end through the real sinks.

In one fresh Spark session, runs ``pipeline.fill_db_hourly`` then
``pipeline.fill_db_daily`` into a fresh warehouse with a fresh stats
catalog (``BA_STATS_CATALOG``): once cold (empty warehouse, empty
catalog), then once warm (the same inputs again, so every write is an
idempotent re-run over existing tables).  Prints one JSON line with each
cadence's wall seconds per pass and each pass's manifest row total (the
two row totals must match), plus the engine JVM's class-data-sharing
state (``core/metrics.class_sharing``).  The warehouse and catalog are temporary
directories removed on exit.

Usage:
  python scripts/time_fill_db.py <sf_dir>
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main(sf_dir: str) -> None:
    work = tempfile.mkdtemp(prefix="time_fill_db_")
    # read by StatsCatalog.default() at the first write: set it first
    os.environ["BA_STATS_CATALOG"] = os.path.join(work, "catalog")
    warehouse = os.path.join(work, "warehouse")
    os.makedirs(warehouse)
    try:
        from barberini_analytics_spark import pipeline
        from barberini_analytics_spark.core.cache import release_scoped
        from barberini_analytics_spark.core.metrics import class_sharing
        from barberini_analytics_spark.core.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("time-fill-db")
        spark.sparkContext.setLogLevel("ERROR")
        out = {"sf_dir": sf_dir,
               "session_s": round(time.perf_counter() - t0, 2),
               # the catalog starts empty; the JVM may not
               "jvm": class_sharing(spark),
               "loadavg_start": os.getloadavg()[0]}
        for run in ("cold", "warm"):
            rows = 0
            for cadence in ("hourly", "daily"):
                fn = getattr(pipeline, f"fill_db_{cadence}")
                t0 = time.perf_counter()
                written = fn(spark, sf_dir, warehouse)
                out[f"{cadence}_{run}_s"] = round(time.perf_counter() - t0,
                                                  2)
                rows += sum(written.values())
                release_scoped()
            out[f"rows_{run}"] = rows
        out["loadavg_end"] = os.getloadavg()[0]
        print(json.dumps(out), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__[__doc__.index("Usage:"):])
    main(sys.argv[1])
