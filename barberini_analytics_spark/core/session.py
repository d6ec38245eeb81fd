"""SparkSession factory.

Single place where execution knobs live so every entry point (tests, bench,
driver contract) runs with the same, scale-minded configuration:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE re-plans.
- shuffle partitions sized for the local test box via ``SPARK_GRAFT_CPUS``;
  on a real cluster this would be set to ~2-3x total cores and AQE
  coalesces down.
- Arrow enabled so any pandas interchange (Pandas UDFs, toPandas in tests)
  is batched, not per-row pickled.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- driver heap at most half the machine's RAM: a heap sized past RAM lets
  the JVM grow until the kernel kills it mid-run.
- HotSpot's tier-4 (C2) promotion thresholds raised tenfold
  (``JIT_OPTIONS``): at ``local[N]`` the driver JVM is the whole engine,
  and every generated whole-stage class and Catalyst path that handles a
  few thousand rows for milliseconds otherwise earns a C2 compile that
  costs more CPU than the code it optimizes.  Code that stays hot still
  reaches C2, later than at the defaults.
- the JVM starts from a static class-data-sharing (AppCDS) archive
  (``core/cds``): the first start for a (JDK, classpath, oops mode) key
  records its loaded classes, the second dumps the archive once (~30-40 s
  inside that start), and every later start maps the ~13k classes it
  would otherwise load, parse and verify from the jars.  On a 4-vCPU
  host (perfbench, 10 interleaved pairs per workload, archive recorded
  by the first fill_db run) the median engine start fell 7.5 -> 4.8 s on
  fill_db, counting its recording and building runs (mapped starts
  3.7-5.5 s), and 6.5 -> 3.6 s on query_sweep; cycle wall fell 15.0 ->
  12.5 s and 16.2 -> 12.1 s.  No option: a start that cannot use it
  (conf dir with real files, unsafe cache directory, refused archive)
  runs without it and says why in ``core/metrics.class_sharing``.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from barberini_analytics_spark.core import cds

#: HotSpot tier-4 promotion thresholds, tenfold the JDK 17 defaults
#: (5000 / 600 / 15000 / 40000).  A method is C2-compiled only once it has
#: run long enough to repay the compile; shorter-lived code stays at C1.
#: On a 4-vCPU host a cold FillDb cycle spent ~60% of its CPU in JIT
#: compilation at the defaults and ~35% with these thresholds; the
#: back-edge threshold carries much of that (raising only the invocation
#: thresholds left ~75% of the compile time).  The price is wall time on
#: CPU-bound cold queries, whose hot loops reach C2 later
#: (ivf_assignments 11.9 -> 16.4 s cold at sf0.1).  C1-only
#: (``-XX:TieredStopAtLevel=1``) cuts compile work further but makes such
#: queries 1.6-1.7x slower, so C2 stays available.
JIT_OPTIONS = ("-XX:Tier4InvocationThreshold=50000 "
               "-XX:Tier4MinInvocationThreshold=6000 "
               "-XX:Tier4CompileThreshold=150000 "
               "-XX:Tier4BackEdgeThreshold=400000")


def _default_driver_memory() -> str:
    """Half the machine's RAM, at most 31g.  A heap cap above physical
    memory caps nothing: under the old fixed 32g the test session's JVM
    grew to 15 GB RSS on a 16 GB box and was OOM-killed.  From 32g up
    HotSpot drops compressed oops (every reference doubles in width) and
    such a JVM cannot map a class-data archive dumped with them."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(31 * 1024, ram_mb // 2)}m"


def get_spark(app_name: str = "barberini_analytics_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    memory = (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
              or _default_driver_memory())
    # CDS options, like every JVM flag, bind only when this call launches
    # the JVM; a live gateway is reused as it is
    launching = (SparkContext._gateway is None
                 and "PYSPARK_GATEWAY_PORT" not in os.environ)
    start = cds.prepare(memory) if launching else None
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", memory)
        # JVM flags bind at launch: a session that getOrCreate() reuses
        # keeps the flags of the JVM that started it
        .config("spark.driver.extraJavaOptions",
                f"{JIT_OPTIONS} {start.java_options}" if start
                else JIT_OPTIONS)
        .config("spark.ui.enabled", "false")
        # \r-progress bars interleave with (and can swallow) the one JSON
        # line the bench driver parses from a merged stdout/stderr tail
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the AppStatusStore backs core/metrics.cumulative_stage_metrics;
        # at the default retention (1000 stages) a long bench run evicts
        # early stages MID-measurement-window and cumulative deltas
        # silently understate (observed: a curve point reporting 0.4 MB
        # shuffle for a 120 MB run).  A stage entry is ~KB of driver
        # memory, so a deep retention is cheap insurance for honest
        # counters.
        .config("spark.ui.retainedStages", "100000")
        .config("spark.ui.retainedJobs", "100000")
    )
    if start is None:
        return builder.getOrCreate()
    with cds.launch_env(start):
        spark = builder.getOrCreate()
    cds.finish(start, spark)
    cds.LAST = start
    return spark
