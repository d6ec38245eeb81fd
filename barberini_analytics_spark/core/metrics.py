"""Execution-metric probes for benchmarking and scale measurement.

Reads Spark's own AppStatusStore (the store backing the UI/REST API —
populated even with the UI disabled), so a bench harness can attribute
what a run actually MOVED, not just how long it took: the delta of
:func:`cumulative_shuffle_bytes` around a job is direct evidence for
"this operator's only corpus-size shuffle is X" claims, measured
instead of asserted from the plan.

Driver-side constant-size reads only (one row of counters per stage);
nothing here touches executor data paths.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from barberini_analytics_spark.core import cds


def cumulative_shuffle_bytes(spark: SparkSession) -> int:
    """Total shuffle-WRITE bytes across every stage the application has
    run so far.  Take a delta around a job to get that job's shuffle
    volume (write side counts each exchanged byte once; the read side
    of the same exchange would double-count it).

    Uses the JVM ``AppStatusStore``'s stage list via py4j — the same
    counters the Spark UI "Shuffle Write" column shows.  Completed and
    running stages are both included, so take the "before" snapshot
    after any prior job has finished.
    """
    return cumulative_stage_metrics(spark)["shuffle_write_bytes"]


def cumulative_stage_metrics(spark: SparkSession) -> dict:
    """Application-cumulative stage counters: shuffle-write bytes,
    memory/disk spill bytes, executor run time, and JVM GC time (ms).

    Deltas around a job attribute not just what it MOVED but what it
    SPILLED and how much of its wall was garbage collection — the
    two usual suspects when a scale curve's largest point goes
    sublinear (r11: the 1M-doc span point dropped 546k → 362k
    tokens/s with no attribution recorded).

    Correctness depends on the store RETAINING every stage in the
    measurement window: at Spark's default ``spark.ui.retainedStages``
    (1000) a long run evicts early stages mid-window and the
    "cumulative" delta silently understates (observed 0.4 MB reported
    for a 120 MB shuffle) — ``core/session.get_spark`` raises the
    retention to 100k.  Cost of a read is one py4j round-trip per
    counter per retained stage (~6/stage); call it OUTSIDE timed
    windows, bracketing them.
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty_status = sc._jvm.java.util.ArrayList()
    empty_summaries = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = store.stageList(empty_status, False, False, no_quantiles,
                             empty_summaries)
    out = {"shuffle_write_bytes": 0, "memory_spill_bytes": 0,
           "disk_spill_bytes": 0, "executor_run_ms": 0, "jvm_gc_ms": 0}
    for i in range(stages.size()):
        s = stages.apply(i)
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["memory_spill_bytes"] += s.memoryBytesSpilled()
        out["disk_spill_bytes"] += s.diskBytesSpilled()
        out["executor_run_ms"] += s.executorRunTime()
        out["jvm_gc_ms"] += s.jvmGcTime()
    return out


def compile_metrics(spark: SparkSession) -> dict:
    """Cumulative compile work in the engine JVM since it started.

    - ``jit_s``: HotSpot JIT compilation time, summed over the compiler
      threads (``CompilationMXBean.getTotalCompilationTime``).  At
      ``local[N]`` the driver JVM is the whole engine, so this is every
      C1/C2 compile of generated and Spark code alike.
    - ``janino_compiles``: generated classes Spark compiled with Janino
      (the count of ``CodegenMetrics.METRIC_COMPILATION_TIME``; cache
      hits are not compiles and do not count).
    - ``janino_s``: their total compile time, from the
      ``CodeGenerator.compileTime`` accumulator that the same compiles
      feed — exact, where the histogram only keeps a decaying sample.

    Take deltas around a window; the JIT share of the window's CPU is
    ``jit_s`` over the process-tree CPU delta.  Three py4j calls — cheap,
    but still read it outside timed windows.
    """
    jvm = spark.sparkContext._jvm
    jit_ms = (jvm.java.lang.management.ManagementFactory
              .getCompilationMXBean().getTotalCompilationTime())
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    return {"jit_s": jit_ms / 1e3,
            "janino_compiles": int(hist.getCount()),
            "janino_s": codegen.CodeGenerator.compileTime() / 1e9}


def class_sharing(spark: SparkSession) -> dict:
    """The engine JVM's class-data-sharing state (``core/cds``).

    - ``state``: what ``get_spark`` decided when it launched this JVM
      (``mapped`` / ``recording`` / ``building`` / ``off:<reason>``), or
      ``off:not-launched-here`` when another caller started it.
    - ``mapped``: whether the JVM actually runs from the archive — it
      drops a truncated or mismatched one silently, so ``mapped`` state
      with ``mapped: false`` means the archive was refused.
    - ``classes_loaded``: classes the JVM has loaded since it started
      (``ClassLoadingMXBean``); mapped classes count as loaded.

    A run's JVM warmth changes its start-up time the way catalog warmth
    changes its plans: stamp both next to each other.
    """
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    diag = mf.getPlatformMXBean(jvm.java.lang.Class.forName(
        "com.sun.management.HotSpotDiagnosticMXBean"))
    mapped = (diag.getVMOption("UseSharedSpaces").getValue() == "true"
              and diag.getVMOption("SharedArchiveFile").getValue() != "")
    return {"state": cds.LAST.state if cds.LAST else "off:not-launched-here",
            "mapped": mapped,
            "classes_loaded": int(mf.getClassLoadingMXBean()
                                  .getTotalLoadedClassCount())}
