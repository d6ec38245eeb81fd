"""Benchmark entry point.

    python3 perfbench/run.py --workload query_sweep --seed 1 --seconds 20 --trace 0

Runs one workload of ``BENCHMARK.json`` against the package in the
checkout this file sits in, from a single process at ``local[nproc]``,
and prints one JSON result as the last line of standard output: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it is a JSON detail record (seed, input
sizes, loadavg and catalog stamps, checks, the workload's own named
metrics).  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import ledger as L  # noqa: E402

#: end-to-end metric → unit, as declared in BENCHMARK.json
END_TO_END = {"setup_s": "s", "cycle_s": "s", "cpu_s": "s"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Point every path the package, Spark and Python write to into the
    run's own work directory, and size Spark for this machine."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "catalog", "scratch"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(ram_gb // 4)))}g",
        "BA_STATS_CATALOG": os.path.join(work, "catalog"),
        "BARBERINI_SCRATCH": os.path.join(work, "scratch"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Python workers import the package (UDFs, applyInPandas)
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        # every JVM, spark-submit's launcher too: temp files in the run
        # directory, and no hsperfdata files under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={work}/spark-warehouse "
            f"pyspark-shell"),
    })
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(work)


class Ctx:
    pass


def _install_spans(tracer) -> None:
    """Traced runs only: wrap the layers' public functions the workloads
    reach, wherever the package imported them, so their calls become
    spans."""
    import barberini_analytics_spark.core.catalog as catalog
    import barberini_analytics_spark.core.sinks as sinks
    import barberini_analytics_spark.core.stats as stats
    import barberini_analytics_spark.pipeline as pipeline
    import barberini_analytics_spark.streaming.jobs as sjobs

    targets = [(stats, "measured_hint", "stats"),
               (sinks, "upsert_by_pk", "sinks"),
               (sinks, "overwrite", "sinks"),
               (pipeline, "fill_db_hourly", "pipeline"),
               (pipeline, "diagnostics_to_db", "pipeline"),
               (sjobs, "landing_rollup", "streaming"),
               (sjobs, "run_available_now_with_progress", "streaming")]
    mods = [m for k, m in list(sys.modules.items())
            if k.startswith("barberini_analytics_spark") and m is not None]
    for mod, name, layer in targets:
        orig = getattr(mod, name)
        wrapped = tracer.wrap(orig, name, layer)
        for m in mods:
            for attr, val in list(vars(m).items()):
                if val is orig:
                    setattr(m, attr, wrapped)
    for name in ("side_summary", "hint_bytes", "put_hint_bytes",
                 "refresh_table", "partition_facts", "key_registers"):
        orig = getattr(catalog.StatsCatalog, name)
        setattr(catalog.StatsCatalog, name,
                tracer.wrap(orig, f"catalog.{name}", "stats"))


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    tree = L.process_tree()[1:]
    try:
        spark.stop()
    except Exception:
        pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    end = time.monotonic() + 30
    for pid in tree:
        while time.monotonic() < end:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().split(")")[-1].split()[0] in "ZX":
                        break
            except OSError:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _catalog_entries(path: str) -> int:
    try:
        return sum(1 for n in os.listdir(path) if n.endswith(".json"))
    except OSError:
        return 0


def main(argv=None) -> int:
    args = _args(argv)
    if not (os.path.isfile(os.path.join(
            ROOT, "barberini_analytics_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "tests",
                                            "oracle_utils.py"))):
        print(f"perfbench: no package under {ROOT}", file=sys.stderr)
        return 2
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_start = L.loadavg()
    _isolate(work)
    sys.path.insert(0, ROOT)

    ctx = Ctx()
    ctx.seed, ctx.work = args.seed, work
    ctx.scratch_dir = os.environ["BARBERINI_SCRATCH"]
    catalog_dir = os.environ["BA_STATS_CATALOG"]

    # -- set-up: engine start ----------------------------------------------
    t0 = time.perf_counter()
    from barberini_analytics_spark.core.session import get_spark
    from barberini_analytics_spark.core.stats import HINT_DECISIONS

    spark = get_spark(f"perfbench-{args.workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        # the stage watermark's marker job is the engine's first job in
        # both modes, so it counts as engine start
        spark_ledger = L.SparkLedger(spark)
        setup_s = time.perf_counter() - t0
        ctx.spark, ctx.sc, ctx.hint_log = spark, spark.sparkContext, \
            HINT_DECISIONS
        ctx.tracer = L.Tracer(run_id, enabled=bool(args.trace))
        wl = W.WORKLOADS[args.workload](ctx)
        # the inputs are the benchmark's own: written once, untimed
        t = time.perf_counter()
        wl.input_info = wl.prepare(os.path.join(work, "inputs"))
        prepare_s = time.perf_counter() - t

        if args.trace:
            _install_spans(ctx.tracer)
        wl.start()

        # -- measuring window ---------------------------------------------
        catalog_start = _catalog_entries(catalog_dir)
        cpu0 = L.cpu_by_kind()
        steal0 = L.steal_ticks()
        t_window = time.perf_counter()
        wl.run_window(args.seconds)
        window_s = time.perf_counter() - t_window
        cpu1 = L.cpu_by_kind()
        steal1 = L.steal_ticks()
        catalog_end = _catalog_entries(catalog_dir)
        rss = L.peak_rss_mb()

        # -- untimed checks -----------------------------------------------
        t = time.perf_counter()
        wl.verify()
        verify_s = time.perf_counter() - t
        failures = [f"{o['kind']}/{o['name']}: {o['error']}"
                    for o in wl.ops if o["error"]]
        failures += [f"{n}: {m}" for n, m in wl.checks if m]
        attempted = len(wl.ops) + len(wl.checks)

        # -- metrics --------------------------------------------------------
        n_cycles = len(wl.cycles)
        # a drain that failed has no batches: fall back to cycle walls
        samples = wl.op_samples() or [c["wall"] for c in wl.cycles]
        tail, tail_pct = L.tail_percentile(samples)
        cpu = {k: (cpu1[k] - cpu0[k]) / n_cycles for k in cpu0}
        e2e = {"setup_s": setup_s,
               "cycle_s": statistics.median(c["wall"] for c in wl.cycles),
               "cpu_s": sum(cpu.values())}
        named = wl.named_metrics()
        hints = [h for o in wl.ops for h in o["hints"]]
        hint_catalog = sum(h.get("source") == "catalog" for h in hints)
        hint_measured = sum(h.get("source") == "measured" for h in hints)
        detail = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "run_id": run_id,
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "inputs": wl.input_info,
            "loadavg_start": load_start, "loadavg_end": L.loadavg(),
            "catalog_entries_start": catalog_start,
            "catalog_entries_end": catalog_end,
            "prepare_s": prepare_s,
            "verify_s": verify_s,
            # share of the machine's CPU time taken by the hypervisor
            # during the window: host contention the run could not see
            "steal_share": (steal1[0] - steal0[0]) / max(
                steal1[1] - steal0[1], 1),
            "window_s": window_s, "cycles": n_cycles, "ops": len(samples),
            "op_p50_s": statistics.median(samples),
            "op_tail_s": tail, "op_tail_pct": tail_pct,
            "peak_rss_mb": rss, "named": named,
            "failed_frac": len(failures) / max(attempted, 1),
            "failures": failures[:20],
            "op_walls": [[o["name"], round(o["wall"], 3)]
                         for o in wl.ops[:100]],
        }

        if not args.trace:
            metrics = e2e
            units = END_TO_END
        else:
            layer = wl.layer_metrics()
            parts = [spark_ledger.group(g) for g in wl.job_groups()]
            sp = L.merge_groups(parts)
            cores = int(os.environ["SPARK_GRAFT_CPUS"])
            layer.update({
                "spark.jobs": sp["jobs"] / n_cycles,
                "spark.stages": sp["stages"] / n_cycles,
                "spark.tasks": sp["tasks"] / n_cycles,
                "spark.job_p50_s": (statistics.median(sp["job_s"])
                                    if sp["job_s"] else 0.0),
                "spark.executor_run_s": sp["executor_run_s"] / n_cycles,
                "spark.executor_cpu_s": sp["executor_cpu_s"] / n_cycles,
                "spark.gc_s": sp["gc_s"] / n_cycles,
                "spark.shuffle_write_mb": sp["shuffle_write_mb"] / n_cycles,
                "spark.spill_mb": sp["spill_mb"] / n_cycles,
                "spark.busy_share": sp["executor_run_s"] / (window_s * cores),
                "stats.hint_catalog": hint_catalog / n_cycles,
                "stats.hint_measured": hint_measured / n_cycles,
                "catalog.entries_start": catalog_start,
                "catalog.entries_new": catalog_end - catalog_start,
                "catalog.hit_ratio": hint_catalog / max(
                    hint_catalog + hint_measured, 1),
                "proc.driver_py_cpu_s": cpu["driver_py"],
                "proc.worker_py_cpu_s": cpu["worker_py"],
                "proc.jvm_cpu_s": cpu["jvm"],
                "proc.peak_rss_mb": rss,
                "op.count": len(samples) / n_cycles,
                "op.p50_s": statistics.median(samples),
                "op.tail_s": tail, "op.tail_pct": tail_pct,
            })
            own = L.self_times(ctx.tracer.spans)
            for name in W.LAYERS:
                layer[f"layer.{name}.self_s"] = own.get(name, 0.0) / n_cycles
            layer["trace.spans"] = len(ctx.tracer.spans) / n_cycles
            layer["trace.overhead_s"] = (
                len(ctx.tracer.spans) * L.span_cost_s() / n_cycles)
            detail["end_to_end_traced"] = e2e
            # the spans themselves, times in seconds from window start
            detail["spans"] = [
                {**s, "start": round(s["start"] - t_window, 6),
                 "end": round(s["end"] - t_window, 6)}
                for s in ctx.tracer.spans]
            units = W.layer_units()
            metrics = {k: layer.get(k, 0.0) for k in units}
    finally:
        _stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it

    detail["run_s"] = time.perf_counter() - T_START
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": not failures, "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
