"""The two workloads.  Each one prepares its seeded inputs, runs whole
cycles of operations until the measuring window is used up, checks the
program's outputs in an untimed pass, and turns what it recorded into
metrics.

A workload only calls the package's public functions: registry entries
(``plans.QUERIES``), the ``pipeline`` cadence, and the streaming drain.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import inputs
import ledger as L

#: registry entries swept each cycle, keyed by their ``plans`` module:
#: the relational shape (first: in a fresh JVM it also absorbs the
#: engine's start-up) and a ``core.stats.measured_hint`` user
#: (``document_token_ngrams``: two hinted joins and a driver-folded
#: language model at construction time)
PANEL = {
    "relational_queries": "event_type_pivot",
    "text_queries": "document_token_ngrams",
}

#: run again after the panel, as an analyst re-running a view: its
#: measured hints now come from the stats catalog
REPEAT = "document_token_ngrams"

#: table scale factor of the generated inputs
SF = 0.001
#: landing backlog: slices, rows per slice
SLICES, ROWS_PER_SLICE = 4, 2_500

#: layers that spans are attributed to
LAYERS = ("bench", "plans", "stats", "sinks", "pipeline", "streaming",
          "engine")


def _dir_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written_bytes(before: dict, after: dict) -> int:
    return sum(size for p, (size, mt) in after.items()
               if before.get(p) != (size, mt))


def _mb(files: dict) -> float:
    return sum(size for size, _ in files.values()) / 2**20


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.ops: list[dict] = []
        self.cycles: list[dict] = []
        self.checks: list[tuple[str, str | None]] = []
        self.input_info: dict = {}

    # -- shared plumbing ---------------------------------------------------

    def op(self, kind: str, name: str, fn, layer: str = "bench") -> dict:
        """Run ``fn`` as one timed operation in its own job group."""
        ctx = self.ctx
        rec = {"kind": kind, "name": name, "group": f"op{len(self.ops)}",
               "error": None, "hints": []}
        ctx.sc.setJobGroup(rec["group"], name)
        before = list(ctx.hint_log)
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span(f"{kind}/{name}", layer):
                fn(rec)
        except Exception as e:  # counted into failed, never fatal
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        rec["wall"] = time.perf_counter() - t0
        ids = {id(h) for h in before}
        rec["hints"] = [h for h in ctx.hint_log if id(h) not in ids]
        self.ops.append(rec)
        return rec

    def run_window(self, seconds: float) -> None:
        t0 = time.perf_counter()
        while True:
            c0 = time.perf_counter()
            extra = self.cycle(len(self.cycles)) or {}
            self.cycles.append({"wall": time.perf_counter() - c0, **extra})
            if time.perf_counter() - t0 >= seconds:
                break

    def check(self, name: str, fn) -> None:
        try:
            msg = fn()
        except Exception as e:
            msg = f"{type(e).__name__}: {str(e)[:300]}"
        self.checks.append((name, msg))

    def op_samples(self) -> list[float]:
        return [o["wall"] for o in self.ops]


# ---------------------------------------------------------------------------

class QuerySweep(Workload):
    """The panel of registry entries, each constructed, then executed to
    a ``noop`` sink."""

    name = "query_sweep"

    def prepare(self, out_dir: str) -> dict:
        self.sf_dir = os.path.join(out_dir, "sf")
        return {"tables": inputs.write_tables(self.sf_dir, self.ctx.seed, SF)}

    def start(self) -> None:
        from barberini_analytics_spark.plans import ORACLES, QUERIES

        self.queries, self.oracles = QUERIES, ORACLES
        self.rng = random.Random(self.ctx.seed)
        self.scratch_before = _dir_files(self.ctx.scratch_dir)

    def run_window(self, seconds: float) -> None:
        super().run_window(seconds)
        self.scratch_after = _dir_files(self.ctx.scratch_dir)

    def _query(self, name: str):
        ctx, spark = self.ctx, self.spark

        def run(rec):
            ctx.sc.setJobGroup(rec["group"] + ".c", name)
            t0 = time.perf_counter()
            with ctx.tracer.span(f"construct/{name}", "plans"):
                df = self.queries[name](spark, self.sf_dir)
            t1 = time.perf_counter()
            ctx.sc.setJobGroup(rec["group"] + ".x", name)
            with ctx.tracer.span(f"execute/{name}", "engine"):
                df.write.format("noop").mode("overwrite").save()
            rec["construct"] = t1 - t0
            rec["execute"] = time.perf_counter() - t1
        return run

    def cycle(self, i: int) -> None:
        # the first cycle keeps the panel's order: in a fresh JVM each
        # entry's time depends on which entries ran before it, and a
        # seeded first order would turn that into seed-to-seed spread
        order = list(PANEL.items())
        if i:
            self.rng.shuffle(order)
        for module, name in order:
            rec = self.op("query", name, self._query(name))
            rec["module"] = module
        self.op("query_repeat", REPEAT, self._query(REPEAT))

    def verify(self) -> None:
        from tests.oracle_utils import compare_frames, run_oracle

        for name in PANEL.values():
            def one(name=name):
                # Spark first: persist-then-oracle entries read back what
                # the Spark run wrote under the scratch root
                got = self.queries[name](self.spark, self.sf_dir).toPandas()
                if name not in self.oracles:
                    return None if len(got) else "no rows"
                compare_frames(got, run_oracle(self.oracles[name],
                                               self.sf_dir), name)
                return None
            self.check(f"oracle/{name}", one)

    def named_metrics(self) -> dict:
        walls = self.op_samples()
        tail, pct = L.tail_percentile(walls)
        return {"sweep_s": statistics.median(c["wall"] for c in self.cycles),
                "query_p50_s": statistics.median(walls),
                "query_tail_s": tail, "query_tail_pct": pct}

    def layer_metrics(self) -> dict:
        n = len(self.cycles)
        out = {}
        for module, name in PANEL.items():
            mod = module.removesuffix("_queries")
            recs = [o for o in self.ops if o.get("module") == module
                    and "construct" in o]
            out[f"plans.{mod}.construct_s"] = (
                statistics.median(o["construct"] for o in recs)
                if recs else 0.0)
            out[f"plans.{mod}.execute_s"] = (
                statistics.median(o["execute"] for o in recs)
                if recs else 0.0)
        cons = [o for o in self.ops if "construct" in o]
        total = sum(o["wall"] for o in cons) or 1.0
        out["plans.construct_share"] = sum(o["construct"] for o in cons) / total
        tracker = self.ctx.sc.statusTracker()
        out["plans.construct_jobs"] = sum(
            len(tracker.getJobIdsForGroup(o["group"] + ".c"))
            for o in cons) / max(n, 1)
        out["sinks.bytes_written_mb"] = _written_bytes(
            self.scratch_before, self.scratch_after) / 2**20 / max(n, 1)
        out["sinks.warehouse_mb"] = _mb(self.scratch_after)
        return out

    def job_groups(self) -> list[str]:
        return [g for o in self.ops for g in (o["group"] + ".c",
                                              o["group"] + ".x")]


# ---------------------------------------------------------------------------

class FillDb(Workload):
    """The reference's hourly cron in one cycle: ``pipeline.fill_db_hourly``
    into a fresh warehouse, again over the seeded next-hour input, then
    the hourly event rollup as a stream (``streaming.jobs.landing_rollup``
    drained with ``availableNow`` into a memory sink) over a seeded
    landing backlog of constant-size, time-ordered slices with replays."""

    name = "fill_db"

    def prepare(self, out_dir: str) -> dict:
        self.day1 = os.path.join(out_dir, "day1")
        self.day2 = os.path.join(out_dir, "day2")
        self.landing = os.path.join(out_dir, "landing")
        seed = self.ctx.seed
        return {
            "day1": inputs.write_tables(self.day1, seed, SF),
            "day2": inputs.write_next_day(self.day1, self.day2, seed),
            "landing": inputs.write_landing(self.landing, seed, SLICES,
                                            ROWS_PER_SLICE)}

    def start(self) -> None:
        from barberini_analytics_spark import pipeline
        from barberini_analytics_spark.core.cache import release_scoped
        from barberini_analytics_spark.streaming import jobs

        self.pipeline, self.jobs, self.release = pipeline, jobs, release_scoped
        self.progress = _Progress(self.spark)
        self.batches: list[list] = []

    def _cadence(self, sf_dir: str, warehouse: str):
        def run(rec):
            written = self.pipeline.fill_db_hourly(self.spark, sf_dir,
                                                   warehouse)
            rec["rows"] = sum(written.values())
        return run

    def _drain(self, qname: str):
        def run(rec):
            rolled = self.jobs.landing_rollup(self.spark, self.landing)
            _, rec["summary"] = self.jobs.run_available_now_with_progress(
                rolled, qname, output_mode="append")
        return run

    def cycle(self, i: int) -> dict:
        wh = os.path.join(self.ctx.work, f"warehouse{i}")
        shutil.rmtree(wh, ignore_errors=True)
        self.warehouse = wh
        cold = self.op("cadence", "fill_db_hourly",
                       self._cadence(self.day1, wh), "pipeline")
        mid = _dir_files(wh)
        delta = self.op("cadence", "fill_db_hourly",
                        self._cadence(self.day2, wh), "pipeline")
        end = _dir_files(wh)

        qname = f"perfbench_drain_{i}"
        if i:
            self.spark.catalog.dropTempView(self.last_query)
        self.last_query = qname
        drain = self.op("drain", "landing_rollup", self._drain(qname),
                        "streaming")
        self.release()
        progs = self.progress.wait(qname) if drain["error"] is None else []
        # the stream's own thread runs its jobs under the run id as group
        drain["stream_groups"] = sorted({str(p.runId) for p in progs})
        self.batches.append([p for p in progs if p.numInputRows > 0])
        return {"cold": cold["wall"], "delta": delta["wall"],
                "drain": drain["wall"],
                "cold_bytes": _written_bytes({}, mid),
                "delta_bytes": _written_bytes(mid, end),
                "warehouse_bytes": _mb(end) * 2**20,
                "rows": cold.get("rows", 0) + delta.get("rows", 0),
                "summary": drain.get("summary", {}),
                "stream_rows": sum(p.numInputRows for p in progs)}

    def batch_samples(self) -> list[float]:
        return [p.durationMs.get("triggerExecution", 0) / 1e3
                for ps in self.batches for p in ps]

    def verify(self) -> None:
        self._verify_warehouse()
        self._verify_stream()

    def _verify_warehouse(self) -> None:
        from pyspark.sql import functions as F

        from barberini_analytics_spark.pipeline import _PERFORMANCE_PKS
        from barberini_analytics_spark.plans.domain_queries import (
            _social_tables)

        # the next day keeps every event of the first and changes some
        # values, so after the delta run each table is exactly the next
        # day's: stale values or lost and doubled keys all show
        t2 = _social_tables(self.spark, self.day2)
        for table, pk in _PERFORMANCE_PKS.items():
            def one(table=table, pk=pk):
                want = t2[table]
                got = self.spark.read.parquet(
                    os.path.join(self.warehouse, table)).select(*want.columns)
                n, n_pk = got.count(), got.select(*pk).distinct().count()
                if n != n_pk:
                    return f"{n} rows, {n_pk} keys"
                extra = got.exceptAll(want).count()
                missing = want.exceptAll(got).count()
                if extra or missing:
                    return (f"{extra} rows not in the next day's input, "
                            f"{missing} of its rows missing")
                return None
            self.check(f"equals_next_day/{table}", one)

        def diag():
            d = self.spark.read.parquet(
                os.path.join(self.warehouse, "pipeline_diagnostics"))
            rows = {r["table_name"]: r["rows"] for r in
                    d.filter(F.col("cadence") == "hourly").collect()}
            if set(rows) != set(_PERFORMANCE_PKS):
                return f"diagnostics lists {sorted(rows)}"
            return None
        self.check("diagnostics", diag)

    def _verify_stream(self) -> None:
        import pandas as pd
        import pyarrow.parquet as pq

        summary = self.cycles[-1]["summary"]

        def parity():
            got = self.spark.table(self.last_query).toPandas()
            raw = pq.read_table(self.landing).to_pandas()
            raw = raw.drop_duplicates("event_id")
            raw["window_start"] = raw["ts"].dt.floor("h")
            raw["segment"] = (raw["user_id"] % 4).astype("int32")
            wm = pd.Timestamp(summary["final_watermark"]).tz_localize(None)
            want = (raw[raw["window_start"] + pd.Timedelta(hours=1) <= wm]
                    .groupby(["window_start", "event_type", "segment"])
                    .agg(n=("event_id", "size"), value_sum=("value", "sum"))
                    .reset_index())
            key = ["window_start", "event_type", "segment"]
            got["window_start"] = pd.to_datetime(
                got["window_start"]).dt.tz_localize(None)
            got = got.sort_values(key).reset_index(drop=True)
            want = want.sort_values(key).reset_index(drop=True)
            if len(got) != len(want) or not len(want):
                return f"{len(got)} windows, want {len(want)}"
            if (got["n"].to_numpy() != want["n"].to_numpy()).any():
                return "window counts differ from the batch aggregate"
            if abs(got["value_sum"].to_numpy()
                   - want["value_sum"].to_numpy()).max() > 1e-6:
                return "window sums differ from the batch aggregate"
            return None
        self.check("stream_batch_parity", parity)
        info = self.input_info["landing"]

        def counts():
            if summary.get("rows_dropped_by_watermark", 1) != 0:
                return f"{summary.get('rows_dropped_by_watermark')} dropped"
            if summary.get("input_rows") != info["rows"]:
                return f"{summary.get('input_rows')} rows in, want {info['rows']}"
            return None
        self.check("stream_no_rows_dropped", counts)

    def named_metrics(self) -> dict:
        med = lambda k: statistics.median(c[k] for c in self.cycles)  # noqa
        batches = self.batch_samples() or [0.0]
        tail, pct = L.tail_percentile(batches)
        return {"fill_db_cold_s": med("cold"), "fill_db_delta_s": med("delta"),
                "stream_drain_s": med("drain"),
                "stream_rows_per_s": sum(c["stream_rows"] for c in self.cycles)
                / sum(c["drain"] for c in self.cycles),
                "batch_p50_s": statistics.median(batches),
                "batch_tail_s": tail, "batch_tail_pct": pct}

    def layer_metrics(self) -> dict:
        med = lambda k: statistics.median(c[k] for c in self.cycles)  # noqa

        def dur(key):
            return statistics.median(
                sum(p.durationMs.get(key, 0) for p in ps) / 1e3
                for ps in self.batches)
        state_rows = state_mb = 0.0
        dropped = kept = rows_in = 0
        for ps in self.batches:
            for p in ps:
                ops = p.stateOperators
                state_rows = max(state_rows, sum(o.numRowsTotal for o in ops))
                state_mb = max(state_mb, sum(o.memoryUsedBytes for o in ops)
                               / 2**20)
                dropped += sum(o.numRowsDroppedByWatermark for o in ops)
                dedup = [o for o in ops if "dedup" in o.operatorName.lower()]
                kept += sum(o.numRowsUpdated for o in dedup)
                rows_in += p.numInputRows
        batches = self.batch_samples() or [0.0]
        tail, _ = L.tail_percentile(batches)
        return {"pipeline.fill_db_hourly.cold_s": med("cold"),
                "pipeline.fill_db_hourly.delta_s": med("delta"),
                "sinks.rows_written": med("rows"),
                "sinks.bytes_written_mb":
                    med("cold_bytes") / 2**20 + med("delta_bytes") / 2**20,
                "sinks.warehouse_mb": med("warehouse_bytes") / 2**20,
                "sinks.rewrite_ratio":
                    med("delta_bytes") / max(med("warehouse_bytes"), 1),
                "stream.drain_s": med("drain"),
                "stream.batches": statistics.median(
                    len(ps) for ps in self.batches),
                "stream.batch_p50_s": statistics.median(batches),
                "stream.batch_tail_s": tail,
                "stream.add_batch_s": dur("addBatch"),
                "stream.planning_s": dur("queryPlanning"),
                "stream.wal_commit_s": dur("walCommit"),
                "stream.commit_offsets_s": dur("commitOffsets"),
                "stream.state_rows_max": state_rows,
                "stream.state_mb_max": state_mb,
                "stream.rows_dropped": dropped / len(self.batches),
                "stream.dedup_ratio": kept / max(rows_in, 1)}

    def job_groups(self) -> list[str]:
        return [g for o in self.ops
                for g in [o["group"], *o.get("stream_groups", [])]]


# ---------------------------------------------------------------------------

class _Progress:
    """Collects streaming progress events per query id."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.events: dict[str, list] = {}
        self.ids: dict[str, str] = {}
        self.done: set[str] = set()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.ids[event.name] = str(event.id)

            def onQueryProgress(self, event):
                outer.events.setdefault(str(event.progress.id), []).append(
                    event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.done.add(str(event.id))

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def wait(self, name: str, timeout: float = 20.0) -> list:
        """Progress events of the query named ``name``, once the
        listener bus has delivered its termination (events arrive in
        order, so every progress event is in by then)."""
        end = time.perf_counter() + timeout
        while (self.ids.get(name) not in self.done
               and time.perf_counter() < end):
            time.sleep(0.02)
        return self.events.get(self.ids.get(name), [])


WORKLOADS = {w.name: w for w in (QuerySweep, FillDb)}


def layer_units() -> dict[str, str]:
    """Every per-layer metric, in report order, with its unit.  Additive
    metrics are per cycle; a workload reports 0 for layers it does not
    reach."""
    units = {}
    for module in PANEL:
        mod = module.removesuffix("_queries")
        units[f"plans.{mod}.construct_s"] = "s"
        units[f"plans.{mod}.execute_s"] = "s"
    units.update({
        "plans.construct_jobs": "count", "plans.construct_share": "ratio",
        "spark.jobs": "count", "spark.stages": "count",
        "spark.tasks": "count", "spark.job_p50_s": "s",
        "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
        "spark.gc_s": "s", "spark.shuffle_write_mb": "MiB",
        "spark.spill_mb": "MiB", "spark.busy_share": "ratio",
        "stats.hint_catalog": "count", "stats.hint_measured": "count",
        "catalog.entries_start": "count", "catalog.entries_new": "count",
        "catalog.hit_ratio": "ratio",
        "sinks.rows_written": "count", "sinks.bytes_written_mb": "MiB",
        "sinks.warehouse_mb": "MiB", "sinks.rewrite_ratio": "ratio",
        "pipeline.fill_db_hourly.cold_s": "s",
        "pipeline.fill_db_hourly.delta_s": "s",
        "stream.drain_s": "s", "stream.batches": "count",
        "stream.batch_p50_s": "s", "stream.batch_tail_s": "s",
        "stream.add_batch_s": "s",
        "stream.planning_s": "s", "stream.wal_commit_s": "s",
        "stream.commit_offsets_s": "s", "stream.state_rows_max": "count",
        "stream.state_mb_max": "MiB", "stream.rows_dropped": "count",
        "stream.dedup_ratio": "ratio",
        "proc.driver_py_cpu_s": "s", "proc.worker_py_cpu_s": "s",
        "proc.jvm_cpu_s": "s", "proc.peak_rss_mb": "MiB",
    })
    units.update({"op.count": "count", "op.p50_s": "s", "op.tail_s": "s",
                  "op.tail_pct": "%"})
    for layer in LAYERS:
        units[f"layer.{layer}.self_s"] = "s"
    units["trace.spans"] = "count"
    units["trace.overhead_s"] = "s"
    return units
