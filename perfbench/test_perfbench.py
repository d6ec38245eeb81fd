"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The arithmetic tests need no Spark.  The smoke tests run every workload
end to end as the benchmark does, with a one-second window, untraced and
traced, and take a few minutes together.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import ledger as L  # noqa: E402


# -- percentile rule ----------------------------------------------------------

@pytest.mark.parametrize("n, want_pct, want_rank", [
    (100, 90, 90), (30, 66, 20), (20, 50, 10), (1000, 99, 990)])
def test_tail_percentile_leaves_ten_samples_beyond(n, want_pct, want_rank):
    xs = [float(i) for i in range(1, n + 1)]
    value, pct = L.tail_percentile(list(reversed(xs)))
    assert pct == want_pct
    assert value == xs[want_rank - 1]
    assert sum(x > value for x in xs) == 10


def test_tail_percentile_falls_back_to_median_below_twenty_samples():
    assert L.tail_percentile([5.0, 1.0, 3.0]) == (3.0, 50)
    assert L.tail_percentile([float(i) for i in range(19)]) == (9.0, 50)
    with pytest.raises(ValueError):
        L.tail_percentile([])


# -- self time over nested spans ----------------------------------------------

def _span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "name": f"s{i}", "layer": layer,
            "start": start, "end": end, "run": "t"}


def test_self_times_subtract_direct_children_only():
    spans = [
        _span(0, None, "bench", 0.0, 10.0),    # root: 10 s
        _span(1, 0, "plans", 0.0, 4.0),        # construct: 4 s
        _span(2, 1, "stats", 1.0, 2.5),        # measured hint inside: 1.5 s
        _span(3, 0, "engine", 4.0, 9.0),       # execute: 5 s
        _span(4, None, "bench", 10.0, 12.0),   # second root, no children
    ]
    own = L.self_times(spans)
    assert own == pytest.approx({"bench": 1.0 + 2.0, "plans": 2.5,
                                 "stats": 1.5, "engine": 5.0})
    assert sum(own.values()) == pytest.approx(12.0)


def test_tracer_records_parents_from_nesting():
    tr = L.Tracer("run-1")
    with tr.span("op", "bench"):
        with tr.span("a", "plans"):
            with tr.span("b", "stats"):
                pass
        with tr.span("c", "engine"):
            pass
    parents = {s["name"]: s["parent"] for s in tr.spans}
    ids = {s["name"]: s["id"] for s in tr.spans}
    assert parents == {"op": None, "a": ids["op"], "b": ids["a"],
                       "c": ids["op"]}
    assert all(s["run"] == "run-1" and s["end"] >= s["start"]
               for s in tr.spans)
    off = L.Tracer("run-2", enabled=False)
    with off.span("x", "bench"):
        pass
    assert off.spans == []


# -- seeded inputs --------------------------------------------------------------

def _digest(d):
    return {f: open(os.path.join(d, f), "rb").read()
            for f in sorted(os.listdir(d))}


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    info = inputs.write_tables(a, 5, 0.001)
    inputs.write_tables(b, 5, 0.001)
    inputs.write_tables(c, 6, 0.001)
    assert _digest(a) == _digest(b)
    assert _digest(a)["events.parquet"] != _digest(c)["events.parquet"]
    assert info["lineitem"]["rows"] > 0 and info["events"]["rows"] == 1000
    la, lb = str(tmp_path / "la"), str(tmp_path / "lb")
    ia = inputs.write_landing(la, 5, 3, 100)
    inputs.write_landing(lb, 5, 3, 100)
    assert _digest(la) == _digest(lb)
    assert ia["rows"] == 300 and ia["unique_rows"] + ia["replays"] == 300


# -- end to end -----------------------------------------------------------------

def _bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload, trace, cwd=ROOT, script=None):
    script = script or os.path.join(HERE, "run.py")
    return subprocess.run(
        [sys.executable, script, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", ["query_sweep", "fill_db"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_workload_is_correct(workload, trace):
    spec = _bench_spec()
    assert workload in {w["name"] for w in spec["workloads"]}
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert detail["failed_frac"] == 0, detail["failures"]
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert detail["end_to_end_traced"]["cycle_s"] > 0
    if trace and workload == "query_sweep":
        # the repeated entry's measured hints come from the stats catalog
        assert result["metrics"]["stats.hint_catalog"]["value"] > 0
        assert result["metrics"]["catalog.hit_ratio"]["value"] > 0


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("fill_db", 0, cwd=str(tmp_path),
                script=str(tmp_path / "perfbench" / "run.py"))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
