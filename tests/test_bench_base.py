"""bench.py's comparison base: the regression and sweep-creep gates read
the newest driver record taken at this run's core count, never a record
of another width.  Imports bench.py only; starts no Spark."""

from __future__ import annotations

import json

import bench


def _record(tmp_path, name, cpus, queries):
    (tmp_path / name).write_text(json.dumps(
        {"n": 1, "rc": 0, "cpus": cpus, "parsed": {"queries": queries}}))


def test_prior_bench_is_newest_same_width_record(tmp_path):
    _record(tmp_path, "BENCH_r9.json", 4, {"q": 0.5})
    _record(tmp_path, "BENCH_r13.json", 32, {"q": 1.0})
    _record(tmp_path, "BENCH_r13_c8.json", 8, {"q": 2.0})
    _record(tmp_path, "BENCH_r14.json", 32, {"q": 3.0})
    _record(tmp_path, "BENCH_r14_c8.json", 8, {"q": 4.0})
    # a round whose bench line did not parse is no base
    _record(tmp_path, "BENCH_r15.json", 32, {})
    (tmp_path / "BENCH_r16.json").write_text("{truncated")

    base = str(tmp_path)
    assert bench.load_prior_bench(base, "32") == ("BENCH_r14.json",
                                                  {"q": 3.0})
    assert bench.load_prior_bench(base, "8") == ("BENCH_r14_c8.json",
                                                 {"q": 4.0})
    assert bench.load_prior_bench(base, "4") == ("BENCH_r9.json",
                                                 {"q": 0.5})
    assert bench.load_prior_bench(base, "16") == (None, {})
