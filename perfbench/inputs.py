"""Seeded input generation for the benchmark workloads.

Everything the program reads is written here, from ``--seed`` alone, so a
run depends on nothing outside its own work directory.  The tables follow
the layout of the package's scale-factor directories (one parquet file per
table: ``region nation customer supplier part orders lineitem events
documents embeddings``) with the same columns, types and value domains.
Sizes are fixed per scale; the seed changes values, order and deltas only,
so two seeds give workloads of the same shape.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at scale factor 1.0 (documents/embeddings do not scale)
_BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
              "orders": 1_500_000, "events": 1_000_000}
_FIXED_ROWS = {"documents": 500, "embeddings": 500}

_WORDS = ("scan column window order sort part agg value line key join "
          "merge group query a vector hash slow stream filter fast the "
          "batch spark table small data big customer row").split()
_LANGS = (("en", 0.4), ("fr", 0.15), ("es", 0.15), ("zh", 0.15),
          ("de", 0.15))
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("small", "red", "blue", "cold", "hot", "big", "green", "shiny")
_NOUN = ("widget", "bolt", "ring", "gear", "nut", "pipe", "valve", "screw")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_DAY0 = np.datetime64("1995-01-01", "us")
_EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_US_PER_DAY = 86_400 * 1_000_000


def _write(path: str, columns: dict) -> int:
    table = pa.table(columns)
    pq.write_table(table, path)
    return os.path.getsize(path)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(rng.choice(_WORDS, k)))
    # planted near-duplicate groups: a base text copied with its last word
    # replaced, so the dedup entries have something to find
    n_groups = max(1, n // 40)
    for base in rng.choice(n, n_groups, replace=False):
        texts[base] = texts[base].rsplit(" ", 1)[0] + " dup"
        for twin in rng.choice(n, int(rng.integers(1, 4)), replace=False):
            if twin != base:
                words = texts[base].split()
                words[-2] = str(rng.choice(_WORDS))
                texts[twin] = " ".join(words)
    langs = rng.choice([l for l, _ in _LANGS], n, p=[p for _, p in _LANGS])
    ids = np.arange(n, dtype=np.int64)
    return {"doc_id": ids, "text": texts, "lang": langs,
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> dict:
    centers = rng.normal(0.0, 1.0, (n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    x = centers[labels] + rng.normal(0.0, 0.8, (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(x.astype(np.float32)),
                                  type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32)}


def _events(rng, n: int, n_users: int, days: int = 30,
            first_id: int = 0) -> dict:
    offsets = np.sort(rng.integers(0, days * _US_PER_DAY, n))
    return {"event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": (_EVENTS_T0 + offsets.astype("timedelta64[us]")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": _money(rng, 0.01, 490.0, n),
            "props": [json.dumps({"k": int(k)})
                      for k in rng.integers(0, 100, n)]}


def table_rows(sf: float) -> dict[str, int]:
    rows = {k: max(10, int(v * sf)) for k, v in _BASE_ROWS.items()}
    rows.update(_FIXED_ROWS)
    return rows


def write_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the ten tables for ``(seed, sf)`` into ``out_dir``.

    Returns ``{table: {"rows": n, "bytes": b}}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows = table_rows(sf)
    n_cust, n_supp, n_part, n_ord = (rows["customer"], rows["supplier"],
                                     rows["part"], rows["orders"])
    tables: dict[str, dict] = {}
    tables["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                        "r_name": list(_REGIONS)}
    tables["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                        "n_name": [f"NATION_{i}" for i in range(25)],
                        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    tables["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)}
    tables["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = {
        "p_partkey": pk,
        "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}
    order_days = rng.integers(0, 2404, n_ord)
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _DAY0 + (order_days * _US_PER_DAY)
        .astype("timedelta64[us]"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)}
    # 1..7 lines per order, (orderkey, linenumber) unique
    per_order = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    lnum = (np.concatenate([np.arange(1, k + 1) for k in per_order])
            .astype(np.int32))
    n_li = len(okey)
    ship = np.repeat(order_days, per_order) + rng.integers(1, 122, n_li)
    tables["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_li),
        "l_linestatus": rng.choice(("F", "O"), n_li),
        "l_shipdate": _DAY0 + (ship * _US_PER_DAY).astype("timedelta64[us]")}
    tables["events"] = _events(rng, rows["events"], n_users=max(15, n_cust // 10))
    tables["documents"] = _documents(rng, rows["documents"])
    tables["embeddings"] = _embeddings(rng, rows["embeddings"])
    info = {}
    for name, cols in tables.items():
        nbytes = _write(os.path.join(out_dir, f"{name}.parquet"), cols)
        info[name] = {"rows": len(next(iter(cols.values()))), "bytes": nbytes}
    return info


def write_next_day(base_dir: str, out_dir: str, seed: int,
                   share: float = 0.05) -> dict:
    """The seeded "next day" of ``base_dir``: a copy in which a ``share``
    of the events (what the post-performance snapshots are built from)
    change value and as many new events are added, one day after the
    last.

    Returns ``{"events_changed", "events_added", "bytes"}``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    for f in os.listdir(base_dir):
        shutil.copyfile(os.path.join(base_dir, f), os.path.join(out_dir, f))

    ev = pq.read_table(os.path.join(base_dir, "events.parquet")).to_pydict()
    n = len(ev["event_id"])
    k = max(1, int(n * share))
    for i in rng.choice(n, k, replace=False):
        ev["value"][i] = round(float(rng.uniform(0.01, 490.0)), 2)
    n_users = max(ev["user_id"]) + 1
    new = _events(rng, k, n_users, days=1, first_id=n)
    day = np.timedelta64(30 * _US_PER_DAY, "us")
    new["ts"] = new["ts"] + day
    for col in ev:
        ev[col] = list(ev[col]) + list(new[col])
    _write(os.path.join(out_dir, "events.parquet"), {
        "event_id": np.array(ev["event_id"], dtype=np.int64),
        "ts": pa.array(ev["ts"], type=pa.timestamp("us")),
        "user_id": np.array(ev["user_id"], dtype=np.int64),
        "event_type": ev["event_type"], "value": ev["value"],
        "props": ev["props"]})

    nbytes = sum(os.path.getsize(os.path.join(out_dir, f))
                 for f in os.listdir(out_dir))
    return {"events_changed": k, "events_added": k, "bytes": nbytes}


def write_landing(out_dir: str, seed: int, n_slices: int,
                  rows_per_slice: int, replay_share: float = 0.02,
                  slice_minutes: int = 60, n_users: int = 150) -> dict:
    """A landing directory of ``n_slices`` time-ordered event files of
    ``rows_per_slice`` rows each (replays included), the file-drop shape
    ``streaming.jobs.landing_rollup`` drains.

    Each slice covers ``slice_minutes`` of event time.  A seeded
    ``replay_share`` of each slice's rows are replays: copies (same
    ``event_id``, ``ts`` and values) of events from the same or the
    previous slice, so they arrive inside the dedup watermark and are
    never late.  Files get strictly increasing mtimes because the file
    source drains in modification-time order.

    Returns ``{"rows", "unique_rows", "replays", "bytes", "n_slices"}``."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_replay = int(rows_per_slice * replay_share)
    n_fresh = rows_per_slice - n_replay
    slice_us = slice_minutes * 60 * 1_000_000
    base_mtime = 1_700_000_000
    prev = None
    total_bytes = 0
    next_id = 0
    for s in range(n_slices):
        ev = _events(rng, n_fresh, n_users, days=1, first_id=next_id)
        next_id += n_fresh
        offsets = np.sort(rng.integers(0, slice_us, n_fresh))
        ev["ts"] = _EVENTS_T0 + (s * slice_us + offsets).astype(
            "timedelta64[us]")
        pool = ev if prev is None or rng.random() < 0.5 else prev
        pick = rng.choice(len(pool["event_id"]), n_replay, replace=False)
        cols = {}
        for c in ev:
            fresh = np.asarray(ev[c])
            cols[c] = np.concatenate([fresh, np.asarray(pool[c])[pick]])
        order = np.argsort(cols["ts"], kind="stable")
        cols = {c: v[order] for c, v in cols.items()}
        cols["event_type"] = cols["event_type"].astype(str)
        cols["props"] = cols["props"].astype(str)
        path = os.path.join(out_dir, f"ev_{s:05d}.parquet")
        total_bytes += _write(path, cols)
        os.utime(path, (base_mtime + s, base_mtime + s))
        prev = ev
    return {"rows": n_slices * rows_per_slice,
            "unique_rows": n_slices * n_fresh,
            "replays": n_slices * n_replay, "bytes": total_bytes,
            "n_slices": n_slices}
