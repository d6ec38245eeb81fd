"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry side-by-side with its ``oracle_sql()`` SQL in
DuckDB at sf0.01 and reports rows/schema/hash agreement per entry, so a broken
entry is caught before the round's CORRECTNESS_r{N}.json does.

Usage: python scripts/selfcheck.py [entry ...]   (no args = all entries)
"""

from __future__ import annotations

import hashlib
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SELFCHECK_SF_DIR", "/root/testdata/sf0.01")


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _hash_frame(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "replace"))
        h.update(b"\n")
    return h.hexdigest()


def main():
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    queries = entry.queries()
    oracles = entry.oracle_sql()
    wanted = sys.argv[1:] or list(queries)
    results = {}
    for name in wanted:
        fn = queries[name]
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                results[name] = {"rows": len(srows), "status": "no_oracle"}
                print(f"{name:40s} rows={len(srows):6d}  NO_ORACLE")
                continue
            ocur = con.execute(oracles[name])
            ocols = [d[0] for d in ocur.description]
            orows = ocur.fetchall()
            rows_ok = len(srows) == len(orows)
            schema_ok = sorted(scols) == sorted(ocols)
            hash_ok = (
                schema_ok and _hash_frame(scols, srows) == _hash_frame(ocols, orows)
            )
            status = "OK" if (rows_ok and schema_ok and hash_ok) else "MISMATCH"
            results[name] = {
                "rows": (len(srows), len(orows)),
                "rows_ok": rows_ok,
                "schema_ok": schema_ok,
                "hash_ok": hash_ok,
                "status": status,
            }
            detail = ""
            if not schema_ok:
                detail = f" spark={sorted(scols)} oracle={sorted(ocols)}"
            print(
                f"{name:40s} rows={len(srows):6d}/{len(orows):6d} "
                f"schema={schema_ok} hash={hash_ok}  {status}{detail}"
            )
        except Exception:
            results[name] = {"status": "ERROR"}
            print(f"{name:40s} ERROR")
            traceback.print_exc()
    bad = [n for n, r in results.items() if r["status"] not in ("OK", "no_oracle")]
    print(
        f"\n{len(results)} entries: "
        f"{sum(1 for r in results.values() if r['status'] == 'OK')} ok, "
        f"{sum(1 for r in results.values() if r['status'] == 'no_oracle')} no_oracle, "
        f"{len(bad)} bad: {bad}"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
