#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <outDir>
  (after: sbt "runMain graft.Verify <sfDir> <outDir>")

Loads each <outDir>/<name> parquet result, runs the matching oracle SQL
from <outDir>/oracle_sql.json in DuckDB over the same source tables,
normalizes both (columns sorted by name, rows sorted), and diffs.
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(con, rel_sql, label):
    df = con.sql(rel_sql).fetchdf()
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(str(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return df.dtypes.to_dict(), rows


def machine_config():
    """DuckDB limits worked out from the machine: a quarter of MemTotal
    (the JVM heaps take half, see build.sbt) and every core this process
    may run on. An oracle that outgrows the limit then fails with DuckDB's
    named out-of-memory error instead of being killed by the kernel."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return {"memory_limit": f"{max(kb // 4096, 256)}MB",
            "threads": len(os.sched_getaffinity(0))}


def main(sf_dir, out_dir):
    con = duckdb.connect(config=machine_config())
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok = fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got_schema, got = normalize(
                con, f"FROM read_parquet('{out_dir}/{name}/*.parquet')", name)
            want_schema, want = normalize(con, sql, name)
        except Exception as e:
            print(f"FAIL {name}: exception {e}")
            fail += 1
            continue
        if got == want:
            print(f"ok   {name}: {len(got)} rows")
            ok += 1
        else:
            fail += 1
            print(f"FAIL {name}: got {len(got)} rows, want {len(want)}")
            sg, sw = set(got), set(want)
            for r in list(sg - sw)[:3]:
                print(f"  spark-only: {r}")
            for r in list(sw - sg)[:3]:
                print(f"  oracle-only: {r}")
            if dict(got_schema) != dict(want_schema):
                print(f"  schema spark:  {got_schema}")
                print(f"  schema oracle: {want_schema}")
    # Self-certified rows-only queries (no oracle SQL): Verify exports
    # their measured in-query bounds to bounds.json — surface them so
    # the gate's output carries the numbers, not a bare "no oracle".
    # Only a MISSING file is tolerable (e.g. a SPARK_GRAFT_ONLY run that
    # excluded both bound queries); a malformed bounds.json is a failure
    # of the gate itself and must fail loudly, not silently disable the
    # bound checks.
    try:
        bounds = json.load(open(f"{out_dir}/bounds.json"))
    except FileNotFoundError:
        bounds = {}
    for name, b in sorted(bounds.items()):
        status = "ok  " if b.get("ok") else "FAIL"
        if not b.get("ok"):
            fail += 1
        value = "null" if b.get("value") is None else f"{b['value']:.4g}"
        note = f" ({b['note']})" if b.get("note") else ""
        print(f"{status} {name} [bound]: {b['bound']} = {value} "
              f"{b['op']} {b['limit']}{note}")
    print(f"\n{ok} ok, {fail} fail")
    # merge the gate outcome into Verify's machine-readable summary so a
    # single artifact carries surface + gate counts (diffable per round)
    try:
        summary = json.load(open(f"{out_dir}/summary.json"))
        summary["gate"] = {"ok": ok, "fail": fail}
        json.dump(summary, open(f"{out_dir}/summary.json", "w"))
    except FileNotFoundError:
        pass
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
