#!/usr/bin/env python3
"""Time and peak RSS of each oracle query, one Python process per query.

Usage: python3 tools/oracle_rss.py <tableDir> <outDir> [name ...]
  (<outDir>/oracle_sql.json as graft.Verify or OracleFuzzSpec writes it)

Each query runs alone under check.py's DuckDB limits, so its peak RSS is
its own and one query that runs out of memory does not hide the others.
Prints one line per query, largest RSS first.
"""
import json
import resource
import subprocess
import sys
import time

import duckdb

import check


def run_one(table_dir, sql):
    con = duckdb.connect(config=check.machine_config())
    for t in check.TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{table_dir}/{t}.parquet')")
    t0 = time.time()
    _, rows = check.normalize(con, sql, "oracle")
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    print(json.dumps({"rows": len(rows), "s": round(time.time() - t0, 2),
                      "rss_mb": round(rss_mb)}))


def main(table_dir, out_dir, names):
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = []
    for name in sorted(names or oracle):
        p = subprocess.run([sys.executable, __file__, "--one", table_dir],
                           input=oracle[name], capture_output=True, text=True)
        if p.returncode == 0:
            r = json.loads(p.stdout.splitlines()[-1])
            results.append((r["rss_mb"], f"{name:32} {r['s']:7.2f} s "
                            f"{r['rss_mb']:6d} MB  {r['rows']} rows"))
        else:
            err = (p.stderr.strip().splitlines() or [""])[-1][:120]
            results.append((float("inf"), f"{name:32} exit {p.returncode}: {err}"))
    for _, line in sorted(results, reverse=True):
        print(line)
    return 1 if any(r == float("inf") for r, _ in results) else 0


if __name__ == "__main__":
    if sys.argv[1] == "--one":
        run_one(sys.argv[2], sys.stdin.read())
    else:
        sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
