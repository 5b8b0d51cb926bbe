#!/usr/bin/env python3
"""Benchmark of the Sparkify ETL and the lake queries.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 15 --trace 0

Run from the repository root. One run:

1. builds the program and the harness from source with sbt, once per
   source tree (a content hash of the sources is kept next to the build);
2. generates the workload's inputs from ``--seed`` (untimed);
3. starts one JVM at ``local[nproc]``, which sets up the Spark session
   and then runs timed passes in a closed loop with one client for
   ``--seconds`` seconds (see ``harness/``);
4. checks every output against a DuckDB oracle (untimed);
5. prints a table of every metric, a detail line, and as its last line
   one JSON object ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics.
The exit code is 0 only when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
WORK_ROOT = os.path.join(BENCH, ".work")
BUILD_DIR = os.path.join(WORK_ROOT, "build")
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402

# The program and harness sources a build depends on, relative to ROOT.
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
                "perfbench/harness/src"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# leaves time for the checks inside the 180 s a run may take
JVM_TIMEOUT_S = 150


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def machine():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": os.cpu_count(), "mem_total_mb": mem_kb // 1024}


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_hash():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + harness once per source tree; returns the classpath."""
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        cached = load_json(stamp)
        if cached.get("sources") == digest:
            return cached["classpath"]
    os.makedirs(BUILD_DIR, exist_ok=True)
    log_path = os.path.join(BUILD_DIR, "sbt.log")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    with open(log_path, "w") as log:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                          "compile", "export Runtime/fullClasspath"],
                         timeout=840, cwd=HARNESS, stdout=log, stderr=subprocess.STDOUT,
                         env=env)
    with open(log_path) as f:
        lines = f.read().splitlines()
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {log_path}")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": classpath}, f)
    return classpath


def spark_settings(cfg, mode, work, nproc):
    s = {}
    for group in ("all", mode, "harness"):
        s.update(cfg["spark"].get(group, {}))
    return {k: v.replace("{nproc}", str(nproc)).replace("{work}", work)
            for k, v in s.items()}


def run_jvm(classpath, args, work, timeout, env):
    mem = machine()["mem_total_mb"]
    heap_mb = max(1024, min(4096, mem // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap_mb}m", f"-Djava.io.tmpdir={tmp}"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness"] + args
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        try:
            code = run_group(cmd, timeout=timeout, cwd=work, stdout=log,
                             stderr=subprocess.STDOUT, env=env)
        except subprocess.TimeoutExpired:
            fail(f"harness did not finish within {timeout} s; see {log_path}")
    if code != 0:
        with open(log_path) as f:
            tail = f.read().splitlines()[-20:]
        fail("harness exited with %d:\n%s" % (code, "\n".join(tail)))
    return heap_mb


def tail_percentile(samples):
    """Highest of a fixed ladder of percentiles with >= 10 samples beyond it."""
    n = len(samples)
    best = None
    for p in (50, 75, 90, 95, 99, 99.9):
        if n * (1 - p / 100) >= 10:
            best = p
    if best is None:
        return None, n
    s = sorted(samples)
    return (best, s[min(n - 1, int(n * best / 100))]), n


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("the program's sources are not here; run from the repository root")
    bench = load_json(bench_path)
    cfg = load_json(os.path.join(BENCH, "config.json"))
    if a.workload not in cfg["workloads"]:
        fail(f"unknown workload {a.workload}; have {sorted(cfg['workloads'])}")
    wl = cfg["workloads"][a.workload]
    mach = machine()
    nproc = mach["nproc"]

    classpath = build()

    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t = time.time()
        inputs = os.path.join(work, "inputs")
        stats = gen.generate(wl, inputs, a.seed)
        gen_s = time.time() - t

        out = os.path.join(work, "result.json")
        args = [f"mode={wl['mode']}", f"cores={nproc}", f"seconds={a.seconds}",
                f"trace={a.trace}", f"out={out}"]
        if wl["mode"] == "etl":
            log_dir, song_dir = os.path.join(inputs, "log_data"), os.path.join(inputs, "song_data")
            lake = os.path.join(work, "lake")
            args += [f"log={log_dir}", f"song={song_dir}", f"lake={lake}"]
        else:
            results = os.path.join(work, "results")
            args += [f"data={inputs}", f"results={results}",
                     "members=" + ",".join(wl["members"])]
        settings = spark_settings(cfg, wl["mode"], work, nproc)
        args += [f"{k}={v}" for k, v in sorted(settings.items())]
        # graft.Verify, which dumps the query results, reads its members
        # and width from these
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc),
                   SPARK_GRAFT_ONLY=",".join(wl.get("members", [])))
        heap_mb = run_jvm(classpath, args, work, JVM_TIMEOUT_S, env)
        res = load_json(out)

        t = time.time()
        passes = res["passes"]
        failures = [f"pass {i} ({p['kind']}): {p.get('error')}"
                    for i, p in enumerate(passes) if not p["ok"]]
        detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "machine": mach, "driver_heap_max_mb": heap_mb,
                  "inputs": stats, "gen_s": round(gen_s, 3),
                  "pass_wall_s": [round(p["wall_s"], 4) for p in passes],
                  "measured_s": res["measured_s"]}
        walls = [p["wall_s"] for p in passes if p["kind"] == "U"]
        wall = statistics.median(walls)
        e2e = {"setup_s": res["setup_s"], "wall_s": wall,
               "heap_peak_mb": max(p["heap_mb"] for p in passes[:2])}
        if wl["mode"] == "etl":
            expected = oracle.etl_expected(log_dir, song_dir)
            attempted = len(passes)
            bad = set()
            for i, p in enumerate(passes):
                if not p["ok"]:
                    bad.add(i)
                elif "counts" in p:
                    wrong = {k: v for k, v in p["counts"].items() if expected[k] != v}
                    if wrong:
                        bad.add(i)
                        failures.append(f"pass {i}: counts {wrong}, oracle {expected}")
            lake_failures = oracle.check_lake(log_dir, song_dir, lake)
            failures += [f"lake {m}" for m in lake_failures]
            if lake_failures:
                bad.add(len(passes) - 1)
            failed = len(bad)
            records = stats["log_records"] + stats["song_records"]
            files, nbytes = lake_stats(lake)
            e2e["throughput_per_s"] = records / wall
            extra = {"records_per_s": ("1/s", records / wall),
                     "lake_files": ("count", files),
                     "lake_bytes_ratio": ("ratio", nbytes / stats["input_bytes"])}
        else:
            lat = [s for p in passes if p["kind"] == "U" for _, s in p["latencies"]]
            q_failures = oracle.check_queries(inputs, results, wl["members"])
            failures += [f"oracle {m}" for m in q_failures]
            attempted = sum(len(wl["members"]) for _ in passes) + len(wl["members"])
            failed = sum(len(p.get("errors", [])) for p in passes) + len(q_failures)
            tail, n = tail_percentile(lat)
            detail["query_tail"] = {"percentile": tail[0] if tail else None, "n": n}
            e2e["throughput_per_s"] = len(wl["members"]) / wall
            extra = {"queries_per_s": ("1/s", len(wl["members"]) / wall),
                     "query_p50_s": ("s", statistics.median(lat)),
                     "query_tail_s": ("s", tail[1] if tail else None)}
        detail["check_s"] = round(time.time() - t, 3)
        detail["failures"] = failures
        correct = failed == 0 and not failures

        units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
        table = {k: (units[k], v) for k, v in e2e.items()}
        table.update(extra)
        table["failed_ratio"] = ("ratio", failed / attempted)
        if a.trace:
            layer = res["layer"]
            names = [m["name"] for m in bench["per_layer"]]
            detail["not_applicable"] = [n for n in names if n not in layer]
            metrics = {n: {"value": layer.get(n, 0.0), "unit": units[n]} for n in names}
            table.update({n: (units[n], layer.get(n)) for n in names})
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in bench["end_to_end"]}
        for k, (unit, v) in table.items():
            shown = "n/a" if v is None else f"{v:.6g}"
            print(f"{a.workload:12s} {k:34s} {shown:>14s} {unit}")
        for m in failures:
            print(f"FAILED {m}")
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def lake_stats(lake):
    files = nbytes = 0
    for r, _, fs in os.walk(lake):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(r, f))
    return files, nbytes


if __name__ == "__main__":
    sys.exit(main())
