#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload search_cheap --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark from source (once per source state),
runs one workload in a fresh JVM, checks its outputs, prints each metric
with its unit, and prints one JSON result as the last line of stdout.
Workloads, metrics and the layer each metric belongs to: README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

import metrics

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
DATA = os.path.join(BENCH, "data", "sf0.01")
WORKLOADS = ("search_cheap", "rows_heavy")
# rows_heavy: rows the ROADMAP targets, then cheap rows as a bypass control.
ROWS = ("q_triangles", "q_pagerank", "q_sessionize_stream", "q_join_agg", "q_argmin", "q_topk")
JVM_TIMEOUT_S = 165
# Spark on JDK 17 needs these when not launched through spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "solve_s_p50": "s", "evals_per_s": "1/s"}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every input to the build, so an unchanged tree skips it."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")]
    tops += [os.path.join(BENCH, p) for p in ("build.sbt", "project", "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            and "project" not in os.path.relpath(d, top).split(os.sep)[:1]
            for f in files)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles with sbt and returns the benchmark's runtime classpath."""
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    tmp = os.path.join(OUT, "tmp")  # sbt's socket directory goes here
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={tmp}",
           "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "compile", "export perfbench/Runtime/fullClasspath"]
    log("building: " + " ".join(cmd))
    p = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(classpath, args, work):
    """Runs the benchmark JVM; returns (raw record, launch time)."""
    heap = "3g" if args.workload == "rows_heavy" else "2g"
    # A fixed-size heap under the parallel collector keeps peak RSS and GC
    # cost from depending on how far adaptive heap sizing got in a run.
    # C1 only: C2 keeps recompiling Spark's job path for minutes, longer than
    # any run can warm up, and its run-to-run spread exceeds the bounds;
    # under C1 the warm-up settles within a few searches or one row pass.
    # No perf-data file: it would go to the system temp directory.
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(os.cpu_count()), "--rows", ",".join(ROWS),
            "--data", DATA, "--out", work]
    os.makedirs(os.path.join(work, "tmp"))
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as out:
        launched = time.time()
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        log(open(jvm_log).read()[-6000:])
        sys.exit(f"benchmark JVM failed: {code}")
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f), launched


def check_rows(raw, work):
    """Marks row executions failed when their result differs from the DuckDB
    oracle or from the first execution of the same row."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    oracle_check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracle_check)
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{DATA}/{f}'")
    results = os.path.join(work, "results")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    verdict = {}
    for row in ROWS:
        if row not in oracles:
            verdict[row] = f"{row} has no oracle"
            continue
        got = con.execute(f"SELECT * FROM '{results}/{row}/*.parquet'")
        got_cols = [d[0] for d in got.description]
        got_rows = got.fetchall()
        want = con.execute(oracles[row])
        want_cols = [d[0] for d in want.description]
        if sorted(got_cols) != sorted(want_cols):
            verdict[row] = f"{row}: columns {sorted(got_cols)} != {sorted(want_cols)}"
        elif oracle_check.canon(got_rows, got_cols) != oracle_check.canon(want.fetchall(), want_cols):
            verdict[row] = f"{row}: values differ from the DuckDB oracle"
    first = {}
    for r in raw["warmup"] + [r for u in raw["units"] for r in u["rows"]]:
        if r["ok"]:
            first.setdefault(r["row"], r["digest"])
    for u in raw["units"]:
        for r in u["rows"]:
            if r["ok"] and r["row"] in verdict:
                r["ok"], r["error"] = False, verdict[r["row"]]
            elif r["ok"] and r["digest"] != first[r["row"]]:
                r["ok"], r["error"] = False, f"{r['row']}: result differs between executions"


def report_warmup(raw):
    """Prints the warm-up trajectory next to the timed one, so a reader can
    see the timed region starts after the drift has settled."""
    if raw["workload"] == "rows_heavy":
        for p in sorted({r["pass"] for r in raw["warmup"]}):
            s = sum(r.get("wall_s", 0) for r in raw["warmup"] if r["pass"] == p)
            log(f"warm-up pass {p}: {s:.3f} s")
        for i, u in enumerate(raw["units"]):
            log(f"timed pass {i + 1}: {u['pass_s']:.3f} s")
    else:
        def per_eval(us):
            return " ".join(f"{1000 * u['solve_s'] / u['evals']:.3f}" for u in us if u["ok"])
        log("warm-up ms/eval: " + per_eval(raw["warmup"]))
        log("timed   ms/eval: " + per_eval(raw["units"]))
        dists = [u["minimiser_steps"] for u in raw["warmup"] + raw["units"] if "minimiser_steps" in u]
        if dists:
            log(f"largest distance from the minimiser: {max(dists):.5f} initial steps")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("no program sources beside the benchmark: run from a checkout root")

    os.makedirs(OUT, exist_ok=True)
    classpath = build()
    work = os.path.join(OUT, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw, launched = run_jvm(classpath, args, work)
    if args.workload == "rows_heavy":
        check_rows(raw, work)
    report_warmup(raw)

    units = raw["units"]
    attempted, failed = metrics.attempts(args.workload, units)
    for u in units:
        for e in [u] + u.get("rows", []):
            if e.get("error"):
                log(f"FAILED: {e['error']}")
    print(f"failed_share {metrics.failed_share(failed, attempted)} ({failed}/{attempted})")
    if not any(ok for ok, _, _ in metrics.operations(args.workload, units)):
        sys.exit("every operation failed: no timing to report")
    setup_s = raw["ready_ms"] / 1000 - launched
    peak_rss_mb = raw["peak_rss_kb"] / 1024
    if args.trace:
        out = metrics.per_layer(args.workload, units, raw["cores"], ROWS)
        out.update(metrics.overhead(args.workload, units))
        out.update({"trace.setup_s": setup_s, "trace.peak_rss_mb": peak_rss_mb})
        units_of = {}
    else:
        out, extra = metrics.end_to_end(args.workload, units)
        out.update({"setup_s": setup_s, "peak_rss_mb": peak_rss_mb})
        # Printed, not gated: at the gated length these repeat gated readings.
        print(f"solve_s_tail {extra['solve_s_tail']} s "
              f"(p{extra['tail_percentile']} of n={extra['n']} operations)")
        for k in ("rows_wall_s", "rows_geomean_s"):
            if k in extra:
                print(f"{k} {extra[k]} s")
        units_of = E2E_UNITS
    result = {k: {"value": v, "unit": units_of.get(k, unit_of_layer(k))} for k, v in out.items()}
    for k, v in result.items():
        print(f"{k} {v['value']} {v['unit']}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))


def unit_of_layer(name):
    if name.startswith("overhead.") or name.endswith(("_ratio", "_share", "busy_cores", "skew")):
        return "ratio"
    if name.endswith(("_ms", ".ms")) or ".wave_ms_" in name:
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    return "count"


if __name__ == "__main__":
    main()
