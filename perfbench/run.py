#!/usr/bin/env python3
"""Benchmark of the TF-IDF / K-Means engine, one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The script builds the engine and the
benchmark's JVM harness (sbt, offline) when their sources changed,
generates the seeded inputs (or reuses them), then launches fresh
``java`` processes on the compiled classes until ``--seconds`` of set-up
plus pass time are measured.  Set-up is timed from the outside.  Each
launch runs one cold pass: every query of the workload once, in the
listed order, one at a time, with no memo warm, each writing its result,
which is compared with the query's DuckDB oracle after the JVM has
exited.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports the
per-layer ones from a traced pass that follows an untraced warm pass in
the same JVM, and writes the span file to ``perfbench/.out/``.  The last
line of standard output is the JSON result.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402

HARNESS = os.path.join(BENCH, "harness")
DATA = os.path.join(BENCH, ".data")
OUT = os.path.join(BENCH, ".out")
WORK = os.path.join(BENCH, ".work")
STAMP = os.path.join(HARNESS, "target", "perfbench.stamp")
CLASSPATH = os.path.join(HARNESS, "target", "perfbench.classpath")
SBT_OPTS = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g"

RUN_LIMIT_S = 175        # after the build; a JVM still running then is killed
DEADLINE = time.monotonic() + RUN_LIMIT_S
TAIL_BEYOND = 10

ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def load_spec():
    with open(os.path.join(BENCH, "workloads.json")) as f:
        workloads = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return workloads, json.load(f)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness and records the harness's
    runtime classpath, as the build defines it, for the launches."""
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS") or SBT_OPTS)
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HARNESS, env=env, stdout=f, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    out = open(log).read()
    paths = [l for l in out.splitlines() if l and not l.startswith("[") and ".jar" in l]
    if r.returncode != 0 or not paths:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    with open(CLASSPATH, "w") as f:
        f.write(paths[-1].strip())
    with open(STAMP, "w") as f:
        f.write(digest)


# ---------------------------------------------------------------- launch

def heap():
    """The heap the repository's test suite runs with: half the
    machine's memory, 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cpus():
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def isolated(wl):
    return ",".join(wl.get("isolated", [])) or None


def tmp_graft():
    return set(glob.glob("/tmp/graft_*"))


class Launch:
    """One fresh harness JVM: set-up time measured from outside."""

    def __init__(self, work, n, data, queries, ncpu, **opts):
        self.dir = os.path.join(work, f"jvm{n}")
        for d in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(self.dir, d))
        self.out = os.path.join(self.dir, "result.json")
        self.results = os.path.join(self.dir, "results")
        os.makedirs(self.results)
        args = dict(data=data, cpus=ncpu, queries=",".join(queries), out=self.out,
                    results=self.results, **opts)
        self.cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData",
                     f"-Djava.io.tmpdir={self.dir}/tmp",
                     f"-Dspark.local.dir={self.dir}/local",
                     f"-Dspark.sql.warehouse.dir={self.dir}/warehouse",
                     "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
                    + ADD_OPENS + ["-cp", open(CLASSPATH).read(), "perfbench.Harness"]
                    + [f"{k}={v}" for k, v in args.items() if v is not None])

    def run(self):
        before = tmp_graft()
        log = open(os.path.join(self.dir, "jvm.log"), "w")
        t0 = time.monotonic()
        p = subprocess.Popen(self.cmd, cwd=self.dir, stdout=subprocess.PIPE,
                             stderr=log, stdin=subprocess.DEVNULL, text=True)
        timer = threading.Timer(max(1.0, DEADLINE - t0), p.kill)
        timer.start()
        self.setup_s = None
        try:
            for line in p.stdout:
                if line.strip() == "READY" and self.setup_s is None:
                    self.setup_s = time.monotonic() - t0
            p.wait()
        finally:
            timer.cancel()
            log.close()
            for path in tmp_graft() - before:
                shutil.rmtree(path, ignore_errors=True)
        self.elapsed_s = time.monotonic() - t0
        if p.returncode != 0 or self.setup_s is None or not os.path.exists(self.out):
            sys.stderr.write(open(os.path.join(self.dir, "jvm.log")).read()[-4000:])
            fail(f"harness JVM failed (exit {p.returncode})")
        with open(self.out) as f:
            self.result = json.load(f)
        self.passes = self.result["passes"]
        return self

    def walls(self, kind):
        return [p["sec"] for p in self.passes if p["kind"] == kind]


# ---------------------------------------------------------------- oracle

def expected_results(data, results, work):
    """{query: DataFrame, or the error text} from each query's DuckDB
    oracle on the workload's inputs.  Results are kept beside the inputs,
    keyed by a digest of the oracle SQL, so a seed's oracles run once."""
    import duckdb
    import pandas as pd
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    cache = data + ".expected"
    os.makedirs(cache, exist_ok=True)
    con = None
    out = {}
    for name, sql in sorted(oracles.items()):
        path = os.path.join(cache, f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute("SET memory_limit='2GB'")
                con.execute(f"SET temp_directory='{work}/duckdb'")
                for t in glob.glob(os.path.join(data, "*.parquet")):
                    con.execute(f"CREATE VIEW {os.path.basename(t)[:-8]} AS SELECT * FROM '{t}'")
            try:
                df = con.sql(sql).df()
            except Exception as e:  # an oracle that cannot run fails the check
                out[name] = f"oracle error: {e}"[:200]
                continue
            df.to_pickle(path + ".partial")
            os.rename(path + ".partial", path)
        out[name] = pd.read_pickle(path)
    if con is not None:
        con.close()
    return out


def compare(results, names, expected):
    """{query: reason} for every result that differs from its oracle
    (columns by name, rows sorted, exact equality) or was not written; a
    query without an oracle only has to produce its result."""
    import duckdb
    bad = {}
    for name in names:
        if not glob.glob(os.path.join(results, name, "*.parquet")):
            bad[name] = "no result written"
            continue
        want = expected.get(name)
        if want is None:
            continue
        if isinstance(want, str):
            bad[name] = want
            continue
        got = duckdb.sql(f"SELECT * FROM '{results}/{name}/*.parquet'").df()
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        if list(got.columns) != list(want.columns):
            bad[name] = f"columns {list(got.columns)} vs {list(want.columns)}"
            continue
        g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
        w = want.sort_values(by=list(want.columns)).reset_index(drop=True)
        if len(g) != len(w):
            bad[name] = f"rows spark={len(g)} oracle={len(w)}"
        elif not g.equals(w):
            diff = (g != w) & ~(g.isna() & w.isna())
            bad[name] = f"values differ in {[c for c in g.columns if diff[c].any()]}"
    return bad


def check(data, launches, names, work):
    """Oracle mismatches over the results of every launch: those of its
    cold pass, of its last warm pass and of its traced pass."""
    expected = expected_results(data, launches[0].results, work)
    bad = {}
    for ln in launches:
        for kind in sorted({p["kind"] for p in ln.passes}):
            for q, why in compare(os.path.join(ln.results, kind), names, expected).items():
                bad.setdefault(q, f"{kind} pass: {why}")
    return bad


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs)


def tail(walls):
    """The highest percentile of the pooled per-query walls that leaves
    TAIL_BEYOND samples above it: (value, percentile, samples), or None
    when the sample is too small to have a tail."""
    s = sorted(walls)
    if len(s) < 2 * TAIL_BEYOND:
        return None
    return s[-TAIL_BEYOND - 1], 100.0 * (len(s) - TAIL_BEYOND) / len(s), len(s)


def failures(launches, bad):
    """(attempted, failed, {query: reason}) over every timed query run."""
    reasons = dict(bad)
    attempted = failed = 0
    for q in (q for ln in launches for p in ln.passes for q in p["queries"]):
        attempted += 1
        why = q.get("error") or (q["tmp"] and f"wrote outside the checkout: {q['tmp']}")
        if why:
            failed += 1
            reasons.setdefault(q["name"], why)
    return attempted, failed + len(bad), reasons


def report(metrics, units, attempted, failed, reasons, extra):
    for name, v in metrics.items():
        print(f"{name:28s} {v:14.6f} {units[name]}")
    print(f"{'fail_ratio':28s} {failed / attempted:14.6f} ratio "
          f"({failed} of {attempted} query runs)")
    for k, v in extra.items():
        print(f"{k:28s} {v}")
    for q, why in sorted(reasons.items()):
        print(f"FAILED {q}: {why}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


def timed(wl, data, seconds, work, end_to_end):
    ncpu = cpus()
    launches, measured = [], 0.0
    while not launches or measured < seconds:
        ln = Launch(work, len(launches), data, wl["queries"], ncpu, isolated=isolated(wl)).run()
        launches.append(ln)
        measured += ln.setup_s + ln.walls("cold")[0]
    t0 = time.monotonic()
    bad = check(data, launches, wl["queries"], work)
    check_s = time.monotonic() - t0
    attempted, failed, reasons = failures(launches, bad)
    walls = [q["sec"] for ln in launches for p in ln.passes for q in p["queries"]]
    metrics = {
        "setup_s": median([ln.setup_s for ln in launches]),
        "wall_s": median([ln.walls("cold")[0] for ln in launches]),
        "heap_retained_mb": median([ln.result["heap_mb"] for ln in launches]),
    }
    t = tail(walls)
    extra = {"launches": len(launches), "cpus": ncpu,
             "query_p50_s": f"{median(walls):.6f} s, median of {len(walls)} query walls",
             "query_tail_s": f"{t[0]:.6f} s at p{t[1]:.1f} of {t[2]} query walls"
             if t else f"not reported: {len(walls)} query walls leave no tail",
             "launch_s": " ".join(f"{ln.elapsed_s:.1f}" for ln in launches),
             "oracle_check_s": f"{check_s:.1f}"}
    report(metrics, {m["name"]: m["unit"] for m in end_to_end},
           attempted, failed, reasons, extra)


def traced(workload, wl, data, work, per_layer):
    """One JVM: the cold pass, an untraced warm pass, the traced warm pass
    and the staged layer pass; on a single-core workload, one more JVM at
    local[1] for its cold pass."""
    ncpu = cpus()
    iso = isolated(wl)
    os.makedirs(OUT, exist_ok=True)
    spans = os.path.join(OUT, f"spans-{workload}.json")
    tr = Launch(work, 0, data, wl["queries"], ncpu, isolated=iso, warm=1, trace="1",
                spans=spans, staged=wl.get("staged")).run()
    runs = [tr]
    layers = dict(tr.result["layers"])
    layers["trace.overhead_ratio"] = tr.walls("traced")[0] / tr.walls("warm")[0]
    if wl.get("single_core"):
        one = Launch(work, 1, data, wl["queries"], "1", isolated=iso).run()
        runs.append(one)
        layers["spark.speedup_1core"] = one.walls("cold")[0] / tr.walls("cold")[0]
    bad = check(data, runs, wl["queries"], work)
    attempted, failed, reasons = failures(runs, bad)
    metrics = {m["name"]: float(layers.get(m["name"], 0.0)) for m in per_layer}
    units = {m["name"]: m["unit"] for m in per_layer}
    with open(os.path.join(OUT, f"layers-{workload}.json"), "w") as f:
        json.dump({"workload": workload, "layers": metrics,
                   "artifacts": tr.result["artifacts"], "passes": tr.passes}, f, indent=1)
    report(metrics, units, attempted, failed, reasons,
           {"span_file": os.path.relpath(spans, ROOT),
            "not_measured_here": ", ".join(sorted(set(metrics) - set(layers))) or "-"})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for p in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"{p} not found: run from a checkout of the repository")
    spec, bench = load_spec()
    if a.workload not in spec:
        fail(f"unknown workload {a.workload!r}; one of {sorted(spec)}")
    wl = spec[a.workload]
    build()
    global DEADLINE
    DEADLINE = time.monotonic() + RUN_LIMIT_S
    data = gen.ensure(DATA, wl["dataset"], a.seed)
    work = os.path.join(WORK, f"run{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.trace:
            traced(a.workload, wl, data, work, bench["per_layer"])
        else:
            timed(wl, data, a.seconds, work, bench["end_to_end"])
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
