#!/usr/bin/env python3
"""Runs the graft engine benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_steady --seed 1 --seconds 15 --trace 0

It builds the program and the harness from source with sbt (once per
source state; the classpath is cached under perfbench/.work), runs one
workload in one JVM, checks the outputs and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer
ones (and a span file under perfbench/.work/trace/).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("ingest_steady", "ingest_backlog", "analytics_mix")
JVM_BUDGET_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: the program and the harness."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))
                      or "META-INF" in d]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(stamp):
    """Compile with sbt unless this source state was built; returns the
    classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # keep sbt's scratch files (extracted native libraries, boot lock, JVM
    # perf data) inside the checkout
    sbt_tmp = os.path.join(WORK, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # sbt binds its boot socket under XDG_RUNTIME_DIR; a Unix socket path
    # holds at most 107 bytes, so name the directory relative to sbt's
    # working directory: an absolute one under a long checkout path fails
    # the build
    sock_dir = os.path.join(".work", "sock")
    os.makedirs(os.path.join(HERE, sock_dir), exist_ok=True)
    env["XDG_RUNTIME_DIR"] = sock_dir
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false",
            "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
            f"-Djava.io.tmpdir={sbt_tmp}", f"-Djna.tmpdir={sbt_tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=out,
                stderr=subprocess.STDOUT,
                timeout=840)
        except subprocess.TimeoutExpired:
            fail("sbt build timed out")
    with open(os.path.join(WORK, "build.log")) as f:
        lines = f.read().splitlines()
    if r.returncode != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("sbt build failed")
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and ":" in l]
    if not cps:
        fail("sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1].strip()


def run_jvm(cp, workload, seed, seconds, trace, data, deadline):
    """Runs one workload in a fresh JVM; returns its result dict."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "mix_results")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(WORK, "runs", f"{workload}-seed{seed}-trace{trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--work", WORK, "--out", out]
    if data:
        cmd += ["--data", data]
    jvm_log = os.path.join(WORK, f"jvm-{workload}.log")
    t_launch = time.time()
    with open(jvm_log, "w") as lf:
        # bind Spark to the loopback address, so the run does not depend on
        # the host name resolving
        env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
                   SPARK_LOCAL_HOSTNAME="localhost")
        p = subprocess.Popen(cmd, cwd=tmp, env=env, stdin=subprocess.DEVNULL,
                             stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload} did not finish in time; see {jvm_log}")
    if rc != 0 or not os.path.exists(out):
        with open(jvm_log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{workload} JVM exited with {rc}")
    with open(out) as f:
        res = json.load(f)
    res["setup_s"] = res["ready_epoch_ms"] / 1000.0 - t_launch
    shutil.rmtree(tmp, ignore_errors=True)
    return res


def oracle_check(data, results_dir):
    """Compares each mix result to its oracle SQL in DuckDB, the way
    tools/compare.py does: columns sorted by name, cell by cell."""
    import glob
    import math
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in sorted(os.listdir(data)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{os.path.join(data, t)}'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = []
    for name in sorted(oracle):
        try:
            o = con.execute(oracle[name]).df()
            e = pd.concat([pd.read_parquet(p) for p in
                           sorted(glob.glob(f"{results_dir}/{name}/*.parquet"))])
        except Exception as ex:
            failures.append(f"{name}: exec error {ex}")
            continue
        o = o[sorted(o.columns)].reset_index(drop=True)
        e = e[sorted(e.columns)].reset_index(drop=True)
        if list(o.columns) != list(e.columns):
            failures.append(f"{name}: cols oracle={list(o.columns)} engine={list(e.columns)}")
            continue
        if len(o) != len(e):
            failures.append(f"{name}: rows oracle={len(o)} engine={len(e)}")
            continue
        bad = None
        for c in o.columns:
            for i, (x, y) in enumerate(zip(o[c], e[c])):
                ok = (x == y) or (x is None and y is None) \
                    or (isinstance(x, float) and isinstance(y, float)
                        and (math.isnan(x) and math.isnan(y) or x == y)) \
                    or (pd.isna(x) is True and pd.isna(y) is True)
                if not ok:
                    bad = (c, i, x, y)
                    break
            if bad:
                break
        if bad:
            failures.append(f"{name}: col={bad[0]} row={bad[1]} oracle={bad[2]!r} engine={bad[3]!r}")
    return len(oracle), failures


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not here", 2)
    spec = load_spec()
    stamp = source_stamp()
    cp = build(stamp)
    data = None
    if a.workload == "analytics_mix":
        sys.path.insert(0, HERE)
        import gen_tables
        data = gen_tables.ensure(os.path.join(WORK, "data"))

    def measure(trace):
        deadline = time.time() + JVM_BUDGET_S
        return run_jvm(cp, a.workload, a.seed, a.seconds, trace, data, deadline)

    res = measure(a.trace)
    failures = list(res["failures"])
    failed = res["failed"]
    attempted = res["attempted"]
    if a.workload == "analytics_mix":
        checked, bad = oracle_check(data, res["info"]["results_dir"])
        # a query that threw is already counted; its missing result is not
        # a second failure
        threw = {f.split(" ")[0] for f in failures}
        bad = [b for b in bad if b.split(":")[0] not in threw]
        failures += [f"oracle: {b}" for b in bad]
        failed += len(bad)
        res["info"]["oracle_checked"] = checked

    # trace.overhead_frac compares a traced run's main figure with the
    # median of the untraced runs of the same build
    base = os.path.join(WORK, f"untraced-{a.workload}.json")
    seen = {"build_stamp": stamp, "primary": []}
    if os.path.exists(base):
        with open(base) as f:
            prev = json.load(f)
        if prev.get("build_stamp") == stamp:
            seen = prev
    if a.trace == 0:
        metrics_src = dict(res["end_to_end"], setup_s=res["setup_s"])
        names = spec["end_to_end"]
        seen["primary"].append(res["primary"])
        with open(base, "w") as f:
            json.dump(seen, f)
    else:
        metrics_src = dict(res["layers"])
        untraced = seen["primary"] or [measure(0)["primary"]]
        metrics_src["trace.overhead_frac"] = res["primary"] / statistics.median(untraced) - 1.0
        names = spec["per_layer"]

    metrics = {}
    for m in names:
        v = metrics_src.get(m["name"])
        if v is None or v != v:
            if a.trace == 0:
                # an end-to-end figure the run could not measure is a failure
                failures.append(f"no value for {m['name']}")
                failed += 1
            v = 0.0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    for f_ in failures[:20]:
        log(f"FAILED {f_}")
    log(f"{a.workload} seed={a.seed} trace={a.trace}: " + json.dumps(res["info"]))
    log(f"done in {time.time() - start:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
