#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--trace-out <records.jsonl>] [--data <tables dir>] [--queries a,b,...]

Steps: build the program and the benchmark from source (perfbench/build.sbt,
skipped when nothing changed since the last build in this checkout), run
the workload in one JVM (perfbench.Main) over the repository's shared test
tables (/root/testdata/sf0.1 unless --data names another scale), check every
query's warm-up output against DuckDB running the query's oracle SQL
(tools/check_oracle.py), and print

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
registers the listeners, writes one record per operation to --trace-out
(default .perfbench/traces/<workload>-seed<n>.jsonl) and prints the
per-layer metrics. The set-up phases and the per-pass figures of the
window go to stderr. Everything the run writes stays under .perfbench/ in
the current directory; the run's scratch directory is removed at the end.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = "/root/testdata/sf0.1"  # the repository's bench-scale test tables (TESTDATA.md)
DEADLINE_S = 170          # a run ends within 180 s
BUILD_DEADLINE_S = 840    # the first run in a checkout may build for longer
# C1 only: with the full tiered JIT the compiler threads were still busy
# for 3-12 s of every 3-5 s pass a minute into a run, so wall and CPU time
# measured the compiler's progress more than the program (see the README)
JVM_FLAGS = ["-Xmx4g", "-XX:TieredStopAtLevel=1"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint(root):
    """Hash of every input of the build: program sources and the benchmark's own."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, deadline):
    target = os.path.join(HERE, "target")
    stamp, cp_file = os.path.join(target, "built.stamp"), os.path.join(target, "classpath.txt")
    fp = source_fingerprint(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    # offline: resolve only from the local caches (~/.sbt/repositories by default)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "compile", "writeClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=max(30, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0 or not os.path.isfile(cp_file):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(fp)
    return open(cp_file).read().strip()


def check_queries(root, data, dumps, names, timeout):
    """Names of the queries whose dumped output disagrees with DuckDB."""
    if not names:
        return set(), True
    checker = os.path.join(root, "tools", "check_oracle.py")
    try:
        p = subprocess.run([sys.executable, checker, data, dumps, ",".join(names)],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=timeout)
    except subprocess.TimeoutExpired:
        fail("the output check did not finish in time")
    verdict = {}
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? ", line + " ")
        if m and m.group(2) in names:
            verdict[m.group(2)] = m.group(1)
            if m.group(1) == "FAIL":
                print(f"perfbench: {line}", file=sys.stderr)
    bad = {n for n in names if verdict.get(n) != "PASS"}
    return bad, all(n in verdict for n in names)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--trace-out")
    ap.add_argument("--data", default=DATA)
    ap.add_argument("--queries")
    a = ap.parse_args()
    start = time.monotonic()
    # a terminated run still stops its JVM and removes its scratch (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala"), os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}")
    data = os.path.abspath(a.data)
    if not os.path.isfile(os.path.join(data, "lineitem.parquet")):
        fail(f"input tables not found in {data}")
    cp = build(root, start + BUILD_DEADLINE_S)
    run_start = time.monotonic()

    work = os.path.join(root, ".perfbench", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_json = os.path.join(work, "result.json")
    trace_out = a.trace_out or os.path.join(root, ".perfbench", "traces",
                                            f"{a.workload}-seed{a.seed}.jsonl")
    if a.trace:
        os.makedirs(os.path.dirname(os.path.abspath(trace_out)), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *JVM_FLAGS, f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
            "--work", work, "--out", out_json]
    if a.trace:
        cmd += ["--trace-out", os.path.abspath(trace_out)]
    if a.queries:
        cmd += ["--queries", a.queries]
    log_path = os.path.join(work, "jvm.log")
    deadline = run_start + DEADLINE_S
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                proc.wait(timeout=max(10, deadline - 20 - time.monotonic()))
            except subprocess.TimeoutExpired:
                fail("the workload did not finish in time")
        if proc.returncode != 0 or not os.path.isfile(out_json):
            sys.stderr.write(open(log_path, errors="replace").read()[-4000:])
            fail(f"the benchmark JVM exited with code {proc.returncode}")
        res = json.load(open(out_json))
        bad, complete = check_queries(root, data, os.path.join(work, "dumps"), res["queries"],
                                      max(5, deadline - time.monotonic()))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    for name, err in res["warm_errors"].items():
        print(f"perfbench: warm-up {name}: {err}", file=sys.stderr)
    for err in res["errors"]:
        print(f"perfbench: {err}", file=sys.stderr)
    # an operation whose warm-up output or warm-up check failed counts as
    # failed in every timed run, like a query whose output fails the oracle
    bad |= set(res["warm_errors"])
    attempts, failures = res["attempts_by_name"], res["failed_by_name"]
    failed = sum(attempts[n] if n in bad else failures.get(n, 0) for n in attempts)
    values = res["per_layer"] if a.trace else res["metrics"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in bench["per_layer" if a.trace else "end_to_end"]}
    # wall-clock figures of the window: too dependent on host CPU steal to
    # be end-to-end metrics here (README), printed for the reader
    wall = {k: round(res["metrics"][k], 4) for k in ("ops_per_s", "op_p50_ms")}
    print(f"perfbench: window wall figures {json.dumps(wall)}", file=sys.stderr)
    print(f"perfbench: set-up phases end at (s after JVM start) {json.dumps(res['setup_parts'])}",
          file=sys.stderr)
    print(f"perfbench: warm-up ms {json.dumps(res['warm_ms'])}", file=sys.stderr)
    for i, p in enumerate(res["window"]["passes"]):
        print(f"perfbench: pass {i} " + " ".join(f"{k}={v:.4g}" for k, v in p.items()),
              file=sys.stderr)
    print(json.dumps({"correct": complete, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
