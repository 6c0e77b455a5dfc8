#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per call.

    python3 perfbench/run.py --workload stream-backlog --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt, offline;
output under .bench_build/ at the checkout root), runs the workload in one
JVM and prints, as the last line of stdout, one JSON object with the keys
correct, attempted, failed and metrics. --trace 0 reports the end-to-end
metrics; --trace 1 reports the per-layer metrics of a traced run, plus the
tracing overhead and the one-core and CPU-probe controls. Progress and
build output go to stderr. See perfbench/NOTES.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import benchlib

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("stream-backlog", "batch-suite")
DEADLINE_S = 175.0

JAVA_OPTS = [
    "-XX:+UseParallelGC", "-Xmx3g", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_fingerprint():
    h = hashlib.sha1()
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    with open(os.path.join(BENCH, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("engine sources (src/main/scala) not found next to perfbench/")
    os.makedirs(OUT, exist_ok=True)
    cp_file, fp_file = os.path.join(OUT, "classpath.txt"), os.path.join(OUT, "fingerprint")
    fp = sources_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    log("building engine + harness with sbt (offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=840)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError(f"sbt build failed (exit {r.returncode})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(fp_file, "w") as fh:
        fh.write(fp)
    return lines[-1]


def run_jvm(cp, workload, seed, seconds, trace, cores=4, deadline=None):
    """Run the harness JVM once; returns its raw record."""
    tag = f"{workload}-s{seed}-t{int(trace)}-c{cores}-{os.getpid()}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    cmd = ["java"] + JAVA_OPTS + ["-cp", cp, "graftbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--cores", str(cores),
        "--out", out, "--work", work, "--data", os.path.join(BENCH, "data")]
    left = (deadline - time.monotonic()) if deadline else DEADLINE_S
    try:
        r = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=subprocess.PIPE,
                           text=True, timeout=max(5.0, left))
        if r.returncode != 0 or not os.path.exists(out):
            sys.stderr.write(r.stderr[-6000:])
            raise RuntimeError(f"benchmark JVM failed (exit {r.returncode})")
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    cp = build()
    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S
    raw = run_jvm(cp, a.workload, a.seed, a.seconds, False, deadline=deadline)
    e2e = benchlib.end_to_end(raw)
    attempted, failed, notes = benchlib.outcomes(raw)
    if a.trace:
        traced = run_jvm(cp, a.workload, a.seed, a.seconds, True, deadline=deadline)
        att2, fail2, notes2 = benchlib.outcomes(traced)
        attempted, failed = attempted + att2, failed + fail2
        notes = {"untraced": notes, "traced": notes2}
        one_core = None
        if a.workload == "stream-backlog":
            # single-thread baseline: the same drain on local[1], a quarter of the turns
            one_core = benchlib.end_to_end(run_jvm(
                cp, "stream-backlog", a.seed, max(1.0, a.seconds / 4), False,
                cores=1, deadline=deadline))
        metrics = benchlib.per_layer(traced, e2e, one_core)
        for q in traced.get("batch", {}).get("queries", []):
            log(f"jobs {q['name']}: construct {q['construct_jobs']} action {q['action_jobs']}")
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in benchlib.E2E}
    log(f"checks: {json.dumps(notes)[:2000]}")
    log(f"ops_failed_frac: {failed / max(1, attempted):.6f} ({failed}/{attempted})")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except (RuntimeError, subprocess.TimeoutExpired, OSError, KeyError, ValueError) as e:
        log(f"error: {e}")
        sys.exit(2)
