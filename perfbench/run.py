#!/usr/bin/env python3
"""Benchmark launcher: builds the library and the benchmark driver from
source (once per source state), runs one workload in a fresh JVM, checks
curation-batch outputs against the DuckDB oracle, and prints one JSON
result line.

Usage:
  python3 perfbench/run.py --workload window-steady --seed 1 \
      --seconds 10 --trace 0

Run it from the root of a checkout. Everything it builds or writes stays
under the checkout (`.bench_build/`, sbt's `target/` directories).
See perfbench/README.md for the workloads, metrics and trace mode.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("window-steady", "curation-batch")
# the forked-JVM module openings Spark needs outside spark-submit (the
# same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """sbt build of the library plus the driver; returns the classpath
    and the sources' hash. Skipped when the sources hash to the last
    successful build's."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("sources") == stamp and all(
                os.path.exists(p) for p in cached["classpath"].split(":")):
            return cached["classpath"], stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=850)
        log.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines()
             if os.path.join("perfbench", "target") in ln and ":" in ln
             and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {r.returncode}); see {log_path}", 3)
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        json.dump({"sources": stamp, "classpath": classpath}, fh)
    return classpath, stamp


def run_jvm(classpath, args, work, artifacts, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--params", os.path.join(BENCH, "workloads.json"),
            "--work", work, "--artifacts", artifacts]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(artifacts, tag + ".log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"{tag} did not finish in time", 4)
        finally:
            # also on a timeout or a signal to this launcher: the JVM runs
            # in its own process group and must not outlive the run
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    res = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not res:
        fail(f"{tag} failed (exit {proc.returncode}); see "
             f"{os.path.join(artifacts, tag + '.log')}", 5)
    return tag, json.loads(res[-1][len("PERFBENCH_RESULT "):])


def oracle_check(check, deadline, workers):
    """The repository's DuckDB comparison (tools/selfcheck.py) over the
    gate outputs, one gate directory per process, `workers` at a time;
    returns (passed, failed) gate counts and the reports."""
    def one(out):
        return subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "selfcheck.py"),
             check["data"], out],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=max(1, deadline - time.time()))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        runs = list(pool.map(one, check["out"]))
    passed = failed = 0
    for r in runs:
        lines = r.stdout.splitlines()
        p = sum(ln.startswith("PASS ") for ln in lines)
        f = sum(ln.startswith("FAIL ") for ln in lines)
        if r.returncode not in (0, 1) or p + f == 0:
            fail("oracle check crashed:\n" + r.stdout[-2000:], 6)
        passed, failed = passed + p, failed + f
    return passed, failed, "".join(r.stdout for r in runs)


def tracing_overhead(artifacts, workload, sources_hash, traced):
    """Tracing overhead: this traced run's median result latency against
    the median over the untraced runs of the same workload and sources
    in this checkout (0 when there are none yet)."""
    base = []
    for name in os.listdir(artifacts):
        if name.startswith(workload + "-seed") and name.endswith("-trace0.json"):
            with open(os.path.join(artifacts, name)) as fh:
                a = json.load(fh)
            if a.get("sources") == sources_hash and a.get("failed") == 0:
                base.append(a["e2e"]["latency_p50_ms"])
    if not base:
        return 0.0, 0
    return traced / statistics.median(base) - 1.0, len(base)


def main():
    # turn SIGTERM into an exit, so the cleanup in `finally` blocks runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1", 2)
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "selfcheck.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a checkout of the library: {need} is missing", 2)

    os.makedirs(BUILD, exist_ok=True)
    classpath, sources_hash = build()
    deadline = time.time() + RUN_LIMIT_S
    artifacts = os.path.join(BUILD, "artifacts")
    work = os.path.join(BUILD, "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(artifacts, exist_ok=True)
    try:
        t0 = time.time()
        tag, res = run_jvm(classpath, args, work, artifacts, deadline)
        t1 = time.time()
        attempted, failed = int(res["attempted"]), int(res["failed"])
        art_path = os.path.join(artifacts, tag + ".json")
        with open(art_path) as fh:
            artifact = json.load(fh)
        if "oracle_check" in artifact:
            passed, bad, report = oracle_check(
                artifact["oracle_check"], deadline,
                artifact["params"]["cores"])
            failed += bad
            artifact["oracle"] = {"passed": passed, "failed": bad,
                                  "report": report}
        artifact["wall_s"] = {"jvm": t1 - t0, "oracle": time.time() - t1}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    if args.trace:
        share, n = tracing_overhead(artifacts, args.workload, sources_hash,
                                    artifact["e2e"]["latency_p50_ms"])
        metrics["trace.overhead_share"] = share
        artifact["trace_overhead"] = {"share": share, "untraced_runs": n}
    units = {}
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(spec_path):
        with open(spec_path) as fh:
            spec = json.load(fh)
        listed = spec["per_layer"] if args.trace else spec["end_to_end"]
        units = {m["name"]: m["unit"] for m in listed}
        missing = [n for n in units if n not in metrics]
        if args.trace:
            # a layer a workload does not exercise reads 0
            metrics.update({n: 0.0 for n in missing})
        elif missing:
            fail(f"end-to-end metrics not measured: {missing}", 7)
        metrics = {n: metrics[n] for n in units}
    bad = [n for n, v in metrics.items() if not math.isfinite(v)]
    if bad:
        fail(f"non-finite metrics: {bad}", 7)

    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {n: {"value": v, "unit": units.get(n, "")}
                          for n, v in metrics.items()}}
    artifact.update({"correct": result["correct"], "failed": failed,
                     "error_rate": failed / max(1, attempted),
                     "sources": sources_hash})
    with open(art_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
