#!/usr/bin/env python3
"""Benchmark entry point; run from the root of a checkout.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the library together with the Scala driver in perfbench/ (once per
source state), runs one workload in a fresh JVM and relays its result: the
last stdout line is one JSON object with `correct`, `attempted`, `failed`
and `metrics`. `--workload all` runs every workload of BENCHMARK.json for
the seed, prints each metric with its unit, and exits nonzero when any
output check failed. Every file a run writes stays under the build dir
(`$CARGO_TARGET_DIR`, default `.bench_build`) and its temp dir is removed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
RUN_TIMEOUT = 170
BUILD_TIMEOUT = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the library's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build():
    """Compile library + driver unless this source state is built; return the classpath."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        log("no library sources here (src/main/scala/graft, build.sbt): run from a checkout root")
        sys.exit(2)
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cpfile = os.path.join(BUILD, "classpath.txt")
    stampfile = os.path.join(BUILD, "stamp")
    if os.path.exists(stampfile) and open(stampfile).read() == stamp and os.path.exists(cpfile):
        return open(cpfile).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building library + benchmark driver ...")
    for f in (stampfile, cpfile, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dperfbench.cpfile={cpfile}", "writeClasspath"]
    r = run_bounded(cmd, cwd=HERE, env=env, timeout=BUILD_TIMEOUT, stdout=sys.stderr)
    if r != 0 or not os.path.exists(cpfile):
        log(f"build failed (exit {r})")
        sys.exit(2)
    cp = open(cpfile).read().strip()
    # Record the classes a run loads (the self-test touches every workload)
    # into a class-data-sharing archive: a run then reaches its first op
    # ~7 s sooner. A failing self-test is reported, and runs' own checks
    # still decide correctness, so it does not fail the build.
    log("self-test, recording the class archive ...")
    if selftest(cp, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) is None:
        log("self-test FAILED")
    with open(stampfile, "w") as fh:
        fh.write(stamp)
    return cp


def run_bounded(cmd, timeout, **kw):
    """Run in its own process group; on timeout kill the group and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def spec_names():
    with open(SPEC) as fh:
        spec = json.load(fh)
    return spec, [m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]]


def java(cp, main, args, work, out, jvm_flags=()):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if not jvm_flags and os.path.exists(ARCHIVE):
        jvm_flags = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    # C1 only: C2 keeps recompiling the driver paths for 30+ ops (a diff
    # op drifts from 1.1 s to 0.6 s), longer than a run can measure, so a
    # run's median would mostly reflect how far the JIT got; with C1 the
    # op time is flat from the first measured op.
    cmd = ["java", "-Xmx4g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
           "-XX:TieredStopAtLevel=1", "-Xlog:disable", "-Xlog:all=warning:stderr", *jvm_flags]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dspark.local.dir={os.path.join(work, 'local')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, main] + args
    return run_bounded(cmd, cwd=ROOT, env=env, timeout=RUN_TIMEOUT, stdout=out)


def selftest(cp, jvm_flags=()):
    """Run perfbench.SelfTest; return the names it prints, or None if it failed."""
    work = os.path.join(BUILD, "tmp", f"selftest-{os.getpid()}")
    out_path = os.path.join(BUILD, f"selftest-{os.getpid()}.txt")
    try:
        with open(out_path, "w") as out:
            rc = java(cp, "perfbench.SelfTest", [], work, out, jvm_flags)
        lines = open(out_path).read().splitlines()
        return json.loads(lines[-1]) if rc == 0 and lines else None
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(out_path):
            os.remove(out_path)


def run_one(cp, workload, seed, seconds, trace):
    """One workload run; returns the parsed result object or None."""
    work = os.path.join(BUILD, "tmp", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out_path = os.path.join(BUILD, f"out-{os.getpid()}.txt")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work,
            "--spans", os.path.join(BUILD, "traces", f"{workload}-seed{seed}.json")]
    try:
        with open(out_path, "w") as out:
            rc = java(cp, "perfbench.Main", args, work, out)
        lines = [l for l in open(out_path).read().splitlines() if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(out_path):
            os.remove(out_path)
    if rc != 0 or not lines:
        log(f"{workload}: driver exited {rc}")
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        log(f"{workload}: last line is not a result: {lines[-1][:200]}")
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(SPEC):
        log("BENCHMARK.json not found: run from a checkout root")
        sys.exit(2)
    spec, e2e, layers = spec_names()
    cp = build()

    if a.selftest:
        names = selftest(cp)
        if names is None:
            log("selftest FAILED")
            sys.exit(1)
        ok = names["end_to_end"] == e2e and names["per_layer"] == layers and \
            names["workloads"] == [w["name"] for w in spec["workloads"]]
        log("names match BENCHMARK.json" if ok else f"names differ from BENCHMARK.json: {names}")
        sys.exit(0 if ok else 1)

    workloads = [w["name"] for w in spec["workloads"]] if a.workload == "all" else [a.workload]
    results = {}
    for w in workloads:
        if w not in [x["name"] for x in spec["workloads"]]:
            log(f"unknown workload {w}")
            sys.exit(2)
        r = run_one(cp, w, a.seed, a.seconds, a.trace)
        want = layers if a.trace else e2e
        if r is None or sorted(r.get("metrics", {})) != sorted(want):
            log(f"{w}: no result, or its metric names differ from BENCHMARK.json")
            sys.exit(1)
        results[w] = r

    if a.workload != "all":
        print(json.dumps(results[a.workload]))
        return
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    bad = False
    for w, r in results.items():
        bad |= not r["correct"]
        print(f"{w}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
        for k, m in r["metrics"].items():
            print(f"  {k:40s} {m['value']:>14.6g} {units[k]}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
