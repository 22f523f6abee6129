#!/usr/bin/env python3
"""Benchmark launcher for graft.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch-mix --seed 1 --seconds 9 --trace 0

Builds the benchmark (an sbt project in this directory that compiles the
graft library of the enclosing checkout) when its sources changed, then runs
one workload in one JVM. The last line of stdout is the result JSON:
correct, attempted, failed and the metrics (end-to-end ones, or with
``--trace 1`` the per-layer ones).

Other modes:
    --smoke            every workload, traced, on tiny inputs; checks that each
                       named metric is present (about two minutes after the build)
    --record-golden    re-record the golden result fingerprints
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ["batch-mix", "stream-exactly-once"]
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xmx3g",
    "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false",
] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """sha256 over the sources and build files the benchmark compiles."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath of the current sources is cached."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"], digest
    log("building (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath, digest


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classpath, digest, workload, seed, seconds, trace, extra=()):
    """Run one workload; returns (exit code, stdout lines)."""
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record = json.dumps({"commit": git_commit(), "source_sha256": digest})
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work,
            "--run-record", record] + list(extra))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"{workload}: timed out after {RUN_TIMEOUT_S} s")
        return 1, []
    return proc.returncode, out.strip().splitlines()


def result_of(lines):
    """The result object on the last line, or None."""
    if not lines:
        return None
    try:
        res = json.loads(lines[-1])
    except ValueError:
        return None
    keys = {"correct", "attempted", "failed", "metrics"}
    return res if isinstance(res, dict) and set(res) == keys else None


def spec_metrics(trace):
    """(name, unit) of every metric BENCHMARK.json names for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def conform(res, trace):
    """The result with exactly the metrics BENCHMARK.json names, in its
    order. A per-layer metric of a layer the workload does not run (state
    rows in a batch workload, say) is reported as 0; a missing end-to-end
    metric is an error."""
    got = res["metrics"]
    out, absent = {}, []
    for name, unit in spec_metrics(trace):
        if name in got:
            out[name] = {"value": got[name]["value"], "unit": unit}
        elif trace:
            out[name] = {"value": 0, "unit": unit}
            absent.append(name)
        else:
            raise SystemExit(f"perfbench: end-to-end metric {name} missing")
    return dict(res, metrics=out), absent


def smoke(classpath, digest):
    """Every workload, traced, on tiny inputs: each run must exit 0 and report
    correct with every end-to-end metric (the traced run record carries them),
    and every per-layer metric must come from some workload."""
    bad, layered = [], set()
    for workload in WORKLOADS:
        t0 = time.time()
        code, lines = run_jvm(classpath, digest, workload, 1, 1, 1, ["--smoke"])
        res = result_of(lines)
        try:
            e2e = json.loads(lines[-2])["run_record"]["end_to_end"]
        except (IndexError, KeyError, ValueError):
            e2e = {}
        layered |= set(res["metrics"]) if res else set()
        missing = [n for n, _ in spec_metrics(0) if n not in e2e]
        ok = code == 0 and res is not None and res["correct"] and not missing
        log(f"smoke {workload}: {'ok' if ok else 'FAIL'} ({time.time() - t0:.0f} s)"
            f"{' missing ' + ','.join(missing) if missing else ''}")
        if not ok:
            bad.append(workload)
    unmeasured = [n for n, _ in spec_metrics(1) if n not in layered]
    if unmeasured:
        bad.append("per-layer metrics no workload reports: " + ",".join(unmeasured))
    print(json.dumps({"smoke": "ok" if not bad else "failed", "failed": bad}))
    return 0 if not bad else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=9)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-golden", action="store_true")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("graft sources not found next to perfbench/; run from a full checkout")
        return 2
    classpath, digest = build()
    if args.smoke:
        return smoke(classpath, digest)
    if not args.workload:
        ap.error("--workload is required")
    extra = ["--record"] if args.record_golden else []
    code, lines = run_jvm(classpath, digest, args.workload, args.seed, args.seconds,
                          args.trace, extra)
    res = result_of(lines)
    for line in lines[:-1]:
        print(line)
    if code != 0 or res is None:
        log(f"{args.workload}: run failed (exit {code})")
        return 1
    res, absent = conform(res, args.trace)
    if absent:
        print(json.dumps({"layers_not_run": absent}))
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
