#!/usr/bin/env python3
"""Run one lcbench workload and print its metrics.

Usage (from the repository root):
  python3 lcbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the driver from source (once per source state),
generates the seeded inputs, runs the driver in one JVM, checks the outputs
(DuckDB oracle through tools/check.py, result-hash re-check, as-of prefix
checks) and prints, as the last stdout line, one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end metrics; with --trace 1 they are the per-layer metrics of the
traced passes, and spans.json is written beside the run's result.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SPARK_JARS = "/opt/spark/jars"

# Generator sizing per workload: (base scale factor, replicas). The op lists
# live in the driver (Workloads.scala).
WORKLOADS = {
    "curate_batch": (0.1, 1),
    "index_build": (0.001, 1),
}
# A fixed-size heap: with a growable one, peak RSS follows the JVM's heap
# sizing decisions and varied by 40% between identical runs.
JVM_HEAP = "1g"
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"lcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in sorted(os.walk(t)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the driver; skipped when the sources match
    the last successful build in this checkout."""
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)


def generate(workload, seed, out):
    sf, replicas = WORKLOADS[workload]
    shutil.rmtree(out, ignore_errors=True)
    p = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--out", out,
                        "--seed", str(seed), "--sf", str(sf), "--replicas", str(replicas)],
                       capture_output=True, text=True, timeout=120)
    if p.returncode != 0:
        sys.stderr.write(p.stderr)
        die("input generation failed")
    return json.loads(p.stdout.strip().splitlines()[-1])


def cpus():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def run_driver(workload, seed, seconds, trace, data, out):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = ":".join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                   os.path.join(ROOT, "target", "scala-2.13", "classes"),
                   os.path.join(SPARK_JARS, "*")])
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "lcbench.Main",
            "--workload", workload, "--data", data, "--out", out,
            "--seconds", str(seconds), "--trace", str(trace),
            "--seed", str(seed), "--cpus", str(cpus())])
    log = os.path.join(out, "driver.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(30, 170 - (time.monotonic() - T0)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"driver timed out; log in {log}")
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"driver failed (exit {rc}); log in {log}")
    return json.load(open(os.path.join(out, "result.json")))


def oracle_check(data, verify_dir):
    """DuckDB compare of every oracle op through tools/check.py, unedited.
    Returns {op: reason} for each mismatch."""
    names = json.load(open(os.path.join(verify_dir, "declared.json")))
    if not names:
        return {}
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        data, verify_dir] + names,
                       capture_output=True, text=True, timeout=120, cwd=WORK)
    fails = dict(m.groups() for m in re.finditer(r"^FAIL (\S+): (.*)$", p.stdout, re.M))
    ok = set(re.findall(r"^OK +(\S+) ", p.stdout, re.M))
    for n in names:
        if n not in ok and n not in fails:
            fails[n] = f"no oracle verdict (check.py exit {p.returncode}): {p.stderr.strip()[-300:]}"
    return fails


def run_once(workload, seed, seconds, trace):
    """One run: build, generate, drive, check. Returns the contract line as
    a dict, the detail dict and the run's output directory."""
    if workload not in WORKLOADS:
        die(f"unknown workload {workload!r}; known: {', '.join(WORKLOADS)}")
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
              os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, f)):
            die(f"program source {f} not found under {ROOT}; run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    build()
    global T0
    T0 = time.monotonic()
    tag = f"{workload}-{seed}-{trace}"
    data = os.path.join(WORK, "data", tag)
    out = os.path.join(WORK, "runs", tag)
    shutil.rmtree(out, ignore_errors=True)
    tables = generate(workload, seed, data)
    res = run_driver(workload, seed, seconds, trace, data, out)
    failed_ops = dict(res["detail"]["failed_ops"])
    oracle_fails = oracle_check(data, os.path.join(out, "verify"))
    for n, why in oracle_fails.items():
        failed_ops.setdefault(n, "oracle mismatch: " + why)
    failed = res["failed"] + sum(1 for n in oracle_fails if n not in res["detail"]["failed_ops"])
    attempted = res["attempted"]
    detail = dict(res["detail"], tables=tables, failed_ops=failed_ops,
                  failed_ratio=failed / attempted)
    shutil.rmtree(data, ignore_errors=True)
    for d in ("spark", "tmp", "lake", "verify"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": res["layers"] if trace else res["metrics"]}
    return line, detail, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    line, detail, out = run_once(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps({"detail": detail}))
    if a.trace:
        print(json.dumps({"spans": os.path.relpath(os.path.join(out, "spans.json"), ROOT)}))
    print(json.dumps(line))


T0 = time.monotonic()
if __name__ == "__main__":
    main()
