#!/usr/bin/env python3
"""Run one benchmark workload against the library built from this tree.

    python3 perfbench/run.py --workload churn|curate|live --seed N \
        --seconds S --trace 0|1

Run it from the repository root. The first run compiles the library's
sources together with the benchmark (`perfbench/build.sbt`); later runs
reuse the build while the sources are unchanged. Each run starts one JVM
at local[nproc], writes its scratch data under `perfbench/work/` (removed
afterwards) and its full record under `perfbench/results/`. The last line
of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json when tracing is off and the
per-layer metrics when it is on. The fixture tables are read from
$SPARK_GRAFT_SF_DIR, or else from the sf0.1 directory that TESTDATA.md
lists.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
TARGET = os.path.join(BENCH, "target")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build: library and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(BENCH, "src", "main", "scala")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or
    when this script is told to stop."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)


def build(digest):
    """Compiles with sbt when the sources changed; returns the classpath."""
    stamp = os.path.join(TARGET, "perfbench-classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "compile", "export Runtime/fullClasspath"]
    code, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if code != 0:
        sys.stderr.write((out or "")[-4000:])
        fail("build failed" if code is not None else "build timed out")
    lines = [l for l in out.splitlines() if l.strip()]
    classpath = lines[-1].strip()
    if "perfbench" not in classpath or ":" not in classpath:
        fail("could not read the classpath from sbt")
    os.makedirs(TARGET, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def commit(digest):
    """The git commit when there is one, else a digest of the sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree:" + digest[:16]


def data_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        manifest = os.path.join(ROOT, "TESTDATA.md")
        if os.path.exists(manifest):
            with open(manifest) as fh:
                m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", fh.read(), re.M)
            d = m.group(1) if m else None
    if not d or not os.path.isdir(d):
        fail("no sf0.1 fixture directory (set SPARK_GRAFT_SF_DIR)")
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the library sources are not in this directory")
    data = data_dir()
    digest = source_digest()
    classpath = build(digest)

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BENCH, "work", f"{name}-{os.getpid()}")
    results = os.path.join(BENCH, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    record_path = os.path.join(results, name + ".json")
    if os.path.exists(record_path):
        os.remove(record_path)
    # a fixed, pre-touched heap: peak RSS then moves with off-heap use and
    # not with when the collector chose to grow the heap
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", work, "--out", record_path])
    env = dict(os.environ, PERFBENCH_COMMIT=commit(digest))
    try:
        with open(os.path.join(results, name + ".log"), "w") as log:
            code, out = run_group(cmd, RUN_TIMEOUT_S, env=env, cwd=work,
                                  stdout=subprocess.PIPE, stderr=log,
                                  text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if out:
        sys.stdout.write(out)
    if code != 0:
        fail(f"the benchmark JVM {'timed out' if code is None else 'failed'};"
             f" see {os.path.relpath(results, ROOT)}/{name}.log")
    with open(record_path) as fh:
        record = json.load(fh)

    if args.trace:
        wanted = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        source = record["per_layer"]
        have = {k: (v, u) for k, u in wanted for v in [source.get(k)]}
    else:
        wanted = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        source = record["end_to_end"]
        have = {k: (source.get(k, {}).get("value"), source.get(k, {}).get("unit"))
                for k, _ in wanted}
    metrics = {}
    for k, unit in wanted:
        v = have[k][0]
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {k} was not measured")
        if not args.trace and v <= 0:
            fail(f"metric {k} read {v}")
        metrics[k] = {"value": v, "unit": unit}
    print(json.dumps({"correct": bool(record["correct"]),
                      "attempted": int(record["attempted"]),
                      "failed": int(record["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
