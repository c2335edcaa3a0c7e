#!/usr/bin/env python3
"""Feature-store benchmark runner.

    python3 perfbench/run.py --workload <training|refresh_serve|...> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt once per
checkout (the classpath is cached under perfbench/target and rebuilt
when a source file changes), then launches one JVM directly on the
compiled classpath, so set-up time measures the program and not the
build tool. Each run works in a fresh directory under
perfbench/target/runs that is deleted afterwards.

The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; it is printed only when
the JVM exited 0 and reported every metric BENCHMARK.json declares for
the run's mode. A run whose output checks failed still prints its result,
with "correct": false, and exits 0; any other failure exits non-zero
without a result line.
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
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CP_FILE = os.path.join(TARGET, "classpath.txt")
STAMP_FILE = os.path.join(TARGET, "classpath.stamp")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
WORKLOADS = ("training", "refresh_serve", "refresh_serve_inplace", "curate")

# Spark 4 on JDK 17 needs these outside spark-submit; the program's own
# build passes the same list to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first if any source changed."""
    stamp = digest()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == stamp:
                with open(CP_FILE) as cf:
                    cp = cf.read().strip()
                if all(os.path.exists(p) for p in cp.split(os.pathsep)):
                    return cp
    log("building program and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build failed with exit code {proc.returncode}")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    entries = cp.split(os.pathsep)
    if not cp or not all(os.path.exists(p) for p in entries) or \
            not any(p.endswith(os.path.join("perfbench", "target", "scala-2.13", "classes"))
                    for p in entries):
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build did not report the benchmark classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CP_FILE, "w") as fh:
        fh.write(cp)
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def declared_metrics(traced):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if traced else "end_to_end"]}


def run_jvm(args, cp, run_dir):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            f"-Dperfbench.traceDir={os.path.join(TARGET, 'traces')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--dir", run_dir]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)
    # a terminated runner takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds <= 0:
        raise SystemExit("--seconds must be positive")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"program source missing: {need} (run from a full checkout)")

    cp = classpath()
    run_dir = os.path.join(TARGET, "runs", uuid.uuid4().hex)
    os.makedirs(run_dir)
    try:
        rc, out = run_jvm(args, cp, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0:
        raise SystemExit(f"benchmark JVM exited with code {rc}")
    lines = [l for l in out.splitlines() if l.strip()]
    if len(lines) < 2:
        raise SystemExit("benchmark JVM printed no result")
    meta, result = json.loads(lines[-2]), json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"malformed result keys: {sorted(result)}")
    # the JVM reports every metric it measured; the result carries
    # exactly the ones BENCHMARK.json declares for this mode
    want = declared_metrics(args.trace == 1)
    missing = want - set(result["metrics"])
    if missing:
        raise SystemExit(f"metrics declared in BENCHMARK.json were not measured: {sorted(missing)}")
    result["metrics"] = {k: v for k, v in result["metrics"].items() if k in want}
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        raise SystemExit("no operation was attempted")
    print(json.dumps(meta, separators=(",", ":")))
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
