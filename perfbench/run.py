#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark from source
(once per checkout), runs one workload in a fresh JVM, and prints every
metric by name and unit, then the result line as the last line of stdout.

    python3 perfbench/run.py --workload search-routed --seed 1 --seconds 20 --trace 0

Run it from the repository root. Build outputs, Spark scratch space and
traces go under .bench_build/ in that root.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(OUT, "classpath.txt")
STAMP = os.path.join(OUT, "build.stamp")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (the same list the
# engine's own build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every build input: a changed source forces a rebuild."""
    h = hashlib.sha256()
    inputs = ["build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            inputs += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    for rel in sorted(inputs):
        p = os.path.join(ROOT, rel)
        if os.path.isfile(p):
            h.update(rel.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    os.makedirs(OUT, exist_ok=True)
    print("perfbench: building engine and benchmark", file=sys.stderr)
    t0 = time.time()
    # sbt's own state (global base, ivy home, temp files) goes under
    # .bench_build too; dependencies resolve from the toolchain's cache
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    proc = subprocess.run(
        ["sbt", "-batch", "--no-server",
         "-Dsbt.boot.lock=false", f"-Djava.io.tmpdir={OUT}/tmp",
         f"-Djna.tmpdir={OUT}/tmp", f"-Dsbt.global.base={OUT}/sbt-global",
         f"-Dsbt.ivy.home={OUT}/ivy2", "launcher"],
        cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
        env=dict(os.environ, JAVA_TOOL_OPTIONS=(
            os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()),
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (exit {proc.returncode})", 1)
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def run_jvm(args):
    with open(CLASSPATH) as f:
        cp = ":".join(line.strip() for line in f if line.strip())
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    # a fixed heap keeps the JVM's resident size from following GC sizing
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={OUT}/tmp",
        f"-Dspark.local.dir={OUT}/spark-local",
        f"-Dspark.sql.warehouse.dir={OUT}/warehouse",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", OUT,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        fail(f"run failed (exit {proc.returncode})", 1)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if not lines:
        fail("run printed no result", 1)
    return json.loads(lines[-1][len("PERFBENCH "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    for rel in ("BENCHMARK.json", "build.sbt", "src/main/scala",
                "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"{rel} not found: run from the repository root")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    declared = spec["per_layer" if args.trace else "end_to_end"]

    build()
    res = run_jvm(args)
    metrics = res["metrics"]
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']!s:>22} {m['unit']}")
    print(f"{'operations attempted':40s} {res['attempted']:>22}")
    print(f"{'operations failed':40s} {res['failed']:>22}")
    for n in res["notes"]:
        print(n)
    for f in res["failures"]:
        print(f"FAILED: {f}")

    missing = [m["name"] for m in declared
               if metrics.get(m["name"], {}).get("value") is None]
    if missing:
        fail(f"run did not measure {', '.join(missing)}", 1)
    if res["attempted"] < 1:
        fail("run attempted no operation", 1)
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]]["value"],
                                "unit": m["unit"]} for m in declared},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
