#!/usr/bin/env python3
"""Benchmark entry point for graft: builds the program once per checkout,
then runs one workload in a fresh JVM and prints one JSON result line.

    python3 perfbench/run.py --workload fhir_ingest --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. The build (scalac straight over
src/main/scala and perfbench/src, no sbt) goes to $CARGO_TARGET_DIR, or to
.bench_build when that is unset, and is reused while the sources are
unchanged. Scratch files of a run live under <build dir>/work and are
removed when the run ends; a traced run leaves its trace file under
<build dir>/traces.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

RUN_TIMEOUT_S = 170
HEAP = "3g"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The jar directory the sbt build declares (`unmanagedBase`), unless
    SPARK_HOME says otherwise."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            fail("build.sbt with an unmanagedBase jar directory not found; run from a graft checkout")
        d = m.group(1)
    if not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        fail(f"no Spark jars in {d}")
    return d


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        for dp, _, fs in os.walk(os.path.join(root, base)):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir, jars):
    """Compile program + benchmark into <build_dir>/classes, once per source
    state. A lock keeps concurrent runs from compiling twice."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        fail("no program sources under src/main/scala; run from a graft checkout")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(build_dir, "classes.stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(classes):
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(build_dir, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                    if re.match(r"scala-(compiler|library|reflect)-.*\.jar$", j)]
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
             "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
             "-d", tmp, "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            fail("compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f} s", file=sys.stderr)
        return classes


def run_jvm(root, classes, jars, args, work, trace_file, t0):
    cp = os.pathsep.join([classes, os.path.join(root, "src/main/resources"), os.path.join(jars, "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), work, trace_file]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S - (time.time() - t0))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run timed out")
    if proc.returncode != 0:
        fail(f"JVM exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("JVM printed no result")
    return json.loads(lines[-1])


def selftest(classes, jars, build_dir):
    """Run the checkers' self-tests: each must accept a correct output and
    reject deliberately corrupted ones."""
    work = os.path.join(build_dir, "work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        cp = os.pathsep.join([classes, os.path.join(jars, "*")])
        return subprocess.run(["java", "-Xmx1g", "-cp", cp, "graft.perfbench.SelfTest", work]).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="only run the checkers' self-tests")
    args = ap.parse_args()
    if not args.selftest and (args.workload is None or args.seed is None or args.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    jars = spark_jars(root)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    classes = build(root, build_dir, jars)
    if args.selftest:
        sys.exit(selftest(classes, jars, build_dir))

    work = os.path.join(build_dir, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_file = os.path.join(build_dir, "traces", f"{args.workload}-seed{args.seed}.json")
    t0 = time.time()
    try:
        r = run_jvm(root, classes, jars, args, work, trace_file, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = r["e2e"]
    # set-up: process start to the first operation, less the benchmark's
    # own input generation
    e2e["setup_s"] = (e2e.pop("setup_end_epoch_ms") - e2e.pop("gen_ms")) / 1000.0 - t0
    if args.trace:
        print(f"perfbench: trace written to {trace_file}", file=sys.stderr)
    # BENCHMARK.json names the metrics and their units
    measured = r["layers"] if args.trace else e2e
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        fail(f"run did not measure {', '.join(missing)}")
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted}
    ok = r["failed"] == 0 and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": ok, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
