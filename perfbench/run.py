#!/usr/bin/env python3
"""Run one benchmark workload for one seed and print its result.

    python3 perfbench/run.py --workload archive_browse --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt, which compiles the root project as
it stands); later runs reuse the build until a source file changes. Each
run starts one JVM (two with --trace 1: an untraced run, then a traced run
of the same seed, whose difference is the tracing overhead; the result
then carries the untraced run's end-to-end metrics beside the traced run's
per-layer ones). The last line of stdout is the result object; the line
before it is the run record.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("archive_browse", "curation_batch")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
EXPECTED = os.path.join(HERE, "expected.json")
STAMP = os.path.join(HERE, "target", "source.stamp")
BUILD_TIMEOUT_S = 850
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these when a SparkSession is made outside
# spark-submit; the same list as the root build's forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every build input: a change to any of them rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    cmd = ["sbt", "-Dsbt.server.autostart=false", "--batch",
           "-Dsbt.log.noformat=true", "writeClasspath"]
    try:
        subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S, check=True)
    except (subprocess.SubprocessError, OSError) as e:
        fail(f"build failed: {e}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def expected_digest(workload, seed):
    """The committed result digest of (workload, seed), if there is one."""
    if not os.path.exists(EXPECTED):
        return None
    with open(EXPECTED) as fh:
        return json.load(fh).get(workload, {}).get(str(seed))


def run_jvm(args, trace, work):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--work", work, "--data", os.path.join(HERE, "data")]
    expected = expected_digest(args.workload, args.seed)
    if expected:
        cmd += ["--expected-digest", expected]
    if trace:
        cmd += ["--spans", os.path.join(
            HERE, "work", f"spans-{args.workload}-seed{args.seed}.jsonl")]
    try:
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=sys.stderr, timeout=JVM_TIMEOUT_S,
                             text=True)
    except subprocess.TimeoutExpired:
        fail(f"{args.workload} run exceeded {JVM_TIMEOUT_S} s")
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stdout)
        fail(f"{args.workload} run failed (exit {out.returncode})")
    return json.loads(lines[-2])["run_record"], json.loads(lines[-1])


def main():
    # a SIGTERM unwinds like an error, so the JVM child is killed and
    # waited for and the scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no engine sources under {ROOT}/src/main/scala; "
             "run from a full checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    build()

    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        record, result = run_jvm(args, 0, work)
        if args.trace:
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work, exist_ok=True)
            trecord, traced = run_jvm(args, 1, work)
            # one untraced/traced pair: a single reading, as noisy as the
            # host, so it carries no bound
            base = record["end_to_end"]["throughput_per_s"]
            seen = trecord["end_to_end"]["throughput_per_s"]
            traced["metrics"] = {
                **result["metrics"], **traced["metrics"],
                "trace.overhead_frac": {"value": base / seen - 1.0,
                                        "unit": "ratio"}}
            for k in ("attempted", "failed"):
                traced[k] += result[k]
            traced["correct"] = traced["correct"] and result["correct"]
            record = {"untraced": record, "traced": trecord}
            result = traced
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"run_record": record}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
