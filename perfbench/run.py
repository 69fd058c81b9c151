#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from the checkout's sources (sbt, once
per source state), writes the seeded inputs, runs one JVM and prints its
summary; the last line is the JSON result. Everything it writes stays under
.bench_build/perfbench/ in the checkout.

    python3 perfbench/run.py --record-digests

re-records perfbench/expected_digests.json (after a deliberate change of
the generated tables or of a query's result), and

    python3 perfbench/run.py --self-test

runs the benchmark's own tests.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ["daily_batch", "dedup_graph"]
SF = 0.01               # scale of the static query tables (60k lineitem rows)
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash(root):
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")]:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_jars(root):
    """The Spark jar directory the repository's own build compiles against."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sbt(root, *tasks):
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS_DIR=spark_jars(root),
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    return subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks], cwd=HERE,
                          env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)


def self_test(root):
    """The benchmark's own tests: seeded inputs repeat byte for byte, and a
    failing op costs exactly one failed op."""
    py = subprocess.run([sys.executable, "-m", "unittest", "-v", "test_gen"], cwd=HERE)
    proc = sbt(root, "test")
    sys.stdout.write(proc.stdout[-3000:])
    sys.exit(1 if py.returncode or proc.returncode else 0)


def build(root, work):
    """Compile with sbt once per source state; return the runtime classpath."""
    cp_file = os.path.join(work, f"classpath-{source_hash(root)}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    t0 = time.time()
    proc = sbt(root, "compile", "export Runtime/fullClasspath")
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    lines = [l for l in proc.stdout.splitlines() if "perfbench" in l and ".jar" in l
             and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    return lines[-1].strip()


def ensure(path, make):
    """Run make(tmp) once and move its output to path; reuse afterwards."""
    if os.path.exists(os.path.join(path, "DONE")):
        return path
    tmp = path + ".tmp"
    for d in (tmp, path):
        shutil.rmtree(d, ignore_errors=True)
    make(tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    os.rename(tmp, path)
    return path


def run_jvm(cp, work, args, log_name):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "logs"), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--launch-ms", str(int(time.time() * 1000)),
            "--cores", str(len(os.sched_getaffinity(0)))] + args
    log = os.path.join(work, "logs", log_name)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM timed out after {JVM_TIMEOUT_S}s; log: {log}")
    if proc.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {proc.returncode}; log: {log}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("run from the root of a checkout of the repository (src/main/scala is missing)")
    if a.self_test:
        self_test(root)
    if not a.record_digests and a.workload is None:
        fail("--workload is required")
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    cp = build(root, work)

    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_id = hashlib.sha256(f.read()).hexdigest()[:8]
    dataset = f"tables-v{gen.GEN_VERSION}-sf{SF}"
    tables = ensure(os.path.join(work, "data", f"{dataset}-{gen_id}"),
                    lambda d: gen.write_tables(d, SF))
    expected = os.path.join(HERE, "expected_digests.json")
    common = ["--data", tables, "--dataset", dataset, "--expected", expected, "--work",
              os.path.join(work, "run")]

    if a.record_digests:
        run_jvm(cp, work, common + ["--workload", "dedup_graph", "--seed", "0", "--seconds",
                                    "0", "--trace", "0", "--record", expected], "record.log")
        print(f"recorded {expected}")
        return

    daily = ensure(os.path.join(work, "data", f"daily-{gen_id}-seed{a.seed}"),
                   lambda d: gen.write_daily(d, a.seed))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = run_jvm(cp, work, common + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--daily", daily,
        "--out", os.path.join(work, "out", f"{tag}.json")], f"{tag}.log")
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("the JVM printed no result line")
    if set(result) != RESULT_KEYS:
        fail(f"malformed result line: {lines[-1][:200]}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
