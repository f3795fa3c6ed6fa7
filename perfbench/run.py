#!/usr/bin/env python3
"""Build graft with the benchmark harness and run one benchmark workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload small_files --seed 1 --seconds 20 --trace 0

The first run compiles graft's sources together with the harness
(perfbench/build.sbt, sbt offline); later runs reuse the build while the
sources are unchanged. The run prints an artifact line and, last, one JSON
result line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end set of BENCHMARK.json, with --trace 1 the
per-layer set. Everything the run writes stays under .bench_build/perfbench.
Input tables come from the fixture folder graft's own SparkEntry.entry reads
(its parent holds sf0.1 and sf0.01), or from PERFBENCH_DATA: small_files cuts
sf0.1/lineitem.parquet, query_mix reads sf0.01.
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

ROOT = os.getcwd()
HERE = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(OUT, "build.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "2g"
JAVA_OPTIONS = os.path.join(HERE, "target", "java-options.txt")


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so an edited source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if all(os.path.exists(p) for p in (CLASSPATH, JAVA_OPTIONS, STAMP)) and open(STAMP).read() == stamp:
        return
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(CLASSPATH) or not os.path.exists(JAVA_OPTIONS):
        sys.stderr.write(open(log).read()[-4000:])
        fail(3, f"build failed (exit {rc}); log in {log}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def declared(trace):
    """Metric names BENCHMARK.json declares for this mode, or None."""
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec):
        return None
    b = json.load(open(spec))
    return {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--write-expected", action="store_true",
                   help="query_mix: record expected results before running")
    a = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(2, "no graft sources under src/main/scala/graft; run from the root of a graft checkout")
    build()

    work = os.path.join(OUT, "work", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + open(JAVA_OPTIONS).read().split()
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            "-XX:ReservedCodeCacheSize=256m", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", open(CLASSPATH).read().strip(), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--results", os.path.join(OUT, "results"),
            "--expected", os.path.join(HERE, "expected", "query_mix.txt")]
    if os.environ.get("PERFBENCH_DATA"):
        cmd += ["--data", os.environ["PERFBENCH_DATA"]]
    if a.write_expected:
        cmd += ["--write-expected", "1"]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def stop(code, msg):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(code, msg)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda s, _: stop(128 + s, f"stopped by signal {s}"))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(4, f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(5, f"no result line (exit {proc.returncode})")
    want = declared(a.trace)
    if want is not None and result["metrics"] and \
            {k: v["unit"] for k, v in result["metrics"].items()} != want:
        fail(5, "printed metrics differ from BENCHMARK.json: "
                + str(set(result["metrics"]) ^ set(want)))
    print(json.dumps(result))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
