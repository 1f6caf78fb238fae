#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--cores 4] [--heap 2g] [--shuffle-partitions 4]

Builds the engine and the benchmark from source with sbt (once per source
state), runs one workload in its own JVM on a local[cores] session, and
prints the workload's report line followed by one JSON result line. All
files it writes stay under perfbench/: the build under .build/ and each
run's warehouse, checkpoints, landing dirs and temp files under a fresh
directory in .work/ that is removed when the run ends.
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
BUILD = os.path.join(HERE, ".build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# what Spark needs opened on JDK 17 when no spark-submit launches it
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the engine's build and main sources and
    the benchmark's own."""
    tops = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for t in tops:
        if not os.path.isfile(t):
            fail(f"missing {os.path.relpath(t, ROOT)}: run from a full checkout")
    files = list(tops)
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        if not os.path.isdir(src):
            fail(f"missing {os.path.relpath(src, ROOT)}: run from a full checkout")
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath-" + stamp)
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        os.remove(os.path.join(BUILD, old))
    with open(cp_file, "w") as fh:
        fh.write(cp)
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def metric_names(key):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)[key]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--heap", default="2g")
    ap.add_argument("--shuffle-partitions", type=int, default=4)
    a = ap.parse_args()

    data = os.path.join(HERE, "data", "sf0.01")
    if not os.path.isfile(os.path.join(data, "expected_rows.tsv")):
        fail("missing perfbench/data/sf0.01")
    classpath = build()

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-{int(time.time() * 1000)}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(a.shuffle_partitions)
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = (["java", f"-Xms{a.heap}", f"-Xmx{a.heap}",
            # a fixed set of JIT threads, whose CPU the workload subtracts
            "-XX:-UseDynamicNumberOfCompilerThreads"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--cores", str(a.cores),
              "--shuffle-partitions", str(a.shuffle_partitions),
              "--work", work, "--data", data])
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    out = []
    try:
        deadline = time.time() + RUN_TIMEOUT_S
        signal.signal(signal.SIGALRM, lambda *_: proc.kill())
        signal.alarm(RUN_TIMEOUT_S)
        for line in proc.stdout:
            out.append(line.rstrip("\n"))
        _, status, usage = os.wait4(proc.pid, 0)
        signal.alarm(0)
        proc.returncode = os.waitstatus_to_exitcode(status)
        if time.time() > deadline:
            fail(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        if proc.returncode is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    if proc.returncode != 0 or not out:
        fail(f"workload JVM exited with {proc.returncode}")
    result = json.loads(out[-1])
    if a.trace == "0":
        result["metrics"]["peak_rss_mb"] = {"value": usage.ru_maxrss / 1024.0, "unit": "MB"}
    want = metric_names("per_layer" if a.trace == "1" else "end_to_end")
    if sorted(result["metrics"]) != sorted(want):
        fail(f"printed metrics {sorted(result['metrics'])} != BENCHMARK.json {sorted(want)}")
    result["metrics"] = {k: result["metrics"][k] for k in want}
    for line in out[:-1]:
        print(line)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
