#!/usr/bin/env python3
"""Run one workload of the optbinning-on-Spark benchmark.

    python3 optbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) into the checkout; later runs reuse
the build while the sources are unchanged. Each run starts one JVM on the
compiled classpath with a fixed heap, a fixed local[4] master and fixed
shuffle partitions, in a work directory of its own that is removed
afterwards. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; everything else goes to
standard error.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("scorecard_cycle", "fine_solve")

# The run environment, fixed here rather than read from the host.
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"optbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: program and harness sources."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [p for p in tops if os.path.isfile(p)]
    for tree in trees:
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Compile if the sources changed since the last build; return the
    runtime classpath of the harness."""
    stamp_file = os.path.join(BUILD, "build.json")
    stamp = source_stamp()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            prev = json.load(f)
        if prev.get("stamp") == stamp:
            return prev["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (exit {out.returncode})")
    lines = [l.strip() for l in out.stdout.splitlines()
             if l.strip() and not l.startswith("[") and ".jar" in l]
    if not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build printed no classpath")
    cp = lines[-1]
    print(f"optbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are "
             "not in this checkout")
    cp = classpath()

    t0_ms = int(time.time() * 1000)
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    report = os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}.json")
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            "-XX:-UsePerfData"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.master={MASTER}",
            f"-Dspark.sql.shuffle.partitions={SHUFFLE_PARTITIONS}",
            f"-Dspark.default.parallelism={SHUFFLE_PARTITIONS}",
            "-Dspark.ui.enabled=false",
            "-Dspark.driver.host=127.0.0.1",
            "-Dspark.driver.bindAddress=127.0.0.1",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", cp, "optbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--t0-ms", str(t0_ms), "--work-dir", work, "--report", report])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    killer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    killer.start()
    try:
        out = proc.stdout.read()
        # wait4 reaps the JVM and gives its own peak resident set
        _, status, usage = os.wait4(proc.pid, 0)
        proc.returncode = os.waitstatus_to_exitcode(status)
    finally:
        killer.cancel()
        if proc.returncode is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith('{"correct"')]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        print(f"optbench: run failed (exit {proc.returncode})", file=sys.stderr)
        sys.exit(1)
    print(f"optbench: run took {time.time() - t0_ms / 1000:.1f} s",
          file=sys.stderr)
    result = json.loads(lines[-1])
    if a.trace == "0":
        result["metrics"]["peak_rss_mb"] = {
            "value": usage.ru_maxrss / 1024.0, "unit": "MB"}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
