#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <adhoc|trec_batch> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the engine and the
harness from source with sbt (offline) into the checkout and records the
classpath; later runs start the JVM directly. Each run generates its inputs
from the seed, measures the workload for about --seconds, checks the engine's
outputs, and prints a report followed, as the last line, by one JSON object
with the keys correct, attempted, failed and metrics. --trace 1 records spans
around every call into an engine layer and reports per-layer metrics instead
of end-to-end ones. A fixed pure-CPU probe runs before and after the run; its
result is printed as context, not as a metric.
"""
import argparse
import concurrent.futures
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 850  # the first run may take 900 s, because it builds
HEAP = "3g"
MAIN = "graftbench.Main"
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, relative to the repository root."""
    out = []
    for rel in ("build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        out.append(rel)
    for top in ("src/main", "perfbench/src/main"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            for f in files:
                out.append(os.path.relpath(os.path.join(d, f), ROOT))
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    """The run classpath, building first when the sources changed."""
    for rel in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            die(f"{rel} not found: run from the root of a graft checkout")
    want = stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        die("sbt not found")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
           "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "export perfbench/Runtime/fullClasspathAsJars"]
    log_path = os.path.join(BUILD, "sbt.log")
    print("perfbench: building with sbt (first run in this checkout)", file=sys.stderr)
    with open(log_path, "w") as log:
        rc = run_bounded(cmd, BENCH, env, log, BUILD_LIMIT_S)
    with open(log_path) as f:
        lines = f.read().splitlines()
    # `export` prints the classpath as one line of absolute paths; jars
    # only, because a class-data-sharing archive cannot cover directories
    cp = next((l.strip() for l in reversed(lines)
               if l.startswith("/") and "/perfbench/target/" in l), None)
    if rc != 0 or cp is None or not all(os.path.exists(p) for p in cp.split(":")):
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die("build failed; see perfbench/.build/sbt.log")
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    archive_classes(cp)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return cp


def archive_classes(cp):
    """Records the classes a short run loads into a class-data-sharing
    archive, which later runs map instead of loading each class from its
    jar. Without an archive the runs are slower to start, not wrong."""
    jsa = os.path.join(BUILD, "app.jsa")
    train = os.path.join(BUILD, "train")
    for path in (jsa, train):
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)
    os.makedirs(os.path.join(train, "tmp"))
    print("perfbench: recording the class-data-sharing archive", file=sys.stderr)
    with open(os.path.join(BUILD, "archive.log"), "w") as log:
        run_bounded(java(cp, train, ["-XX:ArchiveClassesAtExit=" + jsa],
                         ["--workload", "adhoc", "--seed", "0", "--seconds", "1", "--trace", "0"]),
                    ROOT, dict(os.environ), log, BUILD_LIMIT_S)
    shutil.rmtree(train, ignore_errors=True)


def java(cp, work, jvm_opts, args):
    """The JVM command of one run whose scratch directory is `work`."""
    return (["java"] + [x for o in ADD_OPENS for x in ("--add-opens", o)] +
            # no -Xms: the heap grows only as far as the run needs, so
            # peak RSS follows the memory the engine uses
            [f"-Xmx{HEAP}", "-XX:+UseParallelGC",
             # keep every file the JVM writes inside the checkout
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
            jvm_opts + ["-cp", cp, MAIN] + args +
            ["--work", work, "--out", os.path.join(work, "result.json")])


def run_bounded(cmd, cwd, env, log, limit):
    """Runs cmd in its own process group with its output in `log`; kills the
    group at the limit and waits for it. Returns the exit code (None after a
    kill)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=log,
                         stdin=subprocess.DEVNULL, start_new_session=True)

    def stop(signum, _frame):
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        p.wait(timeout=limit)
        return p.returncode
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def burn(n):
    h = 1469598103934665603
    for i in range(n):
        h = ((h ^ i) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return h


def cpu_probe():
    """Wall seconds for a fixed integer-hash loop on each of nproc processes."""
    n = len(os.sched_getaffinity(0))
    with concurrent.futures.ProcessPoolExecutor(max_workers=n) as ex:
        list(ex.map(burn, [1000] * n))  # start the workers
        t0 = time.monotonic()
        list(ex.map(burn, [400_000] * n))
        return {"procs": n, "seconds": round(time.monotonic() - t0, 4)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = classpath()

    t_start = time.monotonic()
    os.makedirs(WORK, exist_ok=True)
    for d in os.listdir(WORK):  # leftovers of a killed run
        if d.startswith("run-"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    jsa = os.path.join(BUILD, "app.jsa")
    probe_before = cpu_probe()
    cmd = java(cp, work, ["-XX:SharedArchiveFile=" + jsa] if os.path.exists(jsa) else [],
               ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        rc = run_bounded(cmd, ROOT, dict(os.environ), log,
                         max(10.0, RUN_LIMIT_S - (time.monotonic() - t_start)))
    probe_after = cpu_probe()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        shutil.rmtree(work, ignore_errors=True)
        die("the run did not finish" if rc is None else f"the JVM exited with {rc}", 1)
    with open(out) as f:
        res = json.load(f)
    if a.trace:
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "trace.jsonl"),
                    os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    for line in res["report"]:
        print(line)
    # the traced run's end-to-end values against the last untraced run of
    # the same workload and seed: the difference is the tracing overhead
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    saved = os.path.join(results, f"{a.workload}-seed{a.seed}.json")
    if not a.trace:
        with open(saved, "w") as f:
            json.dump(res["e2e"], f)
    elif os.path.exists(saved):
        with open(saved) as f:
            untraced = json.load(f)
        for name, traced in res["e2e"].items():
            if name in untraced and untraced[name]:
                print(f"  overhead {name:28s} traced {traced:.6g} vs untraced "
                      f"{untraced[name]:.6g} ({traced / untraced[name] - 1:+.1%})")
    else:
        print("  overhead: no untraced run of this workload and seed to compare")
    context = dict(res["context"], cpu_probe_before=probe_before, cpu_probe_after=probe_after,
                   wall_s=round(time.monotonic() - t_start, 3))
    print("context " + json.dumps(context, sort_keys=True))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.stdout.flush()
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
