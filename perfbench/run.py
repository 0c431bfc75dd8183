#!/usr/bin/env python3
"""Benchmark of the graft SCD2 engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source together with the driver in perfbench/driver
(sbt, offline), runs one workload in one JVM, checks its outputs, prints one
`name value unit` line per figure and, last, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. Build outputs and temporary run files go to
.bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

import measures
import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DRIVER = os.path.join(BENCH, "driver")
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(BENCH, "data", "sf0.001")
ARCHIVE = os.path.join(STATE, "classes.jsa")
WORKLOADS = ("scd2_daily", "query_suite")
# a run must end within 180 s, and the first one in a checkout, which also
# builds and writes the class archive (one more run), within 900 s
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 540

# Spark on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: the engine's sources and build
    definition, the driver's, and this script, which holds the recipe."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
              os.path.join(ROOT, "src", "main"), DRIVER, os.path.abspath(__file__)]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in files)
        for p in paths:
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine and driver unless their sources are unchanged since
    the last build in this checkout; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {BENCH} (expected build.sbt and src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the engine")
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "classpath.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(STATE, "build.log")
    with open(log_path, "w") as log:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export perfbench/Runtime/fullClasspathAsJars"],
                         BUILD_TIMEOUT_S, cwd=DRIVER, env=env, stdout=log,
                         stderr=subprocess.STDOUT)
    with open(log_path) as log:
        lines = [l for l in log.read().splitlines() if ".jar" in l and not l.startswith("[")]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {log_path}")
    cp = lines[-1].strip()
    archive_classes(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def archive_classes(cp):
    """Dump the classes one query_suite set-up loads into a class-data
    archive that every run maps at start: a fresh JVM then spends about
    half as long loading Spark. Part of the build, so set-up times stay
    comparable; a run without the archive is still correct."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    args = argparse.Namespace(workload="query_suite", seed=0, seconds=0, trace=0)
    try:
        run_driver(cp, args, os.path.join(STATE, "work", "archive"),
                   [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    except RunError as e:
        print(f"perfbench: class archive not written, runs start without it: {e}",
              file=sys.stderr)
    shutil.rmtree(os.path.join(STATE, "work", "archive"), ignore_errors=True)


def heap_mb():
    """JVM heap: a quarter of physical memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        kb = 8 << 20
    return max(2048, min(4096, kb // 1024 // 4))


def cpu_ticks():
    """(steal, total) jiffies of the host since boot; zeros where /proc is
    missing."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, ValueError, IndexError):
        return 0, 0


class RunError(Exception):
    pass


def run_group(cmd, timeout, **kwargs):
    """Run `cmd` in a process group of its own and wait for it; past
    `timeout` seconds, or when this script is told to stop, kill the whole
    group (sbt's launcher script leaves a JVM child) and wait for it too.
    Returns the exit code, None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kwargs)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        for s, handler in previous.items():
            signal.signal(s, handler)


def run_driver(cp, args, work, jvm_flags=None):
    """Run the driver JVM on one workload; returns its raw result.json."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if jvm_flags is None:
        jvm_flags = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.isfile(ARCHIVE) else []
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           jvm_flags +
           [f"-Xmx{heap_mb()}m", "-XX:+UnlockDiagnosticVMOptions",
            "-XX:GCLockerRetryAllocationCount=100",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", DATA])
    env = dict(os.environ)
    # Spark's temporary files stay inside the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    log_path = os.path.join(STATE, f"{args.workload}.log")
    with open(log_path, "w") as log:
        code = run_group(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=log,
                         stderr=subprocess.STDOUT)
    if code is None:
        raise RunError(f"driver did not finish within {RUN_TIMEOUT_S} s; see {log_path}")
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RunError(f"driver exited with {code}; see {log_path}\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def unit_of(name):
    """Unit of a printed layer figure, read from its name."""
    last = name.split(".")[-1]
    if name.startswith("self_s.") or last == "s" or last.endswith("_s") or last.startswith("s_"):
        return "s"
    if last.endswith("_mb") or last.startswith("mb_"):
        return "MB"
    if last in ("jobs", "tasks", "files_added", "files_removed", "files_skipped_by_stats",
                "live_files", "versions_per_batch", "traced_ops", "merging_ops"):
        return "count"
    return "ratio"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build()
    work = os.path.join(STATE, "work", args.workload)
    steal0, total0 = cpu_ticks()
    try:
        r = run_driver(cp, args, work)
    except RunError as e:
        fail(str(e))
    steal1, total1 = cpu_ticks()
    failures = list(r["failures"])
    failed = r["failed"]
    if args.workload == "query_suite":
        wrong = oracle.failures(os.path.join(work, "verify"), DATA)
        failures += wrong
        if wrong:
            # every pass answered as the last one, which the oracle refuted
            failed = r["attempted"]
    # the raw measurements of the latest run stay for inspection
    with open(os.path.join(STATE, f"last_{args.workload}.json"), "w") as f:
        json.dump(r, f)
    shutil.rmtree(work, ignore_errors=True)

    attempted = r["attempted"]
    for f in failures:
        print(f"check failed: {f}")
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: {attempted} "
          f"operations, {failed} failed; JVM and session start {r['session_s']:.2f} s")
    print(f"error_rate {failed / attempted:.6g} ratio")
    # host conditions, so a recorded figure carries the noise it met
    print(f"host.steal_share {(steal1 - steal0) / max(total1 - total0, 1):.4f} ratio")
    print(f"host.loadavg_1m {os.getloadavg()[0]:.2f} count")
    if args.trace:
        metrics, detail = measures.per_layer(r)
        listed = spec["per_layer"]
        for k, v in sorted({**detail, **metrics}.items()):
            print(f"{k} {v:.6g} {unit_of(k)}")
    else:
        gate = measures.end_to_end(r)
        metrics = {k: v for k, (v, _) in gate.items()}
        listed = spec["end_to_end"]
        for k, (v, unit) in gate.items():
            print(f"{k} {v:.6g} {unit}")
        for k, (v, unit, n) in measures.workload_detail(r).items():
            print(f"{k} {v:.6g} {unit}" + (f" (n={n})" if n else ""))
    missing = [m["name"] for m in listed if m["name"] not in metrics]
    if missing:
        fail(f"metrics missing from this run: {missing}")
    print(json.dumps({
        "correct": failed == 0 and not failures, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in listed},
    }))


if __name__ == "__main__":
    main()
