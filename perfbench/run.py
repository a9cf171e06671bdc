#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the JVM side
of the benchmark (perfbench/src) with sbt when the sources changed,
runs workload W in a fresh JVM inside its own temporary directory,
checks the outputs (checks.py), and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones; the line before it is the run's full detail, which is
also written to .perfbench_results/<workload>-seed<N>-trace<T>.json.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
TMP = os.path.join(ROOT, ".perfbench_tmp")
RESULTS = os.path.join(ROOT, ".perfbench_results")
WORKLOADS = ("batch_curation", "parse_pages")
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1")
CHECK_SF_DIR = os.environ.get("PERFBENCH_CHECK_SF_DIR", "/root/testdata/sf0.01")
JVM_TIMEOUT_S = 160
# The JDK 17 module opens Spark needs outside spark-submit (as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# Heap per workload: build.sbt's ParallelGC, at a heap that leaves room on
# a 15 GB machine. (Fixed generation sizes steady the peak RSS, but on a
# 4-core, 15 GB VM the first touches of a fixed 4 GB eden added about
# 10 s of set-up per run.)
HEAP = {"batch_curation": ["-Xmx6g", "-XX:MaxNewSize=4g"], "parse_pages": ["-Xmx2g"]}

_child = None
_work = None


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cleanup(*_):
    """Stop the JVM if it still runs and remove this run's directory."""
    global _child
    if _child is not None and _child.poll() is None:
        _child.kill()
        _child.wait()
    _child = None
    if _work and os.path.isdir(_work):
        shutil.rmtree(_work, ignore_errors=True)


def on_signal(signum, _frame):
    cleanup()
    sys.exit(128 + signum)


def sweep_stale():
    """Remove directories left by runs that were killed."""
    if not os.path.isdir(TMP):
        return
    for name in os.listdir(TMP):
        try:
            pid = int(name.split("-")[1])
            os.kill(pid, 0)
        except (IndexError, ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(TMP, name), ignore_errors=True)
        except PermissionError:
            pass


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(files)


def build():
    """Compile program + benchmark with sbt unless the sources are
    unchanged since the last build. Returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources here (build.sbt, src/main/scala)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building with sbt (sources changed)")
    target = os.path.join(BUILD, "target")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           f'set target := file("{target}")',
           'set Compile / unmanagedSourceDirectories += '
           'baseDirectory.value / "perfbench" / "src"',
           "export Runtime / fullClasspath"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       env=dict(os.environ, COURSIER_MODE="offline"))
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or "/" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def cores():
    """Task threads: 4, or fewer if fewer CPUs are available."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def workload_args(workload, seed):
    """Inputs of a workload, drawn from the seed."""
    rnd = random.Random(seed)
    if workload == "batch_curation":
        # one conversation, picked by the seed, absorbs the ~10% of turns
        # whose order keys follow it; 2 of the 16 input files are held back
        return ["--sf", SF_DIR, "--check_sf", CHECK_SF_DIR,
                "--monster_lo", str(rnd.randrange(0, 135000)),
                "--monster_span", "15000", "--files", "16",
                "--held", ",".join(map(str, sorted(rnd.sample(range(16), 2))))]
    return []


def run_jvm(cp, workload, work, seed, seconds, trace, extra=()):
    global _child
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + HEAP[workload] + ["-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
                               f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main",
                               "--workload", workload, "--work", work, "--seed", str(seed),
                               "--seconds", str(seconds), "--trace", str(trace),
                               "--cores", str(cores())]
           + workload_args(workload, seed) + list(extra))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        _child = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT)
    # wait4 gives this child's own peak RSS (the build's sbt is another child)
    deadline = time.monotonic() + JVM_TIMEOUT_S
    pid, status, usage = 0, 0, None
    while pid == 0 and time.monotonic() < deadline:
        time.sleep(0.1)
        pid, status, usage = os.wait4(_child.pid, os.WNOHANG)
    if pid == 0:
        cleanup()
        raise SystemExit("perfbench: JVM timed out")
    _child.returncode = os.waitstatus_to_exitcode(status)
    _child = None
    if status != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: JVM exited with status {status}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh), usage.ru_maxrss / 1048576.0


def new_work_dir():
    global _work
    os.makedirs(TMP, exist_ok=True)
    sweep_stale()
    _work = os.path.join(TMP, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(_work)
    return _work


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", help="copy the run's outputs here (self-test)")
    a = ap.parse_args()
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, on_signal)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        cp = build()
        work = new_work_dir()
        res, rss_gib = run_jvm(cp, a.workload, work, a.seed, a.seconds, a.trace)
        sys.path.insert(0, HERE)
        import checks
        if a.keep:
            shutil.copytree(work, a.keep, dirs_exist_ok=True)
        failures = {k: v for k, v in res["checks"].items() if v}
        failures.update(checks.check(a.workload, res, SF_DIR, work))
    finally:
        cleanup()
    e2e = res["end_to_end"]
    res["per_layer"]["peak_rss_gib"] = rss_gib
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    source = res["per_layer"] if a.trace else e2e
    detail = json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                         "info": res["info"], "end_to_end": e2e,
                         "per_layer": res["per_layer"], "check_failures": failures})
    # the run's full detail also stays as one file per run
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        fh.write(detail + "\n")
    print(detail)
    print(json.dumps({
        "correct": not failures,
        "attempted": res["attempted"],
        "failed": res["failed"],
        # a layer this workload does not run did no work: 0
        "metrics": {n: {"value": float(source.get(n, 0.0)), "unit": units[n]} for n in names},
    }))


if __name__ == "__main__":
    main()
