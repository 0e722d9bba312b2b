#!/usr/bin/env python3
"""The repository benchmark: the takuan service (ingest -> report, live
latency) and the query engine, with a traced mode that splits the time by
layer. BENCHMARK.json declares the workloads and metrics.

Run from the root of a checkout:

    python3 perfbench/run.py --workload service --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

It builds the program from source (perfbench/build.py), generates the inputs
from the seed, runs one JVM for the workload, checks every output and prints
one JSON object as the last line of stdout:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Everything the run writes stays in the checkout: build
output in .bench_build/, scratch in .bench_work/, and a full record of each
run (all metrics, environment, loadavg per phase, problems found, the trace)
in .bench_runs/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

DEADLINE_S = 170
JVM_HEAP = "-Xmx3g"
# Spark on JDK 17 outside spark-submit needs these (the same list build.sbt
# passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown"
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm(root, work, cores, main_args, stderr_path, timeout):
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java", JVM_HEAP]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.master=local[{cores}]",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", build.classpath(root), "perfbench.Main",
    ] + main_args
    with open(stderr_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=root)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            return None, cmd
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    return (p.returncode, out), cmd


def tail(path, n=30):
    try:
        with open(path) as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def main():
    # a terminated run still stops the compiler or JVM it started (the
    # subprocess calls kill their child when interrupted)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if not a.self_test and a.workload not in names:
        fail(f"--workload must be one of {names}")

    try:
        digest = build.build(root)
    except build.BuildError as e:
        fail(f"build failed: {e}")

    runs = os.path.join(root, ".bench_runs")
    os.makedirs(runs, exist_ok=True)
    label = "self-test" if a.self_test else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(root, ".bench_work", f"{label}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = nproc()
    stderr_path = os.path.join(runs, f"{label}.log")
    try:
        if a.self_test:
            res, _ = jvm(root, work, cores, ["self-test", work], stderr_path, DEADLINE_S)
            if res is None:
                fail("self-test timed out", 1)
            print(res[1], end="")
            if res[0] != 0:
                print(tail(stderr_path), file=sys.stderr)
            sys.exit(res[0])

        load0 = loadavg()
        res, cmd = jvm(root, work, cores,
                       [a.workload, str(a.seed), str(a.seconds), str(a.trace), str(cores),
                        work, runs],
                       stderr_path, DEADLINE_S - (time.time() - t_start))
        if res is None:
            fail(f"run exceeded {DEADLINE_S} s; log: {stderr_path}", 1)
        code, out = res
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines:
            print(tail(stderr_path), file=sys.stderr)
            fail(f"benchmark JVM exited with {code}; log: {stderr_path}", 1)
        full = json.loads(lines[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = full["metrics"]
    declared = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    metrics = {}
    for m in declared:
        v = got.get(m["name"])
        if a.trace == 0 and not v:
            print(json.dumps(full.get("problems", [])), file=sys.stderr)
            fail(f"end-to-end metric {m['name']} was not measured", 1)
        metrics[m["name"]] = {"value": float(v or 0.0), "unit": m["unit"]}

    full["env"].update({"commit": commit(root), "source_digest": digest,
                        "loadavg_run_start": load0, "loadavg_run_end": loadavg(),
                        "command": cmd, "wall_s": time.time() - t_start})
    if a.trace == 1:
        # tracing overhead: this run's end-to-end values against the
        # untraced run of the same workload and seed, when there is one
        base = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.isfile(base):
            with open(base) as fh:
                untraced = json.load(fh)["metrics"]
            full["trace_overhead"] = {
                m["name"]: got.get(m["name"], 0.0) - untraced.get(m["name"], 0.0)
                for m in spec["end_to_end"]}
            print(f"[perfbench] tracing overhead (traced - untraced): "
                  f"{json.dumps(full['trace_overhead'])}", file=sys.stderr)
    with open(os.path.join(runs, f"{label}.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    for p in full.get("problems", []):
        print(f"[perfbench] {p}", file=sys.stderr)

    print(json.dumps({"correct": bool(full["correct"]), "attempted": int(full["attempted"]),
                      "failed": int(full["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
