#!/usr/bin/env python3
"""Alert-broker benchmark driver.

Usage (from the repository root):

    python3 alertbench/run.py --workload ztf_bulk --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark with sbt into .bench_build/ when
their sources changed, runs one workload in a fresh JVM, checks the
outputs and prints one JSON result line as the last line of stdout:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics. The full report (structured status
fields, per-batch numbers, check messages) is printed on the line before
and kept in .bench_build/reports/.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ztf_bulk", "ztf_trickle")
DEADLINE_S = 175.0

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[alertbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build depends on, relative to the repository root."""
    out = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files]
    out += [os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the classpath is current; returns it."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "sbt", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building library and benchmark with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.server.autostart=false",
                        "writeClasspath"], cwd=HERE, stdout=out, timeout=850)
    if rc != 0 or not os.path.exists(cp_file):
        with open(os.path.join(BUILD, "build.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        log(f"build failed (rc={rc})")
        sys.exit(3)
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read().strip()


def run_child(cmd, cwd, stdout, timeout, env=None):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it to end. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.STDOUT,
                         env=env, start_new_session=True)
    try:
        p.wait(timeout=timeout)
        return p.returncode
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def last_json_line(text):
    """The last stdout line that parses as a JSON object, or None."""
    for line in reversed(text.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict):
                return obj
    return None


def result_line(jvm, metric_names):
    """The result object: exactly correct/attempted/failed/metrics,
    with `metric_names` taken from the JVM's metrics in that order."""
    metrics = {}
    for name in metric_names:
        m = jvm["metrics"].get(name)
        if m is None:
            raise KeyError(f"metric {name} missing from the run")
        metrics[name] = {"value": m["value"], "unit": m["unit"]}
    return {"correct": bool(jvm["correct"]), "attempted": int(jvm["attempted"]),
            "failed": int(jvm["failed"]), "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("library sources (src/main/scala/graft) not found next to the benchmark")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    classpath = build()
    # the run's own time limit starts after a (first-run) build
    t_start = time.time()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    models = os.path.join(BUILD, "models")
    os.makedirs(models, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("GRAFT_MODELS_DIR", models)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["--add-modules", "jdk.incubator.vector",
              "-Xmx3g", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", classpath, "alertbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cores", str(cores)])
    out_path = os.path.join(work, "stdout.txt")
    err_path = os.path.join(BUILD, "reports", tag + ".log")
    os.makedirs(os.path.dirname(err_path), exist_ok=True)
    remaining = DEADLINE_S - (time.time() - t_start)
    with open(out_path, "w") as out, open(err_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=err, env=env,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=max(remaining, 10))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            log(f"run exceeded {DEADLINE_S:.0f} s; see {err_path}")
            return 4
    with open(out_path) as fh:
        jvm = last_json_line(fh.read())
    if rc != 0 or jvm is None:
        with open(err_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        log(f"benchmark JVM failed (rc={rc})")
        return 5

    report = jvm.get("report", {})
    # traced runs profile the corpus queries; their outputs are checked
    # against the DuckDB oracle and count as attempted operations
    corpus = os.path.join(work, "probe", "corpus")
    if os.path.exists(os.path.join(corpus, "oracle_sql.json")):
        import oracle
        problems, queries = oracle.check(corpus)
        report["oracle_problems"] = problems
        jvm["attempted"] = int(jvm["attempted"]) + queries
        if problems:
            jvm["correct"] = False
            jvm["failed"] = int(jvm["failed"]) + len({p.split(":")[0] for p in problems})

    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, os.path.join(BUILD, "reports", tag + ".spans.jsonl"))
    report_path = os.path.join(BUILD, "reports", tag + ".json")
    with open(report_path, "w") as fh:
        json.dump(jvm, fh, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"alertbench_report": report}, sort_keys=True))
    print(json.dumps(result_line(jvm, names)))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
