"""Benchmark entry point.

    python3 perfbench/run.py --workload {query_catalog,power_fleet,telemetry_stream}
                             --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --smoke      # all workloads, tiny inputs, traced

Run from the repository root. Each run starts ``harness.py`` in a fresh
process with a benchmark-owned Spark configuration directory, so every file
Spark, the JVM and Python write lands under ``.perfbench/`` in the checkout.
``--trace 1`` first makes an untraced run of the same workload, seed and
length, then the run with spans and the Spark event log on;
``trace.overhead_frac`` compares the two. The last line of standard
output is the result JSON; metric names and units come from
``BENCHMARK.json``. The exit code is non-zero when a run fails or an output
check fails. See ``perfbench/METHODS.md``."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "meshinsights_data_pipeline_spark", "__init__.py")
WORKLOADS = ("query_catalog", "power_fleet", "telemetry_stream")
CHILD_TIMEOUT_S = 170.0
_children: set[int] = set()  # process groups of running harness processes


def _stop_children(signum, frame):
    for pgid in list(_children):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    sys.exit(128 + signum)


def spark_conf_dir(work: str, trace: bool) -> str:
    conf = os.path.join(work, "conf")
    os.makedirs(conf, exist_ok=True)
    for d in ("local", "tmp", "events", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    lines = [
        f"spark.local.dir {work}/local",
        f"spark.sql.warehouse.dir {work}/warehouse",
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={work}/tmp "
        f"-Dderby.system.home={work}",
    ]
    if trace:
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{work}/events",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return conf


def run_child(workload: str, seed: int, seconds: float, trace: bool,
              smoke: bool, check: bool, deadline: float) -> dict:
    """One harness process; returns its record. The child gets its own
    process group, which is killed if it outlives ``deadline``."""
    tag = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{tag}.json")
    env = dict(os.environ)
    nproc = str(os.cpu_count() or 1)
    env.update({
        "SPARK_CONF_DIR": spark_conf_dir(work, trace),
        "SPARK_GRAFT_CPUS": nproc,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    # Spark's driver heap is the package default.
    for var in ("SPARK_GRAFT_ON_CLUSTER", "SPARK_DRIVER_MEMORY"):
        env.pop(var, None)
    cmd = [sys.executable, os.path.join(HERE, "harness.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(int(trace)),
           "--smoke", str(int(smoke)), "--check", str(int(check)),
           "--work", work, "--out", out]
    log_path = os.path.join(results, f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        _children.add(proc.pid)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            try:  # the JVM and Python workers share the child's group
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            _children.discard(proc.pid)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        reason = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"{workload} harness {reason}; log {log_path}:\n{tail}")
    with open(out) as f:
        rec = json.load(f)
    rec["record_path"] = out
    return rec


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(rec: dict, trace: bool) -> dict:
    s = spec()
    wanted = s["per_layer"] if trace else s["end_to_end"]
    values = rec["per_layer"] if trace else rec["end_to_end"]
    metrics = {}
    for m in wanted:
        # A layer that a workload never calls reads 0.
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)),
                              "unit": m["unit"]}
    return {"correct": rec["failed"] == 0, "attempted": rec["attempted"],
            "failed": rec["failed"], "metrics": metrics}


def one_run(workload: str, seed: int, seconds: float, trace: bool,
            smoke: bool = False) -> dict:
    deadline = time.time() + CHILD_TIMEOUT_S
    if not trace:
        return run_child(workload, seed, seconds, False, smoke, True, deadline)
    # trace.overhead_frac compares with an untraced run made just before,
    # which gets at most half of the time budget.
    ref = run_child(workload, seed, seconds, False, smoke, False,
                    time.time() + CHILD_TIMEOUT_S / 2)
    rec = run_child(workload, seed, seconds, True, smoke, True, deadline)
    untraced = ref["end_to_end"]["run_s"]
    rec["per_layer"]["trace.overhead_frac"] = rec["end_to_end"]["run_s"] / untraced - 1
    rec["trace_reference"] = ref["record_path"]
    with open(rec["record_path"], "w") as f:
        json.dump(rec, f, indent=1, default=str)
    return rec


def print_record(rec: dict, trace: bool) -> dict:
    line = result_line(rec, trace)
    env = rec["environment"]
    print(f"# {rec['workload']}: {env['master']} nproc={env['nproc']} "
          f"spark={env['spark']} java={env['java']} python={env['python']} "
          f"seed={env['seed']} passes={rec['passes']} ops={rec['attempted']} "
          f"failed={rec['failed']} record={rec['record_path']}")
    for name, m in line["metrics"].items():
        print(f"#   {name:34s} {m['value']:.6g} {m['unit']}")
    for op, err in rec.get("errors", {}).items():
        print(f"# FAILED {op}: {err.splitlines()[0] if err else err}")
    return line


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="all workloads at sf0.001, 2 devices, 3 epochs, traced")
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _stop_children)
    if not os.path.exists(PACKAGE):
        print(f"perfbench: package not found at {PACKAGE}", file=sys.stderr)
        return 2
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")
    try:
        if args.smoke:
            ok = True
            for w in WORKLOADS:
                line = print_record(one_run(w, args.seed, 1, True, smoke=True), True)
                ok = ok and line["correct"]
            print(json.dumps({"correct": ok}))
            return 0 if ok else 1
        rec = one_run(args.workload, args.seed, args.seconds, bool(args.trace))
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    line = print_record(rec, bool(args.trace))
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
