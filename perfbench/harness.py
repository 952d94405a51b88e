"""One benchmark run of one workload, in the current process.

``python3 perfbench/harness.py --workload W --seed N --seconds S --trace T
--work DIR --out FILE`` sets the workload up (session, inputs, one untimed
warm-up op), runs its fixed amount of work, checks the outputs and writes a
JSON record to FILE. ``run.py`` starts this in a fresh process per run and
prints the result.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from spans import Tracer  # noqa: E402  (perfbench/ is sys.path[0])

# One pass of any workload takes about this long on 4 cores; a run makes
# round(seconds / PASS_S) passes, so its work does not depend on the code's
# speed.
PASS_S = 15.0


class CacheLedger:
    """Persisted-RDD count and RDD storage (memory + disk) sampled at every
    op boundary."""

    def __init__(self):
        self.samples: list[tuple[int, float]] = []

    def sample(self, spark) -> tuple[int, float]:
        jsc = spark.sparkContext._jsc
        n = jsc.getPersistentRDDs().size()
        mb = sum(i.memSize() + i.diskSize()
                 for i in jsc.sc().getRDDStorageInfo()) / 2**20
        self.samples.append((n, mb))
        return n, mb

    @property
    def storage_mb_max(self) -> float:
        return max((mb for _, mb in self.samples), default=0.0)


def tail_latency(lat: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it
    (nearest rank), as ``(value, percentile)``. Below 20 samples that
    percentile would sit at or under the median, so the maximum stands
    in, reported as p100."""
    n = len(lat)
    xs = sorted(lat)
    if n < 20:
        return xs[-1], 100.0
    rank = n - 10  # nearest-rank index (1-based) with 10 samples above it
    return xs[rank - 1], 100.0 * rank / n


def environment(spark, args) -> dict:
    sc = spark.sparkContext
    jvm = sc._jvm
    return {
        "nproc": os.cpu_count(),
        "master": sc.master,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "platform": platform.platform(),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
    }


def make_workload(name: str, args, tracer: Tracer, passes: int):
    if name == "query_catalog":
        from catalog import QueryCatalog as W
    elif name == "power_fleet":
        from fleet import PowerFleet as W
    elif name == "telemetry_stream":
        from stream import TelemetryStream as W
    else:
        raise SystemExit(f"unknown workload {name!r}")
    return W(args, tracer, passes)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--smoke", type=int, default=0)
    ap.add_argument("--check", type=int, default=1)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from meshinsights_data_pipeline_spark.session import get_spark

    tracer = Tracer(enabled=False)
    passes = 1 if args.smoke else max(1, round(args.seconds / PASS_S))
    wl = make_workload(args.workload, args, tracer, passes)
    marks = {"start": PROCESS_T0, "imports": time.time()}
    spark = get_spark("perfbench")
    marks["session"] = time.time()
    session_start_s = marks["session"] - marks["imports"]
    wl.stage(spark, os.path.join(args.work, "inputs"))
    marks["stage"] = time.time()
    wl.warmup(spark)
    marks["warmup"] = time.time()
    setup_s = marks["warmup"] - PROCESS_T0

    ledger = CacheLedger()
    ledger.sample(spark)
    if args.trace:
        tracer.enabled = True
        wl.install_tracing()
    ops: list[dict] = []
    pass_s: list[float] = []
    with tracer.span("bench.run") as root_id:
        for k in range(passes):
            t = time.perf_counter()
            ops += wl.run_pass(spark, k, ledger)
            pass_s.append(time.perf_counter() - t)
    marks["loop"] = time.time()
    persisted_end, cached_mb_end = ledger.sample(spark)
    tracer.enabled = False

    failures = {}
    try:
        if args.check:
            failures = wl.check(spark, ops)
    except Exception:  # a check that cannot run fails every op
        failures = {op["op"]: "check raised:\n" + traceback.format_exc(limit=4)
                    for op in ops}
    marks["check"] = time.time()
    for op in ops:
        if op.get("error") is None and op["op"] in failures:
            op["error"] = failures[op["op"]]
    failed = sum(op.get("error") is not None for op in ops)

    lat = [op["latency_s"] for op in ops if op["latency_s"] is not None]
    tail, tail_pct = tail_latency(lat)
    env = environment(spark, args)
    env.update(wl.input_record())
    record = {
        "workload": args.workload,
        "environment": env,
        "attempted": len(ops),
        "failed": failed,
        "errors": {str(op["op"]): op["error"] for op in ops if op.get("error")},
        "end_to_end": {
            "setup_s": setup_s,
            "run_s": statistics.median(pass_s),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail,
            "ops_failed_frac": failed / len(ops),
            "cached_mb_end": cached_mb_end,
        },
        "op_tail_percentile": tail_pct,
        "phase_s": {b: marks[b] - marks[a] for a, b in zip(marks, list(marks)[1:])},
        "op_count": len(lat),
        "passes": len(pass_s),
        "pass_s": pass_s,
        "ops": [{k: v for k, v in op.items() if k != "result"} for op in ops],
        "session": {
            "start_s": session_start_s,
            "persisted_rdds_end": persisted_end,
            "storage_mb_max": ledger.storage_mb_max,
        },
    }

    if args.trace:
        e2e = record["end_to_end"]
        record["per_layer"] = {
            "op_tail_s": e2e["op_tail_s"],
            "ops_failed_frac": e2e["ops_failed_frac"],
            "cached_mb_end": e2e["cached_mb_end"],
            **{f"session.{k}": v for k, v in record["session"].items()},
            **wl.layer_metrics(len(pass_s)),
        }

    spark.stop()
    if args.trace:
        from spans import (
            attribute_events,
            descendants,
            layer_self_times,
            read_event_log,
            sum_counts,
        )

        events = read_event_log(os.path.join(args.work, "events"))
        counts = attribute_events(events, tracer.spans)
        record["per_layer"].update(wl.event_metrics(counts, len(pass_s)))
        loop = sum_counts(counts, descendants(tracer.spans, root_id))
        record["per_layer"]["sources.scan_bytes"] = loop.get("input_bytes", 0) / len(pass_s)
        selfs = layer_self_times(tracer.spans, root_id)
        for layer, sec in selfs.items():
            record["per_layer"][f"{layer}.self_s"] = sec / len(pass_s)
        # The self times add up to the timed wall time by construction;
        # this is the share of it that no layer span covers.
        record["per_layer"]["trace.unattributed_frac"] = (
            selfs.get("bench", 0.0) / sum(selfs.values()))
        stem = args.out.removesuffix(".json")
        tracer.dump(stem + "-spans.jsonl")
        with open(stem + "-span-counters.json", "w") as f:
            json.dump({str(k): v for k, v in counts.items()}, f, indent=1)

    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    return 0


if __name__ == "__main__":
    sys.exit(main())
