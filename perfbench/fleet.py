"""power_fleet: the paper's workload, one device per op.

Each op reads one device's 90-day minute series, labels cycles with
``sessionize`` and runs ``build_power_pipeline().run(ctx)``. A pass is two
consecutive devices of the 40-device fleet, one of each archetype in
``gen``, so every pass runs the same branches. The seed picks the window
of devices and the generated values. The warm-up device lies outside the
fleet and is shorter, since it only has to warm the code paths.
"""

from __future__ import annotations

import os
import time
from datetime import datetime

import gen

FLEET = 40
DAYS = 90
WARMUP_DAYS = 14
PASS_DEVICES = 2
SMOKE_DEVICES = (0, 1)

# Pipeline step name -> per-layer metric of its time.
STEP_METRIC = {
    "filter_valid_cycles": "operators.valid_cycles_s",
    "classify_variance_raw": "analytics.variance_raw_s",
    "identify_issues": "analytics.issues_s",
    "curate_stage_data": "analytics.curation_s",
    "classify_variance_curated": "analytics.variance_curated_s",
    "calculate_thresholds": "analytics.thresholds_s",
    "ai_classification": "genai.prompt_s",
}


class PowerFleet:
    def __init__(self, args, tracer, passes: int):
        self.args, self.tracer = args, tracer
        if args.smoke:
            self.devices = [list(SMOKE_DEVICES)]
        else:
            base = PASS_DEVICES * (args.seed % (FLEET // PASS_DEVICES))
            self.devices = [[(base + PASS_DEVICES * k + j) % FLEET
                             for j in range(PASS_DEVICES)]
                            for k in range(passes)]
        self.rows = 0
        self.input_bytes = 0

    def _path(self, i: int) -> str:
        return os.path.join(self.dir, f"{gen.device_id(i)}.parquet")

    def stage(self, spark, rep_dir: str) -> None:
        self.dir = rep_dir
        os.makedirs(rep_dir, exist_ok=True)
        self.rows = self.input_bytes = 0
        # Device FLEET (outside the measured window) is the warm-up device.
        for i in sorted({i for p in self.devices for i in p} | {FLEET}):
            df = gen.device_frame(self.args.seed, i, WARMUP_DAYS if i == FLEET else DAYS)
            df.to_parquet(self._path(i), index=False)
            if i != FLEET:
                self.rows += len(df)
                self.input_bytes += os.path.getsize(self._path(i))

    def warmup(self, spark) -> None:
        self._device(spark, FLEET)

    def install_tracing(self) -> None:
        """Spans come from the op's own calls and ``ctx.execution_log``."""

    def _device(self, spark, i: int):
        from meshinsights_data_pipeline_spark.analytics.power_pipeline import (
            build_power_pipeline,
        )
        from meshinsights_data_pipeline_spark.core.context import PipelineContext
        from meshinsights_data_pipeline_spark.operators.sessionize import sessionize
        from meshinsights_data_pipeline_spark.sources import ParquetSource

        tr = self.tracer
        with tr.span("sources.read", op=i):
            raw = ParquetSource(self._path(i)).read(spark)
        with tr.span("operators.sessionize", op=i):
            tel = sessionize(raw, "tstate", ["timeStamp", "seq"], ["device_id"])
        ctx = PipelineContext(pipeline_name="power_analysis",
                              correlation_id=gen.device_id(i), raw_data=tel)
        with tr.span("core.pipeline", op=i) as pid:
            out = build_power_pipeline().run(ctx)
        if tr.enabled:
            for e in out.execution_log:
                if "execution_time" not in e:
                    continue  # a skipped step
                end = datetime.fromisoformat(e["timestamp"]).timestamp()
                name = STEP_METRIC[e["processor"]].removesuffix("_s")
                tr.add(name, end - e["execution_time"], end, pid, op=i)
        return out

    def run_pass(self, spark, k: int, ledger) -> list[dict]:
        ops = []
        for i in self.devices[k]:
            rec = {"op": gen.device_id(i), "device": i, "error": None}
            t = time.perf_counter()
            with self.tracer.span("bench.op", op=i):
                try:
                    out = self._device(spark, i)
                    rec["result"] = {
                        "variance": {s: v["variance"]
                                     for s, v in out.variance_analysis.items()},
                        "issues": out.issues,
                        "thresholds": sorted(out.thresholds),
                        "ai": bool(out.ai_analysis.get("user_message")),
                        "errors": out.errors,
                    }
                except Exception as exc:  # an op that raises is a failed op
                    rec["error"] = f"{type(exc).__name__}: {exc}"
            rec["latency_s"] = time.perf_counter() - t
            ledger.sample(spark)
            ops.append(rec)
        return ops

    def check(self, spark, ops) -> dict:
        """Variance labels, issues and the prompt step against the planted
        labels; thresholds must cover every classified stage."""
        bad = {}
        for op in ops:
            if op.get("error"):
                continue
            want = gen.expected_labels(op["device"])
            got = op["result"]
            problems = []
            if got["variance"] != want["variance"]:
                problems.append(f"variance {got['variance']} != {want['variance']}")
            if {s: sorted(v) for s, v in got["issues"].items()} != want["issues"]:
                problems.append(f"issues {got['issues']} != {want['issues']}")
            if got["ai"] != want["ai"]:
                problems.append(f"prompt step ran={got['ai']}, want {want['ai']}")
            if got["thresholds"] != sorted(want["variance"]):
                problems.append(f"thresholds for {got['thresholds']}")
            if got["errors"]:
                problems.append(f"pipeline errors {got['errors']}")
            if problems:
                bad[op["op"]] = "; ".join(problems)
        return bad

    def input_record(self) -> dict:
        return {"devices": [i for p in self.devices for i in p],
                "days_per_device": DAYS, "rows": self.rows,
                "input_bytes": self.input_bytes}

    def layer_metrics(self, passes: int) -> dict:
        per = {m: 0.0 for m in STEP_METRIC.values()}
        pipeline_s = 0.0
        for s in self.tracer.spans:
            dur = s["end"] - s["start"]
            if s["name"] == "core.pipeline":
                pipeline_s += dur
            elif s["name"] + "_s" in per:
                per[s["name"] + "_s"] += dur
        out = {m: v / passes for m, v in per.items()}
        out["core.pipeline_s"] = pipeline_s / passes
        out["core.overhead_s"] = (pipeline_s - sum(per.values())) / passes
        return out

    def event_metrics(self, counts: dict, passes: int) -> dict:
        from spans import sum_counts

        by_id = {s["id"]: s for s in self.tracer.spans}
        ana = [sid for sid, s in by_id.items() if s["name"].startswith("analytics.")]
        return {"analytics.jobs": sum_counts(counts, ana).get("jobs", 0) / passes}
