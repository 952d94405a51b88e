"""telemetry_stream: day files through a stateful stream, one epoch per op.

The generator in ``gen`` writes one parquet file per day for the whole
fleet. A pass is one ``availableNow`` query with ``maxFilesPerTrigger=1``
over those files, from fresh checkpoint and state directories:
``streaming_state_change_sessions`` labels cycles across epochs, then
``foreachBatch(parallel_batch(cusum, rolling))`` scores each epoch. CUSUM
is keyed by device; the rolling mean is keyed by ``(device, cycle)``, so
its output carries the streamed cycle ids and the parity check covers
them. Both state directories are seeded with
``snapshot_overwrite(empty, dir, -1)``.
"""

from __future__ import annotations

import os
from datetime import datetime

import gen

DEVICES = 40
DAYS = 2
SMOKE_DEVICES, SMOKE_DAYS = 2, 3
WARMUP_DEVICE0 = 1000  # warm-up devices are outside the measured fleet
# Four devices warm the same code paths as forty; the rest of the warm-up
# epoch is a fixed cold-start cost.
WARMUP_DEVICES = 4
CUSUM = {"target": 2500.0, "slack": 250.0, "threshold": 20000.0}
ROLL_N = 5
SCHEMA = "device_id string, seq long, timeStamp timestamp, tstate string, energy double"


def _dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


class TelemetryStream:
    def __init__(self, args, tracer, passes: int):
        self.args, self.tracer = args, tracer
        self.devices = SMOKE_DEVICES if args.smoke else DEVICES
        self.days = SMOKE_DAYS if args.smoke else DAYS
        self.progress: list[list[dict]] = []
        self.run_dirs: list[str] = []
        self.layout_writes = {"bytes": 0, "files": 0}
        self.rows = 0

    def _write_days(self, out_dir: str, device_ids, days: int) -> int:
        import pandas as pd

        os.makedirs(out_dir, exist_ok=True)
        frames = [gen.device_frame(self.args.seed, i, days) for i in device_ids]
        full = pd.concat(frames, ignore_index=True)
        day = full["seq"].to_numpy() // 1440
        for d in range(days):
            path = os.path.join(out_dir, f"day={d:03d}.parquet")
            full[day == d].to_parquet(path, index=False)
            # The file source orders new files by modification time.
            os.utime(path, (1_700_000_000 + d, 1_700_000_000 + d))
        return len(full)

    def stage(self, spark, rep_dir: str) -> None:
        self.dir = rep_dir
        self.src = os.path.join(rep_dir, "days")
        self.rows = self._write_days(self.src, range(self.devices), self.days)
        self.input_bytes = _dir_bytes(self.src)[0]
        self.warm_src = os.path.join(rep_dir, "warm_days")
        self._write_days(self.warm_src,
                         range(WARMUP_DEVICE0, WARMUP_DEVICE0 + WARMUP_DEVICES), 1)

    def warmup(self, spark) -> None:
        self._query(spark, self.warm_src, os.path.join(self.dir, "warm_run"), None)

    def install_tracing(self) -> None:
        """Wrap the layout writes the twins call, recording a span and the
        bytes and files each write leaves on disk."""
        from meshinsights_data_pipeline_spark.sources import layout

        tr, acct = self.tracer, self.layout_writes

        def wrap(fn, name, out_dir):
            def traced(*a, **kw):
                with tr.span(name):
                    res = fn(*a, **kw)
                target = out_dir(*a, **kw)
                if target is not None:
                    b, f = _dir_bytes(target)
                    acct["bytes"] += b
                    acct["files"] += f
                return res
            return traced

        layout.snapshot_overwrite = wrap(
            layout.snapshot_overwrite, "sources.layout.snapshot_overwrite",
            lambda df, path, version, **kw: f"{path}/_v={int(version)}")
        layout.idempotent_epoch_append = wrap(
            layout.idempotent_epoch_append, "sources.layout.epoch_append",
            lambda df, path, epoch_id: f"{path}/_epoch={int(epoch_id)}")
        layout.snapshot_before = wrap(
            layout.snapshot_before, "sources.layout.snapshot_before",
            lambda *a, **kw: None)

    def _query(self, spark, src: str, run_dir: str, ledger) -> list[dict]:
        """One availableNow query over ``src``; returns its progress list."""
        from meshinsights_data_pipeline_spark.sources.layout import snapshot_overwrite
        from meshinsights_data_pipeline_spark.streaming import (
            parallel_batch,
            streaming_cusum_ingest,
            streaming_rolling_ingest,
            streaming_state_change_sessions,
        )
        from meshinsights_data_pipeline_spark.streaming.cusum import cusum_state_schema
        from meshinsights_data_pipeline_spark.streaming.rolling import (
            rolling_state_schema,
        )

        tr = self.tracer
        d = {k: os.path.join(run_dir, k) for k in
             ("ckpt", "cusum_state", "cusum_scores", "roll_tail", "roll_scores")}
        snapshot_overwrite(spark.createDataFrame(
            [], cusum_state_schema("device_id string")), d["cusum_state"], -1)
        snapshot_overwrite(spark.createDataFrame(
            [], rolling_state_schema("device_id string, cycle long")),
            d["roll_tail"], -1)
        cusum = streaming_cusum_ingest(
            ["device_id"], ts_col="timeStamp", id_col="seq", value_col="energy",
            state_dir=d["cusum_state"], scores_dir=d["cusum_scores"], **CUSUM)
        rolling = streaming_rolling_ingest(
            ["device_id", "cycle"], ts_col="timeStamp", id_col="seq",
            value_col="energy", tail_dir=d["roll_tail"],
            scores_dir=d["roll_scores"], n=ROLL_N)
        batch_span = {}

        def timed(name, proc):
            def run(batch_df, epoch_id):
                with tr.span(name, op=epoch_id, parent=batch_span.get(epoch_id)):
                    proc(batch_df, epoch_id)
            return run

        fan_out = parallel_batch(timed("streaming.cusum", cusum),
                                 timed("streaming.rolling", rolling))

        def add_batch(batch_df, epoch_id):
            with tr.span("streaming.add_batch", op=epoch_id) as sid:
                batch_span[epoch_id] = sid
                fan_out(batch_df, epoch_id)
            if ledger is not None:
                ledger.sample(spark)

        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        sessions = streaming_state_change_sessions(
            stream, ["device_id"], "tstate", "timeStamp", tiebreak_col="seq")
        with tr.span("streaming.query") as qid:
            q = (sessions.writeStream.foreachBatch(add_batch)
                 .option("checkpointLocation", d["ckpt"])
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        if tr.enabled:
            by_epoch = {}
            for p in progress:
                t0 = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                dur = p["durationMs"].get("triggerExecution", 0) / 1000.0
                by_epoch[p["batchId"]] = tr.add("streaming.epoch", t0, t0 + dur,
                                                qid, op=p["batchId"])
            for s in tr.spans:  # the foreachBatch callback thread has no stack
                if s["name"] == "streaming.add_batch" and s["parent"] is None:
                    s["parent"] = by_epoch.get(s["op"], qid)
        return progress

    def run_pass(self, spark, k: int, ledger) -> list[dict]:
        run_dir = os.path.join(self.dir, f"run{k}")
        self.run_dirs.append(run_dir)
        try:
            progress = self._query(spark, self.src, run_dir, ledger)
        except Exception as exc:  # a failed query fails every epoch
            err = f"{type(exc).__name__}: {exc}"
            return [{"op": f"p{k}e{e}", "pass": k, "latency_s": 0.0, "error": err}
                    for e in range(self.days)]
        self.progress.append(progress)
        return [{"op": f"p{k}e{p['batchId']}", "pass": k,
                 "latency_s": p["durationMs"]["triggerExecution"] / 1000.0,
                 "error": None} for p in progress]

    def check(self, spark, ops) -> dict:
        """Per pass: one epoch per day file, and the streamed CUSUM and
        rolling outputs (rolling carries the streamed cycle ids) equal the
        batch operators over the whole input, row for row and bit for bit."""
        from pyspark.sql import functions as F

        from meshinsights_data_pipeline_spark.operators.changepoint import (
            cusum_changepoints,
        )
        from meshinsights_data_pipeline_spark.operators.rollup import rolling_stats
        from meshinsights_data_pipeline_spark.operators.sessionize import sessionize

        def fingerprint(df):
            cols = sorted(df.columns)
            row = df.select(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
            ).collect()[0]
            return cols, row["n"], row["h"]

        full = spark.read.parquet(self.src)
        sess = sessionize(full, "tstate", ["timeStamp", "seq"], ["device_id"])
        want_roll = fingerprint(rolling_stats(
            sess, "timeStamp", ["device_id", "cycle"], "energy", "seq", n=ROLL_N))
        want_cusum = fingerprint(cusum_changepoints(
            full, "timeStamp", ["device_id"], "energy", "seq", **CUSUM))
        bad = {}
        for k, run_dir in enumerate(self.run_dirs):
            pass_ops = [op["op"] for op in ops if op["pass"] == k]
            problems = []
            if len(pass_ops) != self.days:
                problems.append(f"{len(pass_ops)} epochs for {self.days} day files")
            for name, want in (("roll_scores", want_roll), ("cusum_scores", want_cusum)):
                got = fingerprint(spark.read.parquet(os.path.join(run_dir, name))
                                  .drop("_epoch"))
                if got != want:
                    problems.append(f"{name} {got} != batch {want}")
            for op in pass_ops if problems else ():
                bad[op] = "; ".join(problems)
        return bad

    def input_record(self) -> dict:
        return {"devices": self.devices, "days": self.days, "rows": self.rows,
                "input_bytes": self.input_bytes}

    def layer_metrics(self, passes: int) -> dict:
        epochs = [p for ps in self.progress for p in ps]
        dur = lambda key: sum(p["durationMs"].get(key, 0) for p in epochs) / 1000.0  # noqa: E731
        span_s = {"streaming.cusum": 0.0, "streaming.rolling": 0.0}
        for s in self.tracer.spans:
            if s["name"] in span_s:
                span_s[s["name"]] += s["end"] - s["start"]
        state_rows = [max((op.get("numRowsTotal", 0) for op in p.get("stateOperators", [])),
                          default=0) for p in epochs]
        written = self.layout_writes
        return {
            "streaming.add_batch_s": dur("addBatch") / passes,
            "streaming.planning_s": dur("queryPlanning") / passes,
            "streaming.commit_s": dur("commitOffsets") / passes,
            "streaming.sessions_state_rows": max(state_rows, default=0),
            "streaming.cusum_s": span_s["streaming.cusum"] / passes,
            "streaming.rolling_s": span_s["streaming.rolling"] / passes,
            "sources.layout.write_bytes": written["bytes"] / passes,
            "sources.layout.files_written": written["files"] / passes,
            "sources.layout.write_amplification":
                written["bytes"] / passes / self.input_bytes,
        }

    def event_metrics(self, counts: dict, passes: int) -> dict:
        from spans import descendants, sum_counts

        epochs = [s["id"] for s in self.tracer.spans if s["name"] == "streaming.epoch"]
        ids = set().union(*(descendants(self.tracer.spans, e) for e in epochs)) if epochs else set()
        jobs = sum_counts(counts, ids).get("jobs", 0)
        return {"streaming.jobs_per_epoch": jobs / max(1, len(epochs))}
