"""The shared pieces every streaming twin runs on: the merge-state epoch
step (``streaming.merge``) and the ``parallel_batch`` fan-out."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.sources.layout import (
    latest_snapshot,
    snapshot_overwrite,
    snapshot_versions,
)
from meshinsights_data_pipeline_spark.streaming import parallel_batch
from meshinsights_data_pipeline_spark.streaming.merge import merge_state_ingest


def _count_twin(state_dir, report_dir, report):
    """A minimal report twin: per-key row counts, SUM-merged."""
    return merge_state_ingest(
        lambda batch: batch.groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        ),
        ["k"],
        [F.sum("c").cast("bigint").alias("c")],
        report,
        state_dir=state_dir,
        report_dir=report_dir,
    )


def test_merge_state_ingest_crash_mid_epoch_matches_clean_run(spark, tmp_path):
    """A crash after the ``_v=<epoch>`` state snapshot commits but before
    the report lands, plus a stray uncommitted ``_v=<epoch+1>`` dir,
    must not double-count: re-running the epoch leaves state and report
    equal to a clean run's, with one report row set per epoch."""
    batches = [
        spark.createDataFrame([(k,) for k in keys], "k string")
        for keys in (["a", "a", "b"], ["a", "c"], ["b", "c", "c"])
    ]

    def fresh(name):
        state = str(tmp_path / name / "state")
        snapshot_overwrite(
            spark.createDataFrame([], "k string, c long"), state, -1
        )
        return state, str(tmp_path / name / "report")

    clean_state, clean_report = fresh("clean")
    clean = _count_twin(clean_state, clean_report, lambda merged: merged)
    for epoch, batch in enumerate(batches):
        clean(batch, epoch)

    calls = []

    def crash_once(merged):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("crash after the state commit")
        return merged

    state, report = fresh("crashed")
    twin = _count_twin(state, report, crash_once)
    with pytest.raises(RuntimeError, match="after the state commit"):
        twin(batches[0], 0)
    assert os.path.exists(f"{state}/_v=0/_SUCCESS")  # state had committed
    assert not os.path.exists(report)
    stray = f"{state}/_v=1"
    os.makedirs(stray)
    with open(f"{stray}/part-00000.parquet", "wb") as f:
        f.write(b"partial write")  # no _SUCCESS: a crashed later epoch

    for epoch, batch in enumerate(batches):  # the retry, then the rest
        twin(batch, epoch)

    def rows(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    assert rows(latest_snapshot(spark, state), ["k", "c"]) == rows(
        latest_snapshot(spark, clean_state), ["k", "c"]
    ) == [("a", 3), ("b", 2), ("c", 3)]
    assert snapshot_versions(spark, state) == snapshot_versions(
        spark, clean_state
    )
    got = spark.read.parquet(report)
    want = spark.read.parquet(clean_report)
    assert rows(got, ["epoch", "k", "c"]) == rows(want, ["epoch", "k", "c"])
    assert rows(got.groupBy("epoch").count(), ["epoch", "count"]) == [
        (0, 2), (1, 3), (2, 3)
    ]


def test_parallel_batch_finishes_writer_and_reraises_first_error(
    spark, tmp_path
):
    """One processor failing must not cut its siblings short: the writer
    still completes, and the FIRST processor's exception is re-raised so
    Structured Streaming retries the micro-batch."""
    out = str(tmp_path / "out")

    def fail_first(batch_df, epoch_id):
        raise ValueError("first processor failed")

    def write(batch_df, epoch_id):
        batch_df.write.parquet(out)

    def fail_last(batch_df, epoch_id):
        raise RuntimeError("last processor failed")

    with pytest.raises(ValueError, match="first processor failed"):
        parallel_batch(fail_first, write, fail_last)(spark.range(10), 0)
    assert spark.read.parquet(out).count() == 10
