"""Incremental Markov state-transition maintenance — the streaming twin
of ``operators.funnel.state_transitions``.

The naive per-batch approach (lag within each micro-batch, merge counts)
silently DROPS every cross-batch adjacency: an entity's last event in
batch k and first event in batch k+1 are a real transition that no
single batch contains. State therefore carries two snapshot tables:

- ``last_dir``   — one row per entity: its latest (ts, tiebreak, state).
  Joining a batch's first-per-entity event against it recovers exactly
  the boundary transitions; entity cardinality, not event cardinality.
- ``counts_dir`` — the accumulated [from_state, to_state, n] table at
  state-cardinality^2.

The counts table is merged per epoch by ``streaming.merge``; the
last-state table follows the same discipline by hand (reads use
``snapshot_before(epoch)``, writes are per-epoch versioned). The
per-epoch report append is exactly-once via the epoch-keyed writer.

Ordering contract (documented, parity-tested): the feed must be
entity-time-ordered ACROSS batches — every event for an entity in batch
k+1 is no earlier than that entity's events in batch k (the shape a
partitioned, watermark-ordered ingest produces). Within a batch any
order is fine (the window sorts). Under that contract the fold over N
batches equals the batch operator over their union exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.merge import merge_state


def streaming_transitions_ingest(
    stream: DataFrame,
    entity_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str,
    *,
    last_dir: str,
    counts_dir: str,
    report_dir: str,
    round_p: int = 6,
):
    """foreachBatch callable: fold each micro-batch's transitions
    (internal + cross-batch boundary) into the accumulated matrix and
    append the normalized per-epoch report.

    Seed both state dirs with ``snapshot_overwrite(empty, dir, -1)``
    (schemas: last = [entity, ts, tiebreak, state] under the stream's
    column names; counts = ``from_state string, to_state string,
    n bigint`` — state values are stored as strings via cast). Report
    rows are [epoch, from_state, to_state, n, p]. Returns the callable
    for ``stream.writeStream.foreachBatch(...)``.
    """
    from pyspark.sql import Window

    from meshinsights_data_pipeline_spark.sources.layout import (
        idempotent_epoch_append,
        snapshot_before,
        snapshot_overwrite,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        ev = batch_df.select(
            F.col(entity_col).alias("entity"),
            F.col(ts_col).alias("ts"),
            F.col(tiebreak_col).alias("tb"),
            F.col(state_col).cast("string").alias("state"),
        )
        w = Window.partitionBy("entity").orderBy("ts", "tb")
        seq = ev.withColumn("prev", F.lag("state").over(w)).withColumn(
            "rn", F.row_number().over(w)
        )
        internal = seq.where(F.col("prev").isNotNull()).select(
            F.col("prev").alias("from_state"), F.col("state").alias("to_state")
        )
        prev_last = snapshot_before(spark, last_dir, epoch_id).select(
            "entity", "ts", "tb", F.col("state").alias("from_state")
        )
        boundary = (
            seq.where(F.col("rn") == 1)
            .select("entity", F.col("state").alias("to_state"))
            .join(prev_last.select("entity", "from_state"), "entity")
            .select("from_state", "to_state")
        )
        batch_counts = (
            internal.union(boundary)
            .groupBy("from_state", "to_state")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        merged = merge_state(
            batch_counts,
            ["from_state", "to_state"],
            [F.sum("n").cast("bigint").alias("n")],
            state_dir=counts_dir,
            epoch_id=epoch_id,
        )

        # new last-state table: the batch's latest event per entity wins;
        # entities silent this batch carry forward.
        batch_last = (
            ev.groupBy("entity")
            .agg(F.max_by(F.struct("ts", "tb", "state"), F.struct("ts", "tb")).alias("_m"))
            .select("entity", "_m.ts", "_m.tb", "_m.state")
        )
        carried = prev_last.select(
            "entity", "ts", "tb", F.col("from_state").alias("state")
        ).join(batch_last.select("entity"), "entity", "left_anti")
        snapshot_overwrite(
            batch_last.unionByName(carried).localCheckpoint(),
            last_dir,
            version=epoch_id,
        )

        wtot = Window.partitionBy("from_state")
        report = merged.select(
            F.lit(int(epoch_id)).cast("bigint").alias("epoch"),
            "from_state",
            "to_state",
            "n",
            F.round(F.col("n") / F.sum("n").over(wtot), round_p).alias("p"),
        )
        idempotent_epoch_append(report, report_dir, epoch_id)

    return _process
