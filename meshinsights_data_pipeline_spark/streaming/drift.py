"""Incremental source-drift monitoring — the streaming twin of
``operators.corpus.source_drift`` (SURVEY §2.10 north-star surface).

A mixture monitor over continuous ingest should judge each source
against the distribution of EVERYTHING seen so far, not just the
current micro-batch: a scraper that breaks mid-week drifts gradually,
and per-batch-only distributions are too noisy at low batch sizes to
alarm on. Each micro-batch folds its (source, token-hash) counts into
the accumulated count table, then recomputes the full drift report from
the merged counts — so after any batch the report equals the batch
operator run over every document ingested so far (exact parity, tested),
with per-epoch reports forming the drift time series an alerting rule
consumes.

State = one mergeable snapshot table (``sources.layout`` versioned
snapshots): ``[source, h, c_st]`` at |source| x |vocab| cardinality.
Tokens are stored as 60-bit hashes — TV distance and chi-square are
invariant under injective token renaming, and hashing keeps strings out
of the merge shuffle (the ``streaming_lm_ingest`` discipline). The
state is merged per epoch by ``streaming.merge``.

Scale: per-batch work is one batch token pass plus a merge keyed on
(source, hash); the drift recompute runs entirely at count-table
cardinality — the corpus is never rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.merge import merge_state_ingest


def streaming_drift_ingest(
    stream: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    *,
    counts_dir: str,
    report_dir: str,
):
    """foreachBatch callable: merge batch token counts into the drift
    state, recompute the per-source drift report from the merged counts,
    append it with the epoch id.

    Seed the state dir with ``snapshot_overwrite(empty, counts_dir, -1)``
    (schema ``source string, h long, c_st double``). Report rows are
    ``[epoch, source, n_tokens, tv_distance, chi_square]``. Returns the
    callable for ``stream.writeStream.foreachBatch(...)``.
    """
    from meshinsights_data_pipeline_spark.operators.dedup import md5_int60
    from meshinsights_data_pipeline_spark.operators.corpus import (
        drift_from_counts,
    )
    from meshinsights_data_pipeline_spark.operators.text import normalized_text

    def _batch_counts(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                F.col(source_col).alias("source"),
                F.explode(
                    F.split(normalized_text(F.col(text_col)), " ")
                ).alias("tok"),
            )
            .filter(F.col("tok") != "")
            .groupBy("source", md5_int60(F.col("tok")).alias("h"))
            .agg(F.count(F.lit(1)).cast("double").alias("c_st"))
        )

    return merge_state_ingest(
        _batch_counts,
        ["source", "h"],
        [F.sum("c_st").alias("c_st")],
        lambda merged: drift_from_counts(merged.withColumnRenamed("h", "tok")),
        state_dir=counts_dir,
        report_dir=report_dir,
    )
