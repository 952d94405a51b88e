"""Incremental DSIR importance weighting — the streaming twin of
``operators.corpus.dsir_weights`` (the streaming_lm_ingest pattern).

DSIR over continuous ingest: the TARGET distribution is static (that is
the premise — a fixed high-quality reference corpus), while the RAW
distribution should reflect everything ingested so far. Each micro-batch
folds its hashed-bigram bucket counts into the accumulated raw count
table, rebuilds the lambda table against the static target counts, and
scores its own docs against the merged (history + batch) raw model. The
single-batch case is bit-identical to the batch operator; across batches
the semantic is forward-looking (a doc's weight reflects the raw
distribution as of its ingest epoch and is not retro-scored — run the
batch operator for a corpus-wide re-weight), the same documented delta
as streaming_lm_ingest.

State = ONE mergeable snapshot table of raw bucket counts [b, c_r],
bounded by the ``buckets`` feature-space size (4096 rows by default —
smaller than any corpus-growing state; bm25's |Q|+2 and the CUSUM
twin's two scalars/key are the family minima), merged per epoch by
``streaming.merge``; score appends are exactly-once per epoch.

Scale: per-batch work is one batch tokenize pass plus a merge keyed on
a bounded int bucket space; the target counts are computed ONCE at
build time and broadcast into every epoch's lambda join. The corpus is
never rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.merge import merge_state


def streaming_dsir_ingest(
    target_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    counts_dir: str,
    scores_dir: str,
    buckets: int = 4096,
    round_to: int = 6,
):
    """foreachBatch callable: merge batch bucket counts into the raw
    count state, score the batch docs against the merged raw model and
    the static ``target_df`` model, append scores.

    Seed the state dir with ``snapshot_overwrite(empty, counts_dir, -1)``
    (schema: ``b long, c_r long``). Returns the callable for
    ``stream.writeStream.foreachBatch(...)``.
    """
    from meshinsights_data_pipeline_spark.operators.corpus import (
        dsir_doc_buckets,
        dsir_lambda,
        dsir_score,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        idempotent_epoch_append,
    )

    # Static target counts: computed once, consumed by every epoch.
    c_t = (
        dsir_doc_buckets(target_df, id_col, text_col, buckets)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_t"))
        .localCheckpoint()
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        per_doc = (
            dsir_doc_buckets(batch_df, id_col, text_col, buckets)
            .groupBy(F.col(id_col), F.col("b"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
            .localCheckpoint()  # feeds the state merge AND the score join
        )
        merged_cr = merge_state(
            per_doc.groupBy("b").agg(F.sum("nb").cast("bigint").alias("c_r")),
            ["b"],
            [F.sum("c_r").cast("bigint").alias("c_r")],
            state_dir=counts_dir,
            epoch_id=epoch_id,
        )

        scores = dsir_score(
            per_doc, dsir_lambda(merged_cr, c_t, buckets), id_col, round_to
        )
        idempotent_epoch_append(scores, scores_dir, epoch_id)

    return _process
