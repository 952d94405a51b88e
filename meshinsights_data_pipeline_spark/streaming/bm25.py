"""Incremental BM25 scoring — the streaming twin of
``operators.text.bm25_topk``'s scoring stage (the streaming_lm_ingest /
streaming_dsir_ingest pattern).

BM25 over continuous ingest: the QUERY term bag is static (an eval-set
leak audit or a standing retrieval need), while the corpus statistics
the score depends on — per-term document frequency, document count N,
total token mass — should reflect everything ingested so far. Each
micro-batch folds its counts into the accumulated counter table, then
scores its own docs against the merged (history + batch) statistics.
The single-batch case is bit-identical to the batch operator's scored
frame; across batches the semantic is forward-looking (a doc's score
reflects corpus statistics as of its ingest epoch and is not re-scored
as df/avgdl drift — run the batch operator for a corpus-wide re-rank),
the same documented delta as streaming_lm_ingest.

State = ONE mergeable counter table ``[key, val]`` holding ``n``,
``tl``, and one ``df:<term>`` row per query term — ``|Q| + 2`` rows,
the smallest GLOBAL state table in the streaming family (dsir's is
4096; the per-KEY minimum is the CUSUM twin's two scalars per key),
merged per epoch by ``streaming.merge``; score appends are exactly-once
per epoch.

Scale: per-batch work is one batch tokenize pass (document length
map-side, only query-term tokens shuffle) plus a merge on the bounded
counter key space. The corpus is never rescanned; top-k over
accumulated scores is a batch-side consumer
(``global_rank.global_topk`` over the scores directory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.merge import merge_state

COUNTER_SCHEMA = "key string, val long"


def streaming_bm25_ingest(
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    counts_dir: str,
    scores_dir: str,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
):
    """foreachBatch callable: merge batch corpus counters into state,
    score the batch docs against the merged statistics, append scores.

    Seed the state dir with ``snapshot_overwrite(empty, counts_dir, -1)``
    (schema: ``COUNTER_SCHEMA``). Returns the callable for
    ``stream.writeStream.foreachBatch(...)``.
    """
    from meshinsights_data_pipeline_spark.operators.text import (
        _bm25_frames,
        _bm25_score,
    )
    from meshinsights_data_pipeline_spark.sources.layout import (
        idempotent_epoch_append,
    )

    terms = list(query_terms)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        dls, tf = _bm25_frames(batch_df, id_col, text_col, terms)
        # tf feeds the df-counter increment AND the scoring join
        tf = tf.localCheckpoint()
        batch_counters = (
            dls.agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("tl"),
            )
            .selectExpr("stack(2, 'n', n, 'tl', tl) AS (key, val)")
            .union(
                tf.groupBy("term")
                .agg(F.count(F.lit(1)).cast("bigint").alias("val"))
                .select(
                    F.concat(F.lit("df:"), F.col("term")).alias("key"), "val"
                )
            )
        )
        merged = merge_state(
            batch_counters,
            ["key"],
            [F.sum("val").cast("bigint").alias("val")],
            state_dir=counts_dir,
            epoch_id=epoch_id,
        )

        # the same [n, avgdl] / [term, df] shapes — and therefore the
        # same score expression tree — as the batch operator
        stats = merged.groupBy().agg(
            F.max(F.when(F.col("key") == "n", F.col("val"))).alias("n"),
            F.max(F.when(F.col("key") == "tl", F.col("val"))).alias("tl"),
        ).select("n", (F.col("tl").cast("double") / F.col("n")).alias("avgdl"))
        dfreq = merged.filter(F.col("key").startswith("df:")).select(
            F.expr("substring(key, 4)").alias("term"),
            F.col("val").alias("df"),
        )
        scores = _bm25_score(tf, dfreq, stats, id_col, k1, b, round_to)
        idempotent_epoch_append(scores, scores_dir, epoch_id)

    return _process
