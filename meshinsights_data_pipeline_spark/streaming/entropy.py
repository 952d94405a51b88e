"""Incremental token-entropy/Gini monitoring — the streaming twin of
``operators.corpus.source_token_entropy``.

The per-(source, token) count table is a mergeable sufficient statistic,
and entropy/Gini are functions of the count MULTISET only (invariant
under injective token renaming) — so the state stores 60-bit token
hashes exactly like the drift twin (strings stay out of the merge
shuffle) and the recomputed report equals the batch operator over
everything ingested WHENEVER the hash is injective on the observed
vocabulary. That parity is therefore probabilistic, not exact: a 60-bit
md5 collision within a source merges two token types, shifting
n_types/entropy/gini (birthday bound ~2^30 distinct types per source
before collisions become likely — beyond any real vocabulary, but
unlike the KS/Benford/KM twins, which carry raw state and are exact by
construction; keep raw tokens via ``source_token_counts(hashed=False)``
if exactness is required). Cross-batch parity against the batch
operator is tested on a collision-free vocabulary. The per-epoch
reports form the mix-health time series: a source whose entropy
collapses epoch over epoch has gone template-heavy.

State = one versioned snapshot table ``[source, _tok(hash), _c]`` at
|source| x |vocab| cardinality — the same cardinality as the drift
twin's state, merged per epoch by ``streaming.merge``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.merge import merge_state_ingest


def streaming_entropy_ingest(
    stream: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    *,
    counts_dir: str,
    report_dir: str,
):
    """foreachBatch callable: merge batch (source, token-hash) counts
    into the entropy state, recompute the per-source entropy/Gini
    report from the merged counts, append it with the epoch id.

    Seed the state dir with ``snapshot_overwrite(empty, counts_dir, -1)``
    (schema ``source string, _tok long, _c long``). Report rows are
    ``[epoch, source, n_tokens, n_types, entropy, norm_entropy, gini]``.
    """
    from meshinsights_data_pipeline_spark.operators.corpus import (
        source_token_counts,
        token_entropy_from_counts,
    )

    # the batch operator's own tokenize+count stage (hashed-key tier) —
    # shared so the twin's tokenization can never drift from batch
    # semantics if the normalization changes.
    return merge_state_ingest(
        lambda batch: source_token_counts(
            batch, source_col, text_col, hashed=True
        ).withColumnRenamed(source_col, "source"),
        ["source", "_tok"],
        [F.sum("_c").cast("bigint").alias("_c")],
        lambda merged: token_entropy_from_counts(merged, "source"),
        state_dir=counts_dir,
        report_dir=report_dir,
    )
