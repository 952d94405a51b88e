"""Continuous-ingest dedup + ANN maintenance: the streaming half of the
corpus pipeline, end to end on a bounded stream.

1. Seed the signature table / cluster labels / IVF lists from an
   existing corpus half.
2. Stream the other half in micro-batches; per batch, foreachBatch
   - finds near-dup candidate pairs vs everything seen so far
     (streaming_lsh_ingest, new-vs-table + new-vs-new bucket joins),
   - folds the new pairs into the accumulated [id, cluster_id] labeling
     (incremental_components label-star merge),
   - assigns new embeddings to IVF inverted lists (streaming_ivf_ingest).
   All sinks use the exactly-once epoch-keyed writer, so micro-batch
   retries replace rather than duplicate.
3. Report cluster stats and a search over the accumulated index.

Further streaming twins in the package (same foreachBatch/stateful
patterns, each parity- and retry-tested): streaming_span_ingest
(cross-doc duplicate spans), streaming_report_ingest +
report_from_state (live per-source dataset card), streaming_lm_ingest
(perplexity scoring against an evolving corpus LM), streaming_debounce
and streaming_funnel (stateful, with optional event-time TTL state
expiry), and streaming_interval_join (watermarked stream-stream range
join via the bucketization rewrite).

Run: python examples/streaming_ingest.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.operators.components import (
    connected_components,
)
from meshinsights_data_pipeline_spark.operators.dedup import (
    banded_signatures,
    minhash_lsh_candidates,
)
from meshinsights_data_pipeline_spark.operators.similarity import ivf_topk
from meshinsights_data_pipeline_spark.session import get_spark, read_table
from meshinsights_data_pipeline_spark.sources.layout import idempotent_epoch_append, latest_snapshot, snapshot_overwrite
from meshinsights_data_pipeline_spark.streaming import (
    streaming_ivf_ingest,
    streaming_lsh_ingest,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("streaming-ingest-example")
    work = tempfile.mkdtemp(prefix="stream_ingest_")
    dirs = {n: os.path.join(work, n) for n in
            ("sigs", "pairs", "labels", "lists", "vecs", "src_docs", "src_emb",
             "ckpt1", "ckpt2")}

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seed_docs = docs.filter(F.col("doc_id") % 2 == 0)
    seed_emb = emb.filter((F.col("vec_id") % 2 == 0) | (F.col("vec_id") < 16))
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )

    # 1. Seed (epoch -1 keeps the layout uniformly epoch-partitioned).
    idempotent_epoch_append(
        banded_signatures(seed_docs, "doc_id", "text"), dirs["sigs"], -1)
    seed_pairs = minhash_lsh_candidates(seed_docs, "doc_id", "text").localCheckpoint()
    snapshot_overwrite(connected_components(seed_pairs), dirs["labels"], version=-1)

    # 2. Stream the arriving halves in 4 micro-batches each.
    docs.filter(F.col("doc_id") % 2 == 1).repartition(4).write.parquet(dirs["src_docs"])
    emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") >= 16)) \
        .repartition(4).write.parquet(dirs["src_emb"])

    doc_stream = (spark.readStream.schema(spark.read.parquet(dirs["src_docs"]).schema)
                  .option("maxFilesPerTrigger", 1).parquet(dirs["src_docs"]))
    q1 = (doc_stream.writeStream
          .foreachBatch(streaming_lsh_ingest(
              doc_stream, "doc_id", "text",
              signature_dir=dirs["sigs"], pairs_dir=dirs["pairs"],
              labels_dir=dirs["labels"]))
          .option("checkpointLocation", dirs["ckpt1"])
          .trigger(availableNow=True).start())
    emb_stream = (spark.readStream.schema(spark.read.parquet(dirs["src_emb"]).schema)
                  .option("maxFilesPerTrigger", 1).parquet(dirs["src_emb"]))
    q2 = (emb_stream.writeStream
          .foreachBatch(streaming_ivf_ingest(
              emb_stream, centroids, lists_dir=dirs["lists"],
              vectors_dir=dirs["vecs"]))
          .option("checkpointLocation", dirs["ckpt2"])
          .trigger(availableNow=True).start())
    q1.awaitTermination(300)
    q2.awaitTermination(300)

    # 3. Report.
    labels = latest_snapshot(spark, dirs["labels"])
    clusters = labels.groupBy("cluster_id").count()
    n_pairs = spark.read.parquet(dirs["pairs"]).select("id_a", "id_b").distinct().count()
    print(f"accumulated candidate pairs : {n_pairs}")
    print(f"labeled docs / clusters     : {labels.count()} / {clusters.count()}")
    print(f"largest cluster             : "
          f"{clusters.agg(F.max('count')).collect()[0][0]}")
    acc = spark.read.parquet(dirs["vecs"]).select("vec_id", "embedding")
    hits = ivf_topk(acc, emb.filter(F.col("vec_id") < 3), centroids, k=5)
    print(f"ivf search over accumulated : {hits.count()} result rows")
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
