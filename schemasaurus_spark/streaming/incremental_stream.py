"""Streaming incremental near-dedup: every micro-batch of newly ingested
documents is near-dedup-checked against the HISTORICAL corpus's persisted
MinHash band index (operators/dedup.minhash_band_index) before being
accepted — the continuous-ingestion twin of ``incremental_dedup``.

Division of labor with the other streams: ``dedup_stream`` (stateful
first-seen fingerprints) removes EXACT duplicates across batches with
checkpointed state; this stream removes NEAR duplicates of the existing
corpus.  Chain them (exact first) for full edge dedup; intra-batch near
duplicates are deliberately out of scope here (run the batch self-join
offline if needed) — the contract is "nothing near-duplicating the
corpus gets in".

Scale shape per micro-batch: the corpus is never re-shingled — the index
frame is persisted ONCE at stream start (memory-and-disk) so each batch
pays one batch-side signature pass + one equi-join against the cached
index + a verify join that re-reads corpus text ONLY for the rare
candidate doc ids.  Accepted docs and flagged pairs land under
``batch_id=<n>`` partitions with dynamic-partition overwrite, so
at-least-once replays rewrite rather than duplicate (the idempotent-sink
pattern shared with validate_stream).

The index is a SNAPSHOT of the corpus at stream start: docs accepted
mid-stream do not join it (that would need mutable broadcast state).
Production shape: restart the stream per index-compaction cycle, folding
accepted docs' band rows into the index between cycles — exactly the
append workflow ``minhash_band_index``'s docstring describes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from schemasaurus_spark.operators.dedup import incremental_near_duplicates
from schemasaurus_spark.sources.io import write_batch


def incremental_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    corpus_path: str,
    out_dir: str,
    index_path: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    source_schema=None,
    trigger_available_now: bool = True,
):
    """Start the stream; returns (StreamingQuery, stop_callback).

    ``index_path`` points at a parquet written from ``minhash_band_index``
    (built from the corpus when omitted — fine for tests, wasteful at
    scale where the index should be a maintained artifact).  Accepted
    batch docs go to ``out_dir/accepted``, flagged (batch_id, corpus_id,
    jaccard) pairs to ``out_dir/flagged``.  Call the stop callback after
    the query terminates to release the cached index."""
    corpus = spark.read.parquet(corpus_path)
    if index_path is not None:
        index = spark.read.parquet(index_path)
    else:
        from schemasaurus_spark.operators.dedup import minhash_band_index

        index = minhash_band_index(corpus, text_col, id_col)
    index = index.persist(StorageLevel.MEMORY_AND_DISK)

    if source_schema is None:
        source_schema = spark.read.parquet(input_dir).schema
    stream = spark.readStream.schema(source_schema).parquet(input_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            pairs = incremental_near_duplicates(
                batch_df,
                corpus,
                index_df=index,
                text_col=text_col,
                id_col=id_col,
                threshold=threshold,
                # the index is already persisted; capping it per batch would
                # re-aggregate bucket sizes every micro-batch
                bucket_cap=None,
            ).persist(StorageLevel.MEMORY_AND_DISK)
            flagged = pairs.select(F.col("batch_id").alias(id_col)).distinct()
            accepted = batch_df.join(flagged, id_col, "left_anti")
            write_batch(
                pairs.withColumnRenamed("batch_id", "new_id"), batch_id, f"{out_dir}/flagged"
            )
            write_batch(accepted, batch_id, f"{out_dir}/accepted")
            pairs.unpersist()
        finally:
            batch_df.unpersist()

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), index.unpersist
