"""Streaming exact-novelty admission gate with a GROWING Bloom filter.

The continuous-ingestion twin of ``operators/bloom.bloom_novel_docs``:
every micro-batch of newly ingested documents is admitted only if its
normalized-text fingerprint has never been seen — not in the historical
corpus, not in any earlier accepted batch, not earlier in the same batch
(min-id wins).  EXACT semantics throughout; the Bloom filter is pure
acceleration.

Division of labor with the other streams: ``dedup_stream`` keeps
first-seen fingerprints in checkpointed per-key state
(``applyInPandasWithState``) — exact-dup removal *within the stream*,
state grows with distinct keys and lives in the state store.  This
stream's seen-set is the CORPUS (10^12 fingerprints — far beyond any
state store) plus its own accepted output; the corpus never fits state,
so membership is answered by a metadata-sized bitmap + exact verify of
the maybe-sliver, and durability comes from the accepted sink itself
rather than a state store:

* stream start: bitmap = corpus fingerprints ∪ previously accepted
  batches (so a restart rebuilds the exact in-memory state from durable
  artifacts — nothing to checkpoint);
* per batch: in-batch min-id collapse → vectorized bitmap probe →
  bloom-rejected rows are DEFINITELY novel (no false negatives); only
  the maybe-sliver is verified — broadcast semi-joins against the
  corpus fingerprints and the PRIOR accepted output (``batch_id <
  current`` — a replayed batch must not see its own pre-crash output);
* after the batch: the accepted fingerprints are OR-folded into the
  bitmap (a bitmap-build job over just-accepted rows — batch-sized).

Sinks are ``batch_id``-partitioned with dynamic-partition overwrite, so
at-least-once replays rewrite rather than duplicate (the idempotent-sink
pattern shared with validate_stream / incremental_stream).  Rejected
rows carry a reason: ``in_batch`` (lost the min-id collapse), ``seen``
(fingerprint exists in corpus or an earlier batch).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException
from pyspark.storagelevel import StorageLevel

from schemasaurus_spark.operators.bloom import (
    bloom_might_contain,
    build_bloom_bitmap,
)
from schemasaurus_spark.operators.dedup import normalize_text
from schemasaurus_spark.sources.io import write_batch


def _or_bytes(a: bytes, b: bytes) -> bytes:
    return np.bitwise_or(
        np.frombuffer(a, dtype=np.uint8), np.frombuffer(b, dtype=np.uint8)
    ).tobytes()


def bloom_novelty_stream(
    spark: SparkSession,
    input_dir: str,
    corpus_path: str,
    out_dir: str,
    n_bits: int = 1 << 23,
    n_hashes: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_schema=None,
    trigger_available_now: bool = True,
):
    """Start the stream; returns (StreamingQuery, stop_callback).

    Accepted docs land under ``out_dir/accepted/batch_id=<n>`` (original
    columns + ``fingerprint``), rejected docs under ``out_dir/rejected``
    with a ``reason`` column.  Size ``n_bits`` for the corpus plus the
    expected stream volume via ``bloom.derive_bloom_params``."""
    fp = F.md5(normalize_text(F.col(text_col)))
    corpus_fps = (
        spark.read.parquet(corpus_path)
        .select(fp.alias("fingerprint"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    accepted_dir = f"{out_dir}/accepted"

    def _read_prior_accepted():
        try:
            return spark.read.parquet(accepted_dir)
        except AnalysisException:
            return None

    state = {"bitmap": build_bloom_bitmap(corpus_fps, "fingerprint", n_bits, n_hashes)}
    prior = _read_prior_accepted()
    if prior is not None:
        # restart: fold every previously accepted fingerprint back in so the
        # in-memory bitmap is rebuilt exactly from durable artifacts
        state["bitmap"] = _or_bytes(
            state["bitmap"],
            build_bloom_bitmap(prior, "fingerprint", n_bits, n_hashes),
        )

    if source_schema is None:
        source_schema = spark.read.parquet(input_dir).schema
    stream = spark.readStream.schema(source_schema).parquet(input_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        with_fp = batch_df.withColumn("fingerprint", fp).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            # in-batch collapse: min id per fingerprint competes, the rest
            # are rejected as in_batch (NULL fingerprints never collapse —
            # they are pass-through novel, matching bloom_novel_docs)
            keep = with_fp.where(F.col("fingerprint").isNotNull()).groupBy(
                "fingerprint"
            ).agg(F.min(id_col).alias(id_col))
            reps = with_fp.join(
                keep, ["fingerprint", id_col], "left_semi"
            ).unionByName(with_fp.where(F.col("fingerprint").isNull()))
            lost = with_fp.join(reps.select(id_col), id_col, "left_anti")

            probed = bloom_might_contain(
                reps, "fingerprint", state["bitmap"], n_bits, n_hashes
            ).persist(StorageLevel.MEMORY_AND_DISK)
            definite = probed.where(~F.col("_maybe")).drop("_maybe")
            maybe = probed.where(F.col("_maybe")).drop("_maybe")

            maybe_fps = (
                maybe.select("fingerprint")
                .where(F.col("fingerprint").isNotNull())
                .distinct()
            )
            present = corpus_fps.join(
                F.broadcast(maybe_fps), "fingerprint", "left_semi"
            )
            prior = _read_prior_accepted()
            if prior is not None:
                present = present.unionByName(
                    # a replayed batch must not see its own pre-crash output
                    prior.where(F.col("batch_id") < batch_id)
                    .select("fingerprint")
                    .join(F.broadcast(maybe_fps), "fingerprint", "left_semi")
                )
            present = present.distinct()
            survivors = maybe.join(F.broadcast(present), "fingerprint", "left_anti")
            accepted = definite.unionByName(survivors).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            seen = maybe.join(F.broadcast(present), "fingerprint", "left_semi")

            rejected = lost.withColumn("reason", F.lit("in_batch")).unionByName(
                seen.withColumn("reason", F.lit("seen"))
            )
            write_batch(accepted, batch_id, accepted_dir)
            write_batch(rejected, batch_id, f"{out_dir}/rejected")
            # grow the filter with what this batch admitted (batch-sized job)
            state["bitmap"] = _or_bytes(
                state["bitmap"],
                build_bloom_bitmap(accepted, "fingerprint", n_bits, n_hashes),
            )
            accepted.unpersist()
            probed.unpersist()
        finally:
            with_fp.unpersist()

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), corpus_fps.unpersist
