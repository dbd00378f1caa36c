"""Streaming volume monitor: per-micro-batch row-volume anomaly gate
against a persisted baseline — the ingest-path twin of
``operators/monitor.volume_anomalies``, catching the feed that doubled or
went quiet THIS increment (the batch operator answers the same question
over the accumulated corpus, after the fact).

Composition (mirrors drift_stream.py / schema_drift_stream.py):

* the baseline is ONE row ``(mean, stddev)`` of bucket counts from a
  reference window, written by the batch job (``volume_baseline``);
  loaded driver-side at stream start — metadata-sized, never rescanned;
* each micro-batch is bucketed with the shared zero-filled primitive
  (``monitor.bucket_counts_filled``) over the BATCH's own span, so an
  outage bucket inside the increment is visible as cnt=0, and every
  bucket is z-scored against the BASELINE (not batch-internal stats —
  a batch that is entirely burst would otherwise look normal to itself);
* ``foreachBatch`` appends one row per bucket to a parquet log
  partitioned by ``batch_id`` with dynamic-partition overwrite, so an
  at-least-once replay rewrites its partition instead of duplicating
  (the sink idempotence contract shared by every stream in this package).

No state store: the baseline is immutable and each batch self-contained.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from schemasaurus_spark.operators.monitor import bucket_counts_filled, volume_anomalies
from schemasaurus_spark.sources.io import write_batch


def volume_baseline(df: DataFrame, ts_col: str, bucket: str = "hour") -> DataFrame:
    """One-row ``(mean, stddev)`` baseline of zero-filled bucket counts
    over a reference corpus — exactly the statistics ``volume_anomalies``
    computes, reduced to the gate's parameters.  Write this to parquet
    once; the stream loads it at start."""
    return volume_anomalies(df, ts_col, bucket).select("mean", "stddev").limit(1)


def volume_report(
    df: DataFrame, ts_col: str, bucket: str, baseline: dict, z: float
) -> DataFrame:
    """Zero-filled bucket volumes of ``df`` z-scored against a persisted
    baseline: ``(bucket_ts, cnt, zscore, anomalous)``.  Shared by the
    streaming sink and the batch monitoring CLI (jobs/monitor_submit.py).
    ``baseline`` is the one baseline row as a plain dict
    ``{"mean": m, "stddev": s}`` — driver-side constants folded into the
    plan as literals."""
    mean, std = float(baseline["mean"]), float(baseline["stddev"])
    counts = bucket_counts_filled(df, ts_col, bucket)
    zscore = F.when(
        F.lit(std) > 0, F.round((F.col("cnt") - F.lit(mean)) / F.lit(std), 6)
    )
    return counts.select(
        "bucket_ts",
        "cnt",
        zscore.alias("zscore"),
        F.coalesce(F.abs(zscore) > z, F.lit(False)).alias("anomalous"),
    )


def make_volume_sink(
    baseline: dict, bucket: str, z: float, out_dir: str, ts_col: str
):
    """Per-micro-batch sink, exposed for direct testing (call with a
    repeated batch_id to prove replay idempotence)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(
            volume_report(batch_df, ts_col, bucket, baseline, z), batch_id, f"{out_dir}/volume_log"
        )

    return sink


def monitor_volume_stream(
    spark: SparkSession,
    input_dir: str,
    baseline_path: str,
    ts_col: str,
    out_dir: str,
    input_schema: str,
    bucket: str = "hour",
    z: float = 3.0,
    checkpoint_dir: str | None = None,
):
    """Watch a parquet-file stream and log per-batch bucket volumes
    z-scored against the persisted baseline.  Returns the started
    StreamingQuery; reports land under ``{out_dir}/volume_log/batch_id=N/``."""
    base_row = spark.read.parquet(baseline_path).collect()[0].asDict()
    stream = spark.readStream.schema(input_schema).parquet(input_dir)
    return (
        stream.writeStream.foreachBatch(
            make_volume_sink(base_row, bucket, z, out_dir, ts_col)
        )
        .option("checkpointLocation", checkpoint_dir or f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def volume_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """All per-batch volume reports accumulated so far."""
    return spark.read.parquet(f"{out_dir}/volume_log")
