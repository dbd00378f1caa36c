"""Streaming schema-shape monitor: per-micro-batch observed-schema drift
of a semi-structured column against a persisted baseline profile — the
streaming twin of ``schema/profile.schema_profile_drift``, catching the
silent producer migration ("/id started arriving as a string", "a new
key appeared") on the ingest path, per increment, before any value
statistic moves.

Composition (mirrors drift_stream.py):

* the baseline is a ``json_schema_profile`` output written ONCE by a
  batch job; it is metadata-sized (bounded path space) and loaded at
  stream start, never rescanned;
* each micro-batch is profiled with the same Arrow walk kernel (one scan,
  in-kernel pre-aggregation) and diffed against the baseline with
  ``schema_profile_drift`` — the diff runs over profile rows only;
* ``foreachBatch`` appends one row per (path, jtype) to a parquet log
  partitioned by ``batch_id`` with dynamic-partition overwrite, so an
  at-least-once replay rewrites its partition instead of duplicating
  (the same idempotence contract as validate_stream/drift_stream).

No state store: the baseline is immutable and each batch self-contained
— per-INCREMENT drift is the point ("did THIS ingest batch exhibit the
declared shape?"); cumulative drift is the batch job's territory over
the accumulated corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from schemasaurus_spark.schema.profile import (
    json_schema_profile,
    schema_profile_drift,
)
from schemasaurus_spark.sources.io import write_batch

DRIFT_LOG_COLS = [
    "path",
    "jtype",
    "n_base",
    "n_cur",
    "share_base",
    "share_cur",
    "share_delta",
    "status",
]


def make_schema_drift_sink(baseline_profile: DataFrame, json_col: str, out_dir: str):
    """Per-micro-batch sink, exposed for direct testing (call with a
    repeated batch_id to prove replay idempotence).  ``baseline_profile``
    is a (path, jtype, n) frame — typically ``spark.read.parquet`` of a
    batch-written profile."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        report = schema_profile_drift(
            baseline_profile, json_schema_profile(batch_df, json_col)
        )
        write_batch(report.select(*DRIFT_LOG_COLS), batch_id, f"{out_dir}/schema_drift_log")

    return sink


def monitor_schema_drift_stream(
    spark: SparkSession,
    input_dir: str,
    baseline_profile_path: str,
    json_col: str,
    out_dir: str,
    input_schema: str,
    checkpoint_dir: str | None = None,
):
    """Watch a parquet-file stream and log per-batch observed-schema
    drift vs the persisted baseline profile.  Returns the started
    StreamingQuery; reports land under
    ``{out_dir}/schema_drift_log/batch_id=N/``."""
    baseline = spark.read.parquet(baseline_profile_path)
    stream = spark.readStream.schema(input_schema).parquet(input_dir)
    return (
        stream.writeStream.foreachBatch(
            make_schema_drift_sink(baseline, json_col, out_dir)
        )
        .option("checkpointLocation", checkpoint_dir or f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def schema_drift_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """All per-batch schema-drift reports accumulated so far."""
    return spark.read.parquet(f"{out_dir}/schema_drift_log")
