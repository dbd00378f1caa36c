"""Streaming drift monitor: per-micro-batch KS/chi-square checks of an
incoming stream against a persisted baseline snapshot.

Composition of two engine pieces:

* ``operators/snapshot.py`` — the baseline is a frozen-grid mergeable
  snapshot written ONCE (by a batch job or ``runstate.merged_snapshot``);
  its grid + counts are loaded driver-side at stream start and never
  touched again, so the per-batch cost is one snapshot pass over the
  micro-batch (single scan) plus O(cols × bins) driver math.
* ``foreachBatch`` — each micro-batch appends one report row per tracked
  column to a parquet log keyed by ``batch_id``.  The sink uses the same
  dynamic-partition-overwrite idempotence as ``validate_stream``: an
  at-least-once replay of a batch rewrites its partition rather than
  duplicating report rows.

Operational shape at scale: the monitor is a *sidecar* aggregation — no
state store (the baseline is immutable, the batch is self-contained), no
shuffle wider than the micro-batch's groupBys, alert evaluation is a
driver-side threshold on the report row.  Late/out-of-order data is the
windowed path's concern (``window_stream``); drift here is per-ingest-
batch by design, which is what a data-quality gate in an ingestion
pipeline wants ("did THIS increment look like the baseline?").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from schemasaurus_spark.operators.snapshot import (
    Snapshot,
    SnapshotSpec,
    drift_vs_snapshot,
    read_snapshot,
)
from schemasaurus_spark.sources.io import write_batch

REPORT_DDL = (
    "column string, test string, statistic double, psi double, p_value double, "
    "drifted boolean, null_rate_base double, null_rate_cur double, "
    "distinct_base double, distinct_cur double"
)


def make_drift_sink(base: Snapshot, spec: SnapshotSpec, out_dir: str, alpha: float = 0.05):
    """The per-micro-batch sink, exposed for direct testing (call it with a
    repeated batch_id to prove replay idempotence)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        report = drift_vs_snapshot(batch_df, base, spec, alpha)
        write_batch(
            spark.createDataFrame(
                [tuple(r[k] for k in (
                    "column", "test", "statistic", "psi", "p_value", "drifted",
                    "null_rate_base", "null_rate_cur",
                    "distinct_base", "distinct_cur",
                )) for r in report],
                REPORT_DDL,
            ),
            batch_id,
            f"{out_dir}/drift_log",
        )

    return sink


def monitor_drift_stream(
    spark: SparkSession,
    input_dir: str,
    snapshot_path: str,
    spec: SnapshotSpec,
    out_dir: str,
    input_schema: str,
    alpha: float = 0.05,
    checkpoint_dir: str | None = None,
):
    """Watch a parquet-file stream and log per-batch drift vs baseline.

    Returns the started StreamingQuery; reports land under
    ``{out_dir}/drift_log/batch_id=N/``."""
    base = read_snapshot(spark, snapshot_path)
    stream = (
        spark.readStream.schema(input_schema).parquet(input_dir)
    )
    return (
        stream.writeStream.foreachBatch(make_drift_sink(base, spec, out_dir, alpha))
        .option("checkpointLocation", checkpoint_dir or f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def drift_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """All per-batch drift reports accumulated so far."""
    return spark.read.parquet(f"{out_dir}/drift_log")
