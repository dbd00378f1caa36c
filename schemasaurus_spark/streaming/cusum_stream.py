"""Streaming CUSUM changepoint monitor — the stateful micro-batch twin
of ``operators/cusum.py``.

Why the recurrence form here: the batch operator uses the closed form
(prefix sum + running min windows) because a batch engine sees the
whole history; a stream cannot, but CUSUM's state IS its sufficient
statistic — carrying just ``(s_up, s_dn)`` per entity across
micro-batches reproduces the batch statistics EXACTLY, provided rows
arrive in event order per entity.  Values are quantized to the same
int64 ``floor(x*1e6 + 0.5)`` grid, so stream == batch is bit-equality,
not approximation (asserted in tests by slicing one input into
micro-batches along time and comparing against the batch operator).

Semantics per micro-batch and entity: rows sort by (ts_us, id) — the
batch operator's total order — then the recurrence

    up   = max(0, up   + (qv - target_up))
    down = max(0, down + (target_dn - qv))

advances once per row; every row emits its statistics and 0/1 alarms.
Out-of-order arrival ACROSS micro-batches is processed in arrival
order (state cannot rewind) — the standard monitoring contract; route
heavily late sources through the watermarked window pipeline instead.
NULL values carry no evidence and are dropped (cusum.py convention).

State: one ``(s_up, s_dn)`` int64 pair per entity in the streaming
checkpoint — O(distinct entities), restart-safe.  The sink reuses the
idempotent batch_id-partition pattern (at-least-once replays rewrite,
never duplicate).

Scale shape: ``applyInPandasWithState`` shuffles each micro-batch once
on the entity key; inside a group the recurrence is a NumPy loop over
the batch's rows only (state makes history O(1)).  A pathologically
hot entity serializes into one task — the sessionize.py salting caveat.

No reference counterpart (engine-original monitoring, SURVEY §2D/§2E
streaming family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from schemasaurus_spark.operators.cusum import FP_SCALE, quantize
from schemasaurus_spark.sources.io import write_batch

OUTPUT_SCHEMA = (
    "entity string, event_id bigint, ts_us bigint, value double, "
    "cusum_up_q bigint, cusum_down_q bigint, alarm_up bigint, "
    "alarm_down bigint"
)
STATE_SCHEMA = "s_up bigint, s_down bigint"


def _make_update_fn(q_ref_up: int, q_ref_dn: int, q_h: int):
    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        parts = [pdf for pdf in pdfs if len(pdf)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
        qv = np.floor(
            pdf["value"].to_numpy(dtype="float64") * FP_SCALE + 0.5
        ).astype("int64")

        s_up, s_dn = state.get if state.exists else (0, 0)
        ups = np.empty(len(qv), dtype="int64")
        dns = np.empty(len(qv), dtype="int64")
        for i, v in enumerate(qv):
            s_up = max(0, s_up + (int(v) - q_ref_up))
            s_dn = max(0, s_dn + (q_ref_dn - int(v)))
            ups[i] = s_up
            dns[i] = s_dn
        state.update((int(s_up), int(s_dn)))
        yield pd.DataFrame(
            {
                "entity": key[0],
                "event_id": pdf["event_id"].to_numpy(),
                "ts_us": pdf["ts_us"].to_numpy(),
                "value": pdf["value"].to_numpy(),
                "cusum_up_q": ups,
                "cusum_down_q": dns,
                "alarm_up": (ups > q_h).astype("int64"),
                "alarm_down": (dns > q_h).astype("int64"),
            }
        )

    return update


def cusum_stream_transform(
    stream: DataFrame,
    target: float,
    threshold: float,
    slack: float = 0.0,
    value_col: str = "value",
    ts_col: str = "ts",
    entity_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """streaming df -> per-event CUSUM statistic rows (stateful)."""
    if threshold <= 0:
        raise ValueError("threshold must be positive")
    keyed = stream.where(F.col(value_col).isNotNull()).select(
        F.col(entity_col).cast("string").alias("entity"),
        F.col(id_col).cast("long").alias("event_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"),
        F.col(value_col).cast("double").alias("value"),
    )
    fn = _make_update_fn(
        quantize(target) + quantize(slack),
        quantize(target) - quantize(slack),
        quantize(threshold),
    )
    return keyed.groupBy("entity").applyInPandasWithState(
        fn, OUTPUT_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
    )


def cusum_monitor_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    target: float,
    threshold: float,
    slack: float = 0.0,
    source_schema=None,
    trigger_available_now: bool = True,
    **cols,
):
    """Start the streaming CUSUM monitor; returns the StreamingQuery.

    Statistic rows land under ``out_dir/cusum/batch_id=<n>``; the
    entity state store lives in ``out_dir/_checkpoint``."""
    if source_schema is None:
        source_schema = spark.read.parquet(input_dir).schema
    stream = spark.readStream.schema(source_schema).parquet(input_dir)
    stats = cusum_stream_transform(
        stream, target, threshold, slack=slack, **cols
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(batch_df, batch_id, f"{out_dir}/cusum")

    writer = (
        stats.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
