"""Stateful streaming dedup: emit each normalized-text fingerprint's FIRST
occurrence across micro-batches, with per-key occurrence counts carried in
checkpointed state — the custom stateful operator path
(``applyInPandasWithState``) for a continuously-ingesting training-data
pipeline (dedup-at-the-edge: downstream consumers only ever see one copy).

State model: one row per fingerprint key holding the running occurrence
count.  A key's first micro-batch emits (fingerprint, doc_id,
n_occurrences) — doc_id is the minimum id seen in that batch (deterministic
representative) — and later batches only bump the count (emitting nothing),
so the output stream is exactly the first-seen set.  State lives in the
streaming checkpoint: a restart resumes with every previously-seen
fingerprint still marked seen.

The sink reuses the idempotent batch_id-partition pattern from
validate_stream, so at-least-once replays rewrite rather than duplicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from schemasaurus_spark.operators.text import fingerprint
from schemasaurus_spark.sources.io import write_batch

OUTPUT_SCHEMA = "fingerprint string, doc_id string, n_occurrences bigint"
STATE_SCHEMA = "n bigint"


def _first_seen(key, pdfs, state: GroupState):
    import pandas as pd

    total = 0
    best = None
    for pdf in pdfs:
        total += len(pdf)
        if len(pdf):
            m = pdf["doc_id"].min()
            best = m if best is None else min(best, m)
    if state.exists:
        (n,) = state.get
        state.update((n + total,))
        return  # key already emitted in an earlier batch
    state.update((total,))
    yield pd.DataFrame(
        {"fingerprint": [key[0]], "doc_id": [best], "n_occurrences": [total]}
    )


def first_seen_stream(stream: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """streaming df -> first-seen rows per fingerprint (stateful)."""
    keyed = stream.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("string").alias("doc_id"),
        fingerprint(F.col(text_col)).alias("fingerprint"),
    )
    return keyed.groupBy("fingerprint").applyInPandasWithState(
        _first_seen,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_schema=None,
    trigger_available_now: bool = True,
):
    """Start the streaming first-seen dedup; returns the StreamingQuery.

    Output parquet under ``out_dir/first_seen/batch_id=<n>``; streaming
    checkpoint (including the fingerprint state store) under
    ``out_dir/_checkpoint``."""
    if source_schema is None:
        source_schema = spark.read.parquet(input_dir).schema
    stream = spark.readStream.schema(source_schema).parquet(input_dir)
    firsts = first_seen_stream(stream, text_col, id_col)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(batch_df, batch_id, f"{out_dir}/first_seen")

    writer = (
        firsts.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
