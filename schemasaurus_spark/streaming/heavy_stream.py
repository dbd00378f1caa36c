"""Streaming heavy hitters: a Misra-Gries sketch maintained across
micro-batches — the continuous twin of ``operators/heavy.py``.

The batch operator gets EXACT counts from a second verify scan; a
stream has no second scan, so this keeps the classic bounded sketch
instead, with the merge rule whose error analysis is Agarwal et al.
(PODS'12): per batch, combine the carried sketch with the batch's
EXACT counts (a micro-batch is bounded — ``groupBy`` is fine there),
and if more than ``k-1`` items remain, subtract the k-th largest
combined value from every counter and drop the non-positive ones (at
most ``k-1`` values are strictly greater than the k-th largest, so the
bound holds deterministically, ties included).

Guarantees carried across any number of batches (standard MG
invariants):

* undercount only: ``est <= f_true <= est + n/k`` for every item;
* superset: every TRUE heavy hitter (``f > n/k``) has a positive
  counter — it cannot be evicted, because total decrement mass per
  item never exceeds n/k;
* certainty: a reported item with ``est > n/k`` is PROVABLY heavy
  (est never exceeds f) — the per-batch report flags exactly those.

State model: the durable artifact IS the sink (the bloom_stream
pattern — nothing in the state store): the post-merge sketch lands
under ``sketch/batch_id=<n>`` (<= k-1 rows + the running total), and
batch b rebuilds from the newest sketch with ``batch_id < b`` — so a
replayed batch never sees its own pre-crash output and at-least-once
replays rewrite rather than double-merge.  Reports land under
``report/batch_id=<n>``.

Scale shape: per batch one map-side-combined ``groupBy`` over the
micro-batch plus a driver-side merge of two <= (k-1)-row tables
(metadata-sized; collected deliberately).  Sketch size is O(k)
REGARDLESS of stream length or key domain.

No reference counterpart (engine-original monitoring machinery).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from schemasaurus_spark.sources.io import write_batch

__all__ = ["merge_mg", "heavy_hitters_stream"]


def merge_mg(
    carried: list[tuple[str, int]], batch: list[tuple[str, int]], k: int
) -> list[tuple[str, int]]:
    """Deterministic Misra-Gries merge of two (item, count) lists,
    bounded at k-1 counters.  Pure function — unit-testable without
    Spark."""
    combined: dict[str, int] = {}
    for item, c in carried:
        combined[item] = combined.get(item, 0) + int(c)
    for item, c in batch:
        combined[item] = combined.get(item, 0) + int(c)
    if len(combined) <= k - 1:
        return sorted(combined.items())
    excess = sorted(combined.values(), reverse=True)[k - 1]
    return sorted(
        (item, c - excess) for item, c in combined.items() if c - excess > 0
    )


def heavy_hitters_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    col: str,
    k: int,
    source_schema=None,
    trigger_available_now: bool = True,
):
    """Start the streaming MG heavy-hitter monitor; returns the query.

    Per batch: ``report/batch_id=<n>`` rows ``(item, est_count,
    n_total, certain)`` and the durable ``sketch/batch_id=<n>``."""
    if k < 2:
        raise ValueError("k must be >= 2")
    if source_schema is None:
        source_schema = spark.read.parquet(input_dir).schema
    stream = spark.readStream.schema(source_schema).parquet(input_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_counts = [
            (r[0], r[1])
            for r in batch_df.where(F.col(col).isNotNull())
            .groupBy(F.col(col).cast("string").alias("item"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        ]
        n_batch = sum(c for _, c in batch_counts)

        carried: list[tuple[str, int]] = []
        n_prior = 0
        try:
            prior = spark.read.parquet(f"{out_dir}/sketch").where(
                F.col("batch_id") < batch_id
            )
            newest = prior.agg(F.max("batch_id")).first()[0]
            if newest is not None:
                rows = prior.where(F.col("batch_id") == newest).collect()
                carried = [(r.item, r.est_count) for r in rows]
                n_prior = rows[0].n_total if rows else 0
        except Exception:
            pass  # first batch: no sketch yet

        merged = merge_mg(carried, batch_counts, k)
        n_total = n_prior + n_batch
        threshold = n_total / k

        sketch_rows = [
            (item, int(c), int(n_total)) for item, c in merged
        ] or [(None, 0, int(n_total))]
        write_batch(
            spark.createDataFrame(
                sketch_rows, "item string, est_count long, n_total long"
            ),
            batch_id,
            f"{out_dir}/sketch",
        )
        report_rows = [
            (item, int(c), int(n_total), bool(c > threshold))
            for item, c in merged
            if item is not None
        ]
        if report_rows:
            write_batch(
                spark.createDataFrame(
                    report_rows,
                    "item string, est_count long, n_total long, certain boolean",
                ),
                batch_id,
                f"{out_dir}/report",
            )

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
