"""Exact distributed prefix sums WITHOUT a global single-task sort — the
two-phase range-bucketed cumulative sum that replaces every
``Window.orderBy(...)`` (no partitionBy) the engine used to run over
distinct-value tables (fuse.rank_bp, evaluate.pr_curve/auc_exact/
calibration_table).

Why: a partition-less WindowExec serializes its whole input through ONE
task.  For quantized signals the distinct-value table is bounded and that
was tolerable; for a continuous double signal (lm_quality_score,
punct_ratio — exactly what score fusion fuses) distinct ~= corpus and the
"metadata-sized" frame silently becomes a corpus-sized single-task sort.
The engine's discipline is to design the cliff out, not document it
(round-4 verdict, next-round item #1).

How (exact, no approximation in the RESULT):

1. **Range-bucket** the ordering column into ``n_buckets`` equal-mass
   ranges using approx_percentile bounds computed over the input (one
   tiny aggregate; bounds are collected — B-1 scalars, metadata-sized).
   The bounds only steer load balance: ANY monotone bucketing yields the
   same exact prefix sums, so approx_percentile's approximation never
   touches the output.
2. **Local pass**: per-bucket PARTITIONED window cumsum
   (``partitionBy(bucket).orderBy(value)``) — hash-distributed across
   the cluster, each task sorts ~1/B of the distinct values.
3. **Offsets**: per-bucket totals (``groupBy(bucket)`` — map-side
   combined, <= B rows), then each bucket's starting offset as a
   broadcast theta-join against the strictly-earlier buckets (B^2 pairs,
   <= 1024^2 at the default cap — a BroadcastNestedLoopJoin over two
   metadata frames) — no window at all, so the plan lint's GLOBAL_WINDOW
   rule stays silent by construction rather than by allowlist.
4. **Add back**: broadcast-join offsets on bucket id; exclusive prefix =
   local exclusive cumsum + bucket offset.  All int64, bit-identical to
   the single-window formulation.

Scale shape at 10^12 docs: the input here is already the per-distinct-
value aggregate of a corpus pass; this module adds one B-way hash
shuffle of that table (vs. ONE task before), two metadata-sized
broadcast joins, and a driver-side collect of B-1 percentile bounds.

Ordering-column values must be DISTINCT (these are group-by-value
tables), so the within-bucket sort is a total order and the row-frame
cumsum is deterministic.

No reference counterpart (engine-internal utility; the reference is a
single-value JSON-Schema walker).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import broadcast

from schemasaurus_spark.operators.dedup import _pin

__all__ = ["exclusive_prefix"]


def exclusive_prefix(
    per: DataFrame,
    order_col: str,
    sum_cols: list[str],
    ascending: bool = True,
    n_buckets: int | None = None,
    out_prefix: str = "_cum_",
) -> DataFrame:
    """Append ``<out_prefix><c>`` for each ``c`` in ``sum_cols``: the EXACT
    exclusive prefix sum of ``c`` over rows strictly before this row in
    ``order_col`` order (``ascending=False`` orders descending).  Requires
    distinct ``order_col`` values (per-distinct-value tables).

    ``n_buckets`` defaults to ``clamp(2 * defaultParallelism, 64, 1024)``:
    the bucketed-cumsum stage runs ONE task per bucket, so a fixed small B
    would cap that stage's parallelism on a large cluster (64 tasks on
    1000 executors); 2x total cores keeps every executor busy while the
    offsets theta-join stays <= 1024^2 broadcast pairs.

    Cost note: the bounds aggregate evaluates ``per`` BEFORE the main
    job — the same sample-then-shuffle shape as Spark's own
    ``repartitionByRange`` (RangePartitioner's sampling pass).  ``per``
    is pinned (dedup._pin: MEMORY_AND_DISK, released by an enclosing
    ``pin_scope`` or LRU — the LSH family's idiom), so the bounds job
    MATERIALIZES the cache and the main job reads it instead of
    recomputing the lineage.

    Only numeric, date and timestamp order columns get percentile bounds
    (``percentile_approx`` casts anything else to double and fails).  Any
    other order column, a string for one, runs as ONE bucket: the cumsum
    stage is then a single task over the whole table, the cost this module
    exists to avoid, so keep such tables metadata-sized."""
    if n_buckets is None:
        par = per.sparkSession.sparkContext.defaultParallelism
        n_buckets = max(64, min(1024, 2 * par))
    if n_buckets < 1:
        raise ValueError(f"exclusive_prefix: n_buckets must be >= 1, got {n_buckets}")

    # ---- 1. equal-mass range bounds (metadata collect; balance-only);
    # pin first so this job builds the cache the main plan reuses
    per = _pin(per)
    bounds: list = []
    rangeable = (T.NumericType, T.DateType, T.TimestampType)
    if n_buckets > 1 and isinstance(per.schema[order_col].dataType, rangeable):
        fracs = [i / n_buckets for i in range(1, n_buckets)]
        row = per.agg(
            F.percentile_approx(F.col(order_col), F.lit(fracs), F.lit(10000))
        ).collect()[0]
        if row[0] is not None:
            seen = set()
            for b in row[0]:
                if b is not None and b not in seen:
                    seen.add(b)
                    bounds.append(b)

    v = F.col(order_col)
    if bounds:
        # bucket = count of bounds strictly below v, via a FIXED-DEPTH
        # binary search over the sorted literal bounds array (the
        # arrays.py idiom): O(log B) per row instead of an O(B) chain of
        # B-1 CASE branches — which at the parallelism-scaled default
        # (up to 1023 bounds) would be ~1023 comparisons per row of a
        # corpus-sized table and risk the 64KB codegen method cliff
        # (round-5 review finding).  lower_bound loop: first index in
        # [1, nb+1] whose bound >= v; that index minus 1 is the bucket.
        arr = F.array(*[F.lit(b) for b in bounds])
        nb = len(bounds)
        steps = (nb + 1).bit_length()

        def bsearch_step(acc: Column, _i: Column) -> Column:
            lo, hi = acc["lo"], acc["hi"]
            live = lo < hi
            mid = F.floor((lo + hi) / 2).cast("int")
            less = F.element_at(arr, mid) < v
            return F.when(~live, acc).otherwise(
                F.struct(
                    F.when(less, mid + 1).otherwise(lo).alias("lo"),
                    F.when(less, hi).otherwise(mid).alias("hi"),
                )
            )

        init = F.struct(
            F.lit(1).cast("int").alias("lo"),
            F.lit(nb + 1).cast("int").alias("hi"),
        )
        bkt = F.aggregate(
            F.sequence(F.lit(1), F.lit(steps)),
            init,
            bsearch_step,
            lambda acc: acc["lo"] - 1,
        )
    else:
        bkt = F.lit(0)
    d = per.withColumn("_pfx_bkt", bkt.cast("int"))

    # ---- 2. per-bucket partitioned exclusive cumsum
    order = v.asc() if ascending else v.desc()
    w = Window.partitionBy("_pfx_bkt").orderBy(order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    for c in sum_cols:
        d = d.withColumn(
            f"_pfx_loc_{c}", F.coalesce(F.sum(c).over(w), F.lit(0)).cast("long")
        )

    # ---- 3. bucket offsets via broadcast theta-join (<= B^2 pairs)
    tot = d.groupBy("_pfx_bkt").agg(
        *[F.sum(c).cast("long").alias(f"_pfx_t_{c}") for c in sum_cols]
    )
    earlier = tot.select(
        F.col("_pfx_bkt").alias("_pfx_bkt_b"),
        *[F.col(f"_pfx_t_{c}").alias(f"_pfx_b_{c}") for c in sum_cols],
    )
    cond = (
        earlier["_pfx_bkt_b"] < tot["_pfx_bkt"]
        if ascending
        else earlier["_pfx_bkt_b"] > tot["_pfx_bkt"]
    )
    offs = (
        tot.join(broadcast(earlier), cond, "left")
        .groupBy("_pfx_bkt")
        .agg(
            *[
                F.coalesce(F.sum(f"_pfx_b_{c}"), F.lit(0)).alias(f"_pfx_o_{c}")
                for c in sum_cols
            ]
        )
    )

    # ---- 4. local + offset = global exclusive prefix
    out = d.join(broadcast(offs), "_pfx_bkt", "left")
    for c in sum_cols:
        out = out.withColumn(
            f"{out_prefix}{c}",
            (F.col(f"_pfx_loc_{c}") + F.coalesce(F.col(f"_pfx_o_{c}"), F.lit(0))).cast(
                "long"
            ),
        )
    drop = (
        ["_pfx_bkt"]
        + [f"_pfx_loc_{c}" for c in sum_cols]
        + [f"_pfx_o_{c}" for c in sum_cols]
    )
    return out.drop(*drop)
