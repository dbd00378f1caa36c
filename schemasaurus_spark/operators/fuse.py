"""Curation score fusion: combine heterogeneous per-document quality
signals (LM score, heuristic quality, host authority, length priors —
any numeric columns) into ONE deterministic 0..10000 score by
rank-normalizing each signal to basis points and taking a weighted
integer mean.

Why rank-normalize: the signals live on incomparable scales (log-probs,
ratios, fixed-point ranks); z-scoring needs float means/stds that no SQL
engine replays bit-for-bit and is ruined by heavy tails.  The midrank
percentile is scale-free, outlier-immune, and EXACT in integers:

    mid_bp(v) = ((2*n_lt + n_eq - 1) * 5000) DIV (n - 1)     (n > 1)

where n_lt / n_eq count rows below / at the value — 0 for the minimum,
10000 for the maximum, ties share their average rank (the Mann-Whitney
midrank, same convention as evaluate.auc_exact), everything int64.  A
single-row input scores 5000 (no rank information).  NULL signal values
get NULL bp and contribute NOTHING: the fused score reweights over the
signals that are present (NULL-heavy rows keep a fair score instead of
inheriting a fake one); rows with NO present signal fuse to NULL.

    fused_bp = sum(w_i * bp_i over present i) DIV sum(w_i over present i)

No reference counterpart: /root/reference is a JSON-Schema walker; this
is the §2E curation-pipeline scoring stage (FineWeb/DCLM-style filters
combine exactly such signals before thresholding).

Scale shape (10^12 docs): per signal, ONE map-side-combined
``groupBy(value)`` count (distinct-value table), then the EXACT
two-phase range-bucketed cumsum of operators/prefix.py over that table —
per-bucket partitioned windows + broadcast bucket offsets, NO
partition-less WindowExec, so a continuous double signal (distinct ~=
corpus) hash-distributes instead of serializing through one task — and
one join back on the value key.  Weights and thresholds stay integer
end-to-end, so downstream gates replay in any engine.  Int64 bound:
2*n*10000 must fit — fine to ~4*10^14 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schemasaurus_spark.operators.prefix import exclusive_prefix


def _rank_table(df: DataFrame, col: str, out: str) -> DataFrame:
    """(``_v``, ``out``): the midrank-bp lookup table of ``col``'s
    non-NULL values, built from ``df`` directly (NOT from any
    progressively-joined frame — see fuse_rank_scores)."""
    per = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("_v"))
        .agg(F.count(F.lit(1)).alias("_n_eq"))
    )
    ranked = exclusive_prefix(per, "_v", ["_n_eq"], ascending=True).select(
        "_v",
        "_n_eq",
        F.col("_cum__n_eq").alias("_n_lt"),
    ).crossJoin(
        per.agg(F.sum("_n_eq").alias("_n_all"))
    )
    return ranked.select(
        "_v",
        F.when(F.col("_n_all") > 1,
               F.expr("((2 * _n_lt + _n_eq - 1) * 5000) DIV (_n_all - 1)"))
        .otherwise(F.lit(5000))
        .alias(out),
    )


def rank_bp(df: DataFrame, col: str, out: str | None = None) -> DataFrame:
    """Append ``out`` (default ``<col>_bp``): the exact midrank basis
    points of ``col`` among its non-NULL values (NULL in -> NULL out)."""
    out = out or f"{col}_bp"
    ranked = _rank_table(df, col, out)
    return df.join(ranked, df[col] == ranked["_v"], "left").drop("_v")


def fuse_rank_scores(
    df: DataFrame, weights: dict, id_col: str = "doc_id", fused_col: str = "fused_bp"
) -> DataFrame:
    """(id, <col>_bp per signal, fused_bp): see module doc.  ``weights``
    maps signal column -> positive integer weight."""
    if not weights:
        raise ValueError("fuse_rank_scores: weights must name at least one column")
    bad = {c: w for c, w in weights.items() if int(w) <= 0}
    if bad:
        raise ValueError(f"fuse_rank_scores: weights must be positive ints: {bad}")
    if id_col in weights:
        raise ValueError(f"fuse_rank_scores: id_col {id_col!r} cannot also be a signal")
    # every signal's rank table derives from the SAME thin base projection
    # — never from the progressively-joined frame (round-5 review: that
    # chaining made signal k's eager bounds pass re-run all k-1 prior
    # rank joins, O(k^2) corpus work; now each bounds pass costs one
    # groupBy over the base projection)
    base = df.select(id_col, *weights)
    out = base
    for c in weights:
        ranked = _rank_table(base, c, f"{c}_bp")
        out = out.join(ranked, out[c] == ranked["_v"], "left").drop("_v")
    num = None
    den = None
    for c, w in weights.items():
        bp = F.col(f"{c}_bp")
        term = F.when(bp.isNotNull(), bp * F.lit(int(w))).otherwise(F.lit(0))
        wt = F.when(bp.isNotNull(), F.lit(int(w))).otherwise(F.lit(0))
        num = term if num is None else num + term
        den = wt if den is None else den + wt
    fused = F.when(den > 0, F.expr(f"_fuse_num DIV _fuse_den"))
    return (
        out.withColumn("_fuse_num", num.cast("long"))
        .withColumn("_fuse_den", den.cast("long"))
        .select(
            id_col,
            *[f"{c}_bp" for c in weights],
            fused.alias(fused_col),
        )
    )
