"""Distribution-drift checks against a baseline snapshot (SURVEY.md §2D):

* Kolmogorov-Smirnov over numeric columns — the cluster aggregates an
  approximate quantile vector (one pass, mergeable sketch); the KS statistic
  between the two quantile-vector ECDFs is O(probes) driver-side math.
* chi-square over categorical columns — the cluster computes category
  counts (map-side-combinable groupBy); the statistic is driver-side numpy.

No scipy dependency: the statistic + asymptotic significance are computed
directly (KS via the Kolmogorov distribution series, chi-square via the
regularized upper incomplete gamma).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schemasaurus_spark.operators.stats import category_counts, quantile_vector


def ks_statistic_from_quantiles(q_base: list[float], q_cur: list[float], probs: list[float]) -> float:
    """KS statistic between two distributions summarized by quantile vectors
    sampled at the same probability grid.

    The ECDF of each side is known exactly at its own quantile points
    (ECDF(q_i) = p_i); the max discrepancy is evaluated over the merged grid
    by inverting the opposite side's quantile vector with a step
    interpolation.  Resolution is bounded by the grid spacing — use a dense
    grid (p=0.01..0.99) for tight estimates."""

    def ecdf(qs, x):
        # fraction of probability mass at or below x per the quantile vector
        lo = 0.0
        for p, q in zip(probs, qs):
            if q <= x:
                lo = p
            else:
                break
        return lo

    xs = sorted(set(q_base) | set(q_cur))
    return max(abs(ecdf(q_base, x) - ecdf(q_cur, x)) for x in xs) if xs else 0.0


def ks_significance(stat: float, n1: float, n2: float) -> float:
    """Two-sample asymptotic KS p-value (Kolmogorov distribution series)."""
    if stat <= 0:
        return 1.0
    en = math.sqrt(n1 * n2 / (n1 + n2))
    lam = (en + 0.12 + 0.11 / en) * stat
    s = 0.0
    for j in range(1, 101):
        term = 2 * (-1) ** (j - 1) * math.exp(-2 * j * j * lam * lam)
        s += term
        if abs(term) < 1e-10:
            break
    return max(0.0, min(1.0, s))


def _gammainc_upper_reg(s: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(s, x): series for x < s+1,
    modified-Lentz continued fraction otherwise."""
    if x <= 0 or s <= 0:
        return 1.0
    if x < s + 1:
        # P(s,x) by lower series, Q = 1 - P
        term = 1.0 / s
        total = term
        for k in range(1, 1000):
            term *= x / (s + k)
            total += term
            if abs(term) < abs(total) * 1e-14:
                break
        p = total * math.exp(-x + s * math.log(x) - math.lgamma(s))
        return max(0.0, min(1.0, 1.0 - p))
    # Q(s,x) by continued fraction (modified Lentz)
    tiny = 1e-300
    b = x + 1.0 - s
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, 1000):
        an = -i * (i - s)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-14:
            break
    q = math.exp(-x + s * math.log(x) - math.lgamma(s)) * h
    return max(0.0, min(1.0, q))


def chi_square_pvalue(stat: float, dof: int) -> float:
    if dof <= 0:
        return 1.0
    return _gammainc_upper_reg(dof / 2.0, stat / 2.0)


def _null_first(cell) -> tuple:
    """Sort key for count-map cells that may hold a NULL (``None``) cell."""
    return (cell is not None, cell)


def chi_square_from_counts(base: dict[str, int], cur: dict[str, int]) -> tuple[float, int]:
    """Pearson chi-square homogeneity statistic between two category-count
    maps (2 x K contingency table).  Returns (statistic, dof).  A NULL
    category (``None`` key) is a category of its own, sorted first."""
    cats = sorted(set(base) | set(cur), key=_null_first)
    n1 = sum(base.values())
    n2 = sum(cur.values())
    total = n1 + n2
    stat = 0.0
    k_eff = 0
    for c in cats:
        o1 = base.get(c, 0)
        o2 = cur.get(c, 0)
        col = o1 + o2
        if col == 0:
            continue
        k_eff += 1
        e1 = n1 * col / total
        e2 = n2 * col / total
        if e1 > 0:
            stat += (o1 - e1) ** 2 / e1
        if e2 > 0:
            stat += (o2 - e2) ** 2 / e2
    return stat, max(k_eff - 1, 1)


PSI_SMOOTH = 0.5


def psi_from_counts(base: dict, cur: dict, cells: list | None = None) -> float:
    """Population Stability Index between two count maps over the SAME
    cell space (histogram bins or category values).

    ``psi = sum_i (p_i - q_i) * ln(p_i / q_i)`` with Laplace smoothing
    ``p_i = (c_i + 0.5) / (n + 0.5 * K)`` so empty cells are well-defined
    (the industry eps-substitution made deterministic).  ``cells``
    defaults to the union of observed keys — pass the full bin range
    explicitly when absent bins must contribute (they do whenever the two
    sides' totals differ).  Rule of thumb: <0.1 stable, 0.1-0.25 moderate
    shift, >0.25 major shift."""
    cs = list(cells) if cells is not None else sorted(set(base) | set(cur), key=_null_first)
    k = len(cs)
    if k == 0:
        return 0.0
    n1 = sum(base.values())
    n2 = sum(cur.values())
    d1 = n1 + PSI_SMOOTH * k
    d2 = n2 + PSI_SMOOTH * k
    psi = 0.0
    for c in cs:
        p = (base.get(c, 0) + PSI_SMOOTH) / d1
        q = (cur.get(c, 0) + PSI_SMOOTH) / d2
        psi += (p - q) * math.log(p / q)
    return psi


def psi_statistic(
    df: DataFrame,
    value_col: str,
    is_base,
    lo: float,
    width: float,
    n_bins: int,
) -> DataFrame:
    """In-engine PSI of a numeric column between two row subsets over a
    FROZEN literal grid: one row ``(psi, n_base, n_cur)``.

    Shape: one map-side-combined groupBy over bin ids (output rows =
    ``n_bins``, independent of input size), a ``spark.range(n_bins)``
    left join so empty bins contribute their smoothed term, then a single
    scalar aggregate — the same mergeable-histogram design as
    ``snapshot.py``'s frozen grid, with all arithmetic (floor/clamp,
    Laplace ``+0.5`` smoothing, ``ln``) in IEEE doubles so a SQL engine
    reproduces the statistic bit-for-bit at 6-decimal rounding.

    Values below ``lo`` clamp into bin 0 and values past the grid into
    bin ``n_bins - 1`` — underflow/overflow mass is counted, not
    dropped (same policy as snapshot.py's frozen grid)."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    if not width > 0:
        raise ValueError(f"width must be positive, got {width}")
    spark = df.sparkSession
    val = F.col(value_col).cast("double")
    bin_id = F.least(
        F.greatest(F.floor((val - F.lit(float(lo))) / F.lit(float(width))), F.lit(0)),
        F.lit(n_bins - 1),
    )
    counts = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(bin_id.alias("bin"))
        .agg(
            F.sum(is_base.cast("long")).alias("c1"),
            F.sum((~is_base).cast("long")).alias("c2"),
        )
    )
    full = (
        spark.range(n_bins)
        .select(F.col("id").alias("bin"))
        .join(counts, "bin", "left")
        .select(
            F.coalesce(F.col("c1"), F.lit(0)).alias("c1"),
            F.coalesce(F.col("c2"), F.lit(0)).alias("c2"),
        )
    )
    tot = full.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    s = F.lit(PSI_SMOOTH)
    kd = F.lit(float(n_bins))
    p = (F.col("c1").cast("double") + s) / (F.col("n1").cast("double") + s * kd)
    q = (F.col("c2").cast("double") + s) / (F.col("n2").cast("double") + s * kd)
    return (
        full.crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
            F.max("n1").alias("n_base"),
            F.max("n2").alias("n_cur"),
        )
    )


DEFAULT_PROBS = [i / 100.0 for i in range(1, 100)]


def exact_ks_statistic(df: DataFrame, value_col: str, is_base) -> DataFrame:
    """EXACT two-sample KS statistic, fully in-engine: one row
    ``(ks_statistic, n_base, n_cur)``.

    ``is_base`` is a boolean Column splitting rows into base vs current.
    Shape: groupBy value (map-side combine shrinks input to |distinct|
    values) -> cumulative counts over value order -> max |ECDF1 - ECDF2|.
    The cumulative window is a single-reducer global sort over DISTINCT
    values — exactness anchor for bounded-cardinality measures; the
    unbounded-cardinality scale path is the mergeable frozen-grid binned
    KS in ``operators/snapshot.py``, which this cross-checks at grid
    resolution."""
    from pyspark.sql import Window

    counts = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(value_col)
        .agg(
            F.sum(is_base.cast("long")).alias("c1"),
            F.sum((~is_base).cast("long")).alias("c2"),
        )
    )
    tot = counts.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    w = Window.orderBy(value_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = counts.select(
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    ).crossJoin(F.broadcast(tot))
    return cum.agg(
        F.round(
            F.max(F.abs(F.col("cum1") / F.col("n1") - F.col("cum2") / F.col("n2"))), 6
        ).alias("ks_statistic"),
        F.max("n1").alias("n_base"),
        F.max("n2").alias("n_cur"),
    )


def ks_drift(base_df: DataFrame, cur_df: DataFrame, col: str,
             probs: list[float] | None = None, alpha: float = 0.05) -> dict:
    """Full KS drift check between two DataFrames on a numeric column."""
    probs = probs or DEFAULT_PROBS
    qb = quantile_vector(base_df, col, probs)
    qc = quantile_vector(cur_df, col, probs)
    n1 = base_df.count()
    n2 = cur_df.count()
    stat = ks_statistic_from_quantiles(qb, qc, probs)
    p = ks_significance(stat, n1, n2)
    return {"statistic": stat, "p_value": p, "drifted": p < alpha, "n_base": n1, "n_cur": n2}


def chi_square_drift(base_df: DataFrame, cur_df: DataFrame, col: str, alpha: float = 0.05) -> dict:
    """Full chi-square drift check on a categorical column."""
    base = {r["category"]: r["cnt"] for r in category_counts(base_df, col).collect()}
    cur = {r["category"]: r["cnt"] for r in category_counts(cur_df, col).collect()}
    stat, dof = chi_square_from_counts(base, cur)
    p = chi_square_pvalue(stat, dof)
    return {"statistic": stat, "dof": dof, "p_value": p, "drifted": p < alpha}


def embedding_centroid_sums(
    df: DataFrame, vec_col: str, scale_bits: int = 20
) -> DataFrame:
    """Exact, order-invariant centroid sufficient statistics of an
    embedding column: per dimension ``(pos, s, n)`` where
    ``s = SUM(floor(x * 2^scale_bits))`` as decimal(38,0).

    Floats sum order-dependently (a 10^12-row float centroid is
    unverifiable at the ulp level); quantizing each component FIRST —
    float32→double cast is exact, the power-of-two multiply is exact,
    floor is exact — makes every partial sum an integer, so runs,
    partitionings, and engines agree bit-for-bit.  2^20 keeps quantization
    error at ~1e-6 per component, below the engine-parity rounding
    already applied downstream.  Bound: |s| < 2^(21+scale_bits) · n_rows
    — decimal(38,0) holds 10^12 rows with >10^10 headroom.

    Scale shape: posexplode + groupBy(pos) — a BOUNDED key domain (the
    embedding dimension), so map-side combine collapses each partition
    to dim rows and the shuffle moves partitions x dim thin rows."""
    return (
        df.select(F.posexplode(vec_col).alias("pos", "_x"))
        .select(
            "pos",
            F.floor(F.col("_x").cast("double") * (1 << scale_bits))
            .cast("decimal(38,0)")
            .alias("_q"),
        )
        .groupBy("pos")
        .agg(F.sum("_q").alias("s"), F.count(F.lit(1)).alias("n"))
    )


def embedding_centroid_profile(
    base_df: DataFrame,
    cur_df: DataFrame,
    vec_col: str,
    scale_bits: int = 20,
) -> DataFrame:
    """Per-dimension centroid drift between two corpora:
    ``(pos, n_base, n_cur, centroid_base, centroid_cur, delta)`` — the
    EMBEDDING member of the drift family (values: KS/chi²/PSI; shape:
    schema profile; volume: bucket counts; semantics: this).  A corpus
    whose topic mix moved shows up here before any single column does.

    Parity discipline: every float is produced per-dimension by a single
    IEEE chain over the exact integer sums (divide, round-6; delta =
    round(cur − base, 6)) — there is deliberately NO cross-dimension
    float fold in this output, so the whole table hash-matches across
    engines.  Cross-dimension scalars (cosine, L2) live in
    ``embedding_centroid_summary`` with a deterministic ordered fold,
    pytest-checked against numpy rather than oracle-hashed."""
    b = embedding_centroid_sums(base_df, vec_col, scale_bits).alias("b")
    c = embedding_centroid_sums(cur_df, vec_col, scale_bits).alias("c")
    denom = float(1 << scale_bits)
    cb = F.round(F.col("b.s").cast("double") / (F.col("b.n") * denom), 6)
    cc = F.round(F.col("c.s").cast("double") / (F.col("c.n") * denom), 6)
    return (
        b.join(c, F.col("b.pos") == F.col("c.pos"), "full")
        .select(
            F.coalesce(F.col("b.pos"), F.col("c.pos")).alias("pos"),
            F.coalesce(F.col("b.n"), F.lit(0)).alias("n_base"),
            F.coalesce(F.col("c.n"), F.lit(0)).alias("n_cur"),
            cb.alias("centroid_base"),
            cc.alias("centroid_cur"),
            F.round(cc - cb, 6).alias("delta"),
        )
    )


def embedding_centroid_summary(profile: DataFrame) -> DataFrame:
    """One-row reduction of ``embedding_centroid_profile``:
    ``(dims, cosine, l2, max_abs_delta, max_delta_pos)``.  The dot/norm
    folds run over an array SORTED by pos (deterministic left-to-right
    IEEE order — a plain float aggregate would be partition-order
    dependent); cosine is NULL when either centroid is the zero vector."""
    arr = F.sort_array(
        F.collect_list(F.struct("pos", "centroid_base", "centroid_cur", "delta"))
    )
    folded = profile.agg(
        F.count(F.lit(1)).alias("dims"),
        arr.alias("_a"),
        F.max_by("pos", F.abs("delta")).alias("max_delta_pos"),
        F.round(F.max(F.abs("delta")), 6).alias("max_abs_delta"),
    )

    def fold(expr: str) -> F.Column:
        return F.expr(
            f"aggregate(transform(_a, s -> CAST({expr} AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        )

    dot = fold("s.centroid_base * s.centroid_cur")
    nb = F.sqrt(fold("s.centroid_base * s.centroid_base"))
    nc = F.sqrt(fold("s.centroid_cur * s.centroid_cur"))
    return folded.select(
        "dims",
        F.when((nb > 0) & (nc > 0), F.round(dot / (nb * nc), 6)).alias("cosine"),
        F.round(F.sqrt(fold("s.delta * s.delta")), 6).alias("l2"),
        "max_abs_delta",
        "max_delta_pos",
    )
