"""Mergeable baseline stats snapshots + drift against them.

North-rule coverage (BASELINE.json): "KS/chi-square distribution-drift
checks against a baseline stats snapshot" and "resumable from checkpointed
per-partition lineage + metrics manifests".  ``operators/drift.py`` holds
the statistics; this module makes the *snapshot* a first-class, mergeable
artifact so drift never rescans the baseline corpus.

A snapshot of a corpus slice is a small parquet dataset with three parts:

* ``columns/``    one row per tracked column: ``(column, kind, n, n_null,
  min_s, max_s, hll)`` — ``hll`` is a Datasketches HyperLogLog sketch
  (``hll_sketch_agg``), the 100 TB distinct-count path, stored as binary so
  later snapshots UNION it instead of recounting.
* ``bins/``       per numeric column: counts on a FIXED bin grid.  The grid
  (lo, hi, n_bins — recorded in ``grid/``) is frozen when the baseline is
  written; every later snapshot of new data histograms onto the same edges.
* ``categories/`` per categorical column: ``(column, value, cnt)``.

Why this shape at 100 TB: every component is an algebraic aggregate —
HLL register-max, bin-count sum, category-count sum, min-of-mins,
max-of-maxes, count sums — so per-unit snapshots written by the resumable
runner merge into the corpus snapshot with a metadata-sized shuffle and NO
rescan of data files, and the baseline side of a drift check is never read
again at all.  Each snapshot pass itself is one scan: a single ``agg`` for
``columns/`` plus one map-side-combinable groupBy per histogram family.

Drift (``drift_vs_snapshot``): numeric columns get a two-sample KS test on
the binned ECDFs (resolution = bin width; exact given the shared grid),
categorical columns get the chi-square from ``drift.py``; both report the
statistic, p-value, and null-rate / distinct-estimate deltas.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from schemasaurus_spark.operators.drift import (
    chi_square_from_counts,
    chi_square_pvalue,
    ks_significance,
    psi_from_counts,
)
from schemasaurus_spark.sources.io import local_frame

_BINS_DDL = "column string, bin int, cnt long"
_CATS_DDL = "column string, value string, cnt long"
_GRID_DDL = "column string, lo double, hi double, n_bins int"


@dataclass(frozen=True)
class SnapshotSpec:
    """Which columns to track, and at what sketch resolution."""

    numeric: tuple = ()
    categorical: tuple = ()
    n_bins: int = 256
    lg_k: int = 12  # HLL registers = 2^lg_k (~1.6% rsd at 12)

    def __post_init__(self):
        # an empty spec would hand df.agg() zero aggregates (a confusing
        # engine error three frames deep), and a column tracked as BOTH
        # kinds would emit duplicate aliases in the wide aggregate
        if not self.numeric and not self.categorical:
            raise ValueError(
                "SnapshotSpec tracks no columns — pass numeric=... and/or "
                "categorical=..."
            )
        both = set(self.numeric) & set(self.categorical)
        if both:
            raise ValueError(
                f"column(s) {sorted(both)} listed as both numeric and "
                "categorical — a column has exactly one kind"
            )


@dataclass
class Snapshot:
    columns: DataFrame
    bins: DataFrame
    categories: DataFrame
    grid: dict = field(default_factory=dict)  # col -> (lo, hi, n_bins)


def _columns_part(df: DataFrame, spec: SnapshotSpec) -> DataFrame:
    rows = []
    aggs = []
    for kind, cols in (("numeric", spec.numeric), ("categorical", spec.categorical)):
        for c in cols:
            # sketch the string form: hll_sketch_agg accepts int/long/string/
            # binary but not double, and the cast keeps one deterministic
            # code path for every column type
            aggs += [
                F.count(F.lit(1)).alias(f"{c}__n"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
                F.min(c).cast("string").alias(f"{c}__min"),
                F.max(c).cast("string").alias(f"{c}__max"),
                F.hll_sketch_agg(F.col(c).cast("string"), F.lit(spec.lg_k)).alias(
                    f"{c}__hll"
                ),
            ]
            rows.append((c, kind))
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.lit(kind).alias("kind"),
            F.col(f"{c}__n").alias("n"),
            F.col(f"{c}__nulls").alias("n_null"),
            F.col(f"{c}__min").alias("min_s"),
            F.col(f"{c}__max").alias("max_s"),
            F.col(f"{c}__hll").alias("hll"),
        )
        for c, kind in rows
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def _default_grid(df: DataFrame, spec: SnapshotSpec) -> dict:
    """Freeze bin edges from the data's min/max (baseline-time only)."""
    if not spec.numeric:
        return {}
    row = df.agg(
        *[F.min(c).cast("double").alias(f"{c}__lo") for c in spec.numeric],
        *[F.max(c).cast("double").alias(f"{c}__hi") for c in spec.numeric],
    ).first()
    grid = {}
    for c in spec.numeric:
        lo, hi = row[f"{c}__lo"], row[f"{c}__hi"]
        if lo is None:  # all-null column
            lo, hi = 0.0, 1.0
        if hi <= lo:
            hi = lo + 1.0
        grid[c] = (float(lo), float(hi), spec.n_bins)
    return grid


def _bins_part(df: DataFrame, grid: dict) -> DataFrame:
    """Fixed-grid bin counts for every numeric column, one scan.

    ``width_bucket`` maps values to 1..n_bins with 0 / n_bins+1 overflow
    buckets, so data outside the frozen baseline range is still counted
    (it lands in the edge buckets and shows up as drift, not as loss)."""
    parts = []
    for c, (lo, hi, n_bins) in grid.items():
        parts.append(
            F.struct(
                F.lit(c).alias("column"),
                F.when(
                    F.col(c).isNull(), F.lit(None).cast("int")
                ).otherwise(
                    F.width_bucket(
                        F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_bins)
                    ).cast("int")
                ).alias("bin"),
            )
        )
    if not parts:
        return None
    return (
        df.select(F.explode(F.array(*parts)).alias("s"))
        .select("s.*")
        .where(F.col("bin").isNotNull())
        .groupBy("column", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _categories_part(df: DataFrame, spec: SnapshotSpec) -> DataFrame:
    parts = [
        F.struct(F.lit(c).alias("column"), F.col(c).cast("string").alias("value"))
        for c in spec.categorical
    ]
    if not parts:
        return None
    return (
        df.select(F.explode(F.array(*parts)).alias("s"))
        .select("s.*")
        .groupBy("column", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def compute_snapshot(df: DataFrame, spec: SnapshotSpec, grid: dict | None = None) -> Snapshot:
    """Snapshot ``df``.  Pass the baseline's ``grid`` when snapshotting new
    data so bin counts stay mergeable/comparable; omit it for a baseline."""
    if grid is None:
        grid = _default_grid(df, spec)
    spark = df.sparkSession
    return Snapshot(
        columns=_columns_part(df, spec),
        bins=_bins_part(df, grid) if grid else local_frame(spark, [], _BINS_DDL),
        categories=(
            _categories_part(df, spec)
            if spec.categorical
            else local_frame(spark, [], _CATS_DDL)
        ),
        grid=grid,
    )


def write_grid(spark: SparkSession, grid: dict, path: str) -> None:
    """Persist a bin grid (column -> (lo, hi, n_bins)) as one parquet file."""
    rows = [(c, lo, hi, nb) for c, (lo, hi, nb) in grid.items()]
    local_frame(spark, rows, _GRID_DDL).coalesce(1).write.mode("overwrite").parquet(path)


def read_grid(spark: SparkSession, path: str) -> dict:
    return {r.column: (r.lo, r.hi, r.n_bins) for r in spark.read.parquet(path).collect()}


def write_snapshot(
    df: DataFrame, spec: SnapshotSpec, path: str, grid: dict | None = None
) -> dict:
    """Compute + persist a snapshot; returns the grid actually used."""
    snap = compute_snapshot(df, spec, grid)
    snap.columns.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "columns"))
    snap.bins.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "bins"))
    snap.categories.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "categories")
    )
    write_grid(df.sparkSession, snap.grid, os.path.join(path, "grid"))
    return snap.grid


def read_snapshot(spark: SparkSession, path: str) -> Snapshot:
    return Snapshot(
        columns=spark.read.parquet(os.path.join(path, "columns")),
        bins=spark.read.parquet(os.path.join(path, "bins")),
        categories=spark.read.parquet(os.path.join(path, "categories")),
        grid=read_grid(spark, os.path.join(path, "grid")),
    )


def merge_snapshots(spark: SparkSession, paths: list[str]) -> Snapshot:
    """Fold per-unit snapshots into one — no raw-data rescan.

    Counts sum, mins min, maxes max, HLL sketches union (register-max, so
    merging is order-independent and idempotent per unit), bin / category
    counts sum.  All inputs must share the baseline grid (asserted)."""
    snaps = [read_snapshot(spark, p) for p in paths]
    grids = [s.grid for s in snaps]
    for g in grids[1:]:
        if g != grids[0]:
            raise ValueError(
                f"cannot merge snapshots with different bin grids: {grids[0]} vs {g}"
            )
    cols = snaps[0].columns
    bins = snaps[0].bins
    cats = snaps[0].categories
    for s in snaps[1:]:
        cols = cols.unionByName(s.columns)
        bins = bins.unionByName(s.bins)
        cats = cats.unionByName(s.categories)
    merged_cols = cols.groupBy("column", "kind").agg(
        F.sum("n").alias("n"),
        F.sum("n_null").alias("n_null"),
        F.min("min_s").alias("min_s"),
        F.max("max_s").alias("max_s"),
        F.hll_union_agg(F.col("hll"), F.lit(True)).alias("hll"),
    )
    # NB min_s/max_s are string-typed lexicographic after merge; numeric
    # columns' true extremes live in the grid + bins.  Documented tradeoff:
    # the per-slice values are exact, the merged extreme is indicative.
    merged_bins = bins.groupBy("column", "bin").agg(F.sum("cnt").alias("cnt"))
    merged_cats = cats.groupBy("column", "value").agg(F.sum("cnt").alias("cnt"))
    return Snapshot(merged_cols, merged_bins, merged_cats, grids[0])


def distinct_estimates(snap: Snapshot) -> DataFrame:
    """(column, distinct_est) from the snapshot's HLL sketches."""
    return snap.columns.select(
        "column", F.hll_sketch_estimate(F.col("hll")).alias("distinct_est")
    )


def _binned_ecdf(counts: dict[int, int], n_bins: int) -> list[float]:
    total = sum(counts.values())
    acc, out = 0, []
    for b in range(0, n_bins + 2):
        acc += counts.get(b, 0)
        out.append(acc / total if total else 0.0)
    return out


def drift_vs_snapshot(
    cur_df: DataFrame, base: Snapshot, spec: SnapshotSpec, alpha: float = 0.05
) -> list[dict]:
    """Drift report of ``cur_df`` against a baseline snapshot.

    One snapshot pass over the current data (on the baseline's grid), then
    O(cols × bins) driver-side math — the baseline corpus is not rescanned.
    Returns one dict per tracked column with the KS or chi-square statistic,
    p-value, drifted flag, and null-rate / distinct-estimate deltas."""
    cur = compute_snapshot(cur_df, spec, grid=base.grid)

    base_cols = {r.column: r for r in distinct_estimates(base).join(
        base.columns.drop("hll"), "column").collect()}
    cur_cols = {r.column: r for r in distinct_estimates(cur).join(
        cur.columns.drop("hll"), "column").collect()}

    base_bins = {}
    for r in base.bins.collect():
        base_bins.setdefault(r.column, {})[r.bin] = r.cnt
    cur_bins = {}
    for r in cur.bins.collect():
        cur_bins.setdefault(r.column, {})[r.bin] = r.cnt
    base_cats = {}
    for r in base.categories.collect():
        base_cats.setdefault(r.column, {})[r.value] = r.cnt
    cur_cats = {}
    for r in cur.categories.collect():
        cur_cats.setdefault(r.column, {})[r.value] = r.cnt

    report = []
    for c in spec.numeric:
        b, u = base_cols[c], cur_cols[c]
        n_bins = base.grid[c][2]
        e1 = _binned_ecdf(base_bins.get(c, {}), n_bins)
        e2 = _binned_ecdf(cur_bins.get(c, {}), n_bins)
        stat = max(abs(x - y) for x, y in zip(e1, e2))
        n1 = b.n - b.n_null
        n2 = u.n - u.n_null
        p = ks_significance(stat, max(n1, 1), max(n2, 1))
        psi = psi_from_counts(
            base_bins.get(c, {}), cur_bins.get(c, {}), cells=list(range(n_bins + 2))
        )
        report.append(
            {
                "column": c,
                "test": "ks",
                "statistic": stat,
                "psi": psi,
                "p_value": p,
                "drifted": p < alpha,
                "null_rate_base": b.n_null / b.n if b.n else 0.0,
                "null_rate_cur": u.n_null / u.n if u.n else 0.0,
                "distinct_base": float(b.distinct_est),
                "distinct_cur": float(u.distinct_est),
            }
        )
    for c in spec.categorical:
        b, u = base_cols[c], cur_cols[c]
        stat, dof = chi_square_from_counts(base_cats.get(c, {}), cur_cats.get(c, {}))
        p = chi_square_pvalue(stat, dof) if dof > 0 else 1.0
        psi = psi_from_counts(base_cats.get(c, {}), cur_cats.get(c, {}))
        report.append(
            {
                "column": c,
                "test": "chi_square",
                "statistic": stat,
                "psi": psi,
                "p_value": p,
                "drifted": p < alpha,
                "null_rate_base": b.n_null / b.n if b.n else 0.0,
                "null_rate_cur": u.n_null / u.n if u.n else 0.0,
                "distinct_base": float(b.distinct_est),
                "distinct_cur": float(u.distinct_est),
            }
        )
    return report
