"""Mergeable baseline stats snapshots + drift against them.

North-rule coverage (BASELINE.json): "KS/chi-square distribution-drift
checks against a baseline stats snapshot" and "resumable from checkpointed
per-partition lineage + metrics manifests".  ``operators/drift.py`` holds
the statistics; this module makes the *snapshot* a first-class, mergeable
artifact so drift never rescans the baseline corpus.

A snapshot of a corpus slice is ONE small parquet dataset in long form:
one row per ``(part, column, key)``, with the fixed schema
``_SNAPSHOT_DDL`` (read back without schema inference):

* ``part='columns'``    one row per tracked column: ``kind, n, n_null,
  min_s, max_s, hll`` — ``min_s``/``max_s`` are the typed min/max cast to
  string, ``hll`` a Datasketches HyperLogLog sketch (``hll_sketch_agg``
  over the value cast to string), the 100 TB distinct-count path, stored
  as binary so later snapshots UNION it instead of recounting.
* ``part='bins'``       per numeric column and ``bin``: the count ``n`` on
  a FIXED bin grid.  NULLs are left out.  The grid is frozen when the
  baseline is written; every later snapshot of new data histograms onto
  the same edges.
* ``part='categories'`` per categorical column and ``value`` (NULL kept):
  the count ``n``.
* ``part='grid'``       per numeric column: ``lo, hi, n_bins``.

A ``Snapshot`` holds that frame without the grid rows, and the grid as a
dict; ``Snapshot.columns`` / ``bins`` / ``categories`` are views over the
frame with the per-part schemas (``cnt`` for the counts), so merging,
gating and drift read a snapshot the same way whether it was just
computed, read back or merged.

Why this shape at 100 TB: every component is an algebraic aggregate —
HLL register-max, bin-count sum, category-count sum, min-of-mins,
max-of-maxes, count sums — so per-unit snapshots written by the resumable
runner merge into the corpus snapshot with a metadata-sized shuffle and NO
rescan of data files, and the baseline side of a drift check is never read
again at all.  A snapshot pass is one action over two aggregates of the
input (``_snapshot_frame``): the per-column stats, HLL sketches included,
as one global aggregate, and the bin and category counts as one explode +
hash aggregate.  The sketch's object aggregate is kept apart from the
counts' groups because Spark sorts an object aggregate's input once a task
holds more than 128 groups.  ``write_snapshot`` writes both, with the grid
rows unioned in from a JVM-local frame, as one dataset in one write job
(plus AQE's two shuffle-map stages, which run side by side).

Drift (``drift_vs_snapshot``): numeric columns get a two-sample KS test on
the binned ECDFs (resolution = bin width; exact given the shared grid),
categorical columns get the chi-square from ``drift.py``; both report the
statistic, p-value, and null-rate / distinct-estimate deltas.  Each side
is collected in one action.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from schemasaurus_spark.operators.drift import (
    chi_square_from_counts,
    chi_square_pvalue,
    ks_significance,
    psi_from_counts,
)
from schemasaurus_spark.sources.io import local_frame

_SNAPSHOT_DDL = (
    "part string, column string, kind string, bin int, value string, n long, "
    "n_null long, min_s string, max_s string, hll binary, "
    "lo double, hi double, n_bins int"
)


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
        # kinds has no single kind for its columns row
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
    """A snapshot as its long-form ``frame`` (one row per ``(part, column,
    key)``, grid rows left out) plus the ``grid``; ``columns``, ``bins`` and
    ``categories`` are views over the frame with the per-part schemas."""

    frame: DataFrame
    grid: dict = field(default_factory=dict)  # col -> (lo, hi, n_bins)

    @property
    def columns(self) -> DataFrame:
        return self.frame.where(F.col("part") == "columns").select(
            "column", "kind", "n", "n_null", "min_s", "max_s", "hll"
        )

    @property
    def bins(self) -> DataFrame:
        return self.frame.where(F.col("part") == "bins").select(
            "column", "bin", F.col("n").alias("cnt")
        )

    @property
    def categories(self) -> DataFrame:
        return self.frame.where(F.col("part") == "categories").select(
            "column", "value", F.col("n").alias("cnt")
        )


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


def _snapshot_frame(df: DataFrame, spec: SnapshotSpec, grid: dict) -> DataFrame:
    """The ``columns``, ``bins`` and ``categories`` rows of ``df``'s
    snapshot on ``grid``, in long form: two aggregates, one action.

    The per-column stats are one global aggregate.  Its HLL sketch is an
    object aggregate, which Spark sorts once a task holds more than
    ``spark.sql.objectHashAggregate.sortBased.fallbackThreshold`` (128)
    groups; with one group it never does, and an empty ``df`` still gets
    its ``columns`` rows (``n`` 0, the rest NULL).  Bin and category counts
    are one explode + hash aggregate (code-generated, any number of
    groups): a ``bins`` element per grid column (``width_bucket``: 1..n_bins
    and the 0 / n_bins+1 overflow buckets, so data outside the baseline
    range is counted, not lost) and a ``categories`` element per
    categorical column, each the same four fields whatever the number of
    tracked columns.  In one aggregate the bin and category groups would
    push the sketch past that threshold: with the default 256 bins, 2
    numeric and 2 categorical columns over 400k rows (local[4], 4-vCPU VM),
    ``write_snapshot`` took 1.75x as long."""
    kinds = {c: "numeric" for c in spec.numeric}
    kinds.update({c: "categorical" for c in spec.categorical})
    # sketch the string form: hll_sketch_agg accepts int/long/string/
    # binary but not double, and the cast keeps one deterministic
    # code path for every column type
    stats = df.agg(
        *[
            F.struct(
                F.lit("columns").alias("part"),
                F.lit(c).alias("column"),
                F.lit(kind).alias("kind"),
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(c).isNull().cast("long")).alias("n_null"),
                F.min(c).cast("string").alias("min_s"),
                F.max(c).cast("string").alias("max_s"),
                F.hll_sketch_agg(F.col(c).cast("string"), F.lit(spec.lg_k)).alias("hll"),
            ).alias(f"s{i}")
            for i, (c, kind) in enumerate(kinds.items())
        ]
    )
    columns = stats.select(F.explode(F.array(*stats.columns)).alias("e")).select("e.*")

    def element(part, c, bin=F.lit(None).cast("int"), value=F.lit(None).cast("string")):
        return F.struct(
            F.lit(part).alias("part"),
            F.lit(c).alias("column"),
            bin.alias("bin"),
            value.alias("value"),
        )

    elements = [
        element("bins", c, bin=F.width_bucket(
            F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_bins)
        ).cast("int"))
        for c, (lo, hi, n_bins) in grid.items()
    ]
    elements += [element("categories", c, value=F.col(c).cast("string")) for c in spec.categorical]
    if not elements:
        return columns
    counts = (
        df.select(F.explode(F.array(*elements)).alias("e"))
        .select("e.*")
        # NULL and NaN values get no bin
        .where((F.col("part") != "bins") | F.col("bin").isNotNull())
        .groupBy("part", "column", "bin", "value")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return columns.unionByName(counts, allowMissingColumns=True)


def compute_snapshot(df: DataFrame, spec: SnapshotSpec, grid: dict | None = None) -> Snapshot:
    """Snapshot ``df``.  Pass the baseline's ``grid`` when snapshotting new
    data so bin counts stay mergeable/comparable; omit it for a baseline."""
    if grid is None:
        grid = _default_grid(df, spec)
    return Snapshot(_snapshot_frame(df, spec, grid), grid)


def write_snapshot(
    df: DataFrame, spec: SnapshotSpec, path: str, grid: dict | None = None
) -> dict:
    """Compute + persist a snapshot as one dataset; returns the grid used."""
    if grid is None:
        grid = _default_grid(df, spec)
    grid_rows = local_frame(
        df.sparkSession,
        [("grid", c, lo, hi, nb) for c, (lo, hi, nb) in grid.items()],
        "part string, column string, lo double, hi double, n_bins int",
    )
    (
        _snapshot_frame(df, spec, grid)
        .unionByName(grid_rows, allowMissingColumns=True)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )
    return grid


def read_snapshot(spark: SparkSession, path: str) -> Snapshot:
    old = spark._jvm.org.apache.hadoop.fs.Path(path, "columns")
    if old.getFileSystem(spark._jsc.hadoopConfiguration()).exists(old):
        raise ValueError(
            f"{path} holds a snapshot in the old three-directory layout "
            "(columns/, bins/, categories/ and grid/); write_snapshot stores "
            "a snapshot as one dataset — rewrite it with that"
        )
    frame = spark.read.schema(_SNAPSHOT_DDL).parquet(path)
    is_grid = F.col("part") == "grid"
    grid = {r.column: (r.lo, r.hi, r.n_bins) for r in frame.where(is_grid).collect()}
    return Snapshot(frame.where(~is_grid), grid)


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
    frame = snaps[0].frame
    for s in snaps[1:]:
        frame = frame.unionByName(s.frame)
    is_columns = F.col("part") == "columns"
    # the sketch union is an object aggregate: keep it to the columns rows,
    # one group per column, and sum the counts in a hash aggregate
    # NB min_s/max_s are string-typed lexicographic after merge; numeric
    # columns' true extremes live in the grid + bins.  Documented tradeoff:
    # the per-slice values are exact, the merged extreme is indicative.
    columns = frame.where(is_columns).groupBy("part", "column", "kind").agg(
        F.sum("n").alias("n"),
        F.sum("n_null").alias("n_null"),
        F.min("min_s").alias("min_s"),
        F.max("max_s").alias("max_s"),
        F.hll_union_agg(F.col("hll"), F.lit(True)).alias("hll"),
    )
    counts = frame.where(~is_columns).groupBy("part", "column", "bin", "value").agg(
        F.sum("n").alias("n")
    )
    return Snapshot(columns.unionByName(counts, allowMissingColumns=True), grids[0])


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


def _collect_parts(frame: DataFrame) -> tuple[dict, dict, dict]:
    """Columns rows by column (``n``, ``n_null``, ``distinct_est``), and bin /
    category counts by column, from a long-form snapshot frame in one
    action.  It comes back as Arrow: a snapshot has a row per category
    value, and a ``Row`` per value costs the driver more than the scan."""
    cols, bins, cats = {}, {}, {}
    is_columns = F.col("part") == "columns"
    table = frame.select(
        "part", "column", "n", "n_null", "bin", "value",
        F.when(is_columns, F.hll_sketch_estimate("hll")).alias("distinct_est"),
    ).toArrow()
    for part, c, n, n_null, b, value, est in zip(*table.to_pydict().values()):
        if part == "columns":
            cols[c] = SimpleNamespace(n=n, n_null=n_null, distinct_est=est)
        elif part == "bins":
            bins.setdefault(c, {})[b] = n
        elif part == "categories":
            cats.setdefault(c, {})[value] = n
    return cols, bins, cats


def drift_vs_snapshot(
    cur_df: DataFrame, base: Snapshot, spec: SnapshotSpec, alpha: float = 0.05
) -> list[dict]:
    """Drift report of ``cur_df`` against a baseline snapshot.

    One snapshot pass over the current data (on the baseline's grid) and
    one read of the baseline snapshot, each collected in one action, then
    O(cols × bins) driver-side math — the baseline corpus is not rescanned.
    Returns one dict per tracked column with the KS or chi-square statistic,
    p-value, drifted flag, and null-rate / distinct-estimate deltas."""
    base_cols, base_bins, base_cats = _collect_parts(base.frame)
    cur_cols, cur_bins, cur_cats = _collect_parts(
        _snapshot_frame(cur_df, spec, base.grid)
    )

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
