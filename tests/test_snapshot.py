"""Mergeable stats snapshots + drift-vs-snapshot (operators/snapshot.py).

The invariants that make the component trustworthy at scale:
* split-merge equivalence — per-unit snapshots folded with
  ``merge_snapshots`` equal the whole-corpus snapshot (counts/bins/cats
  exactly; HLL estimates exactly, since union is register-max),
* drift fires on a shifted distribution and stays quiet on an identical
  resample,
* the frozen baseline grid keeps later snapshots comparable even when new
  data falls outside the baseline range (edge buckets, not data loss).
"""

from __future__ import annotations

import math
import os

import pytest

from pyspark.sql import functions as F

from schemasaurus_spark.operators.snapshot import (
    Snapshot,
    SnapshotSpec,
    compute_snapshot,
    distinct_estimates,
    drift_vs_snapshot,
    merge_snapshots,
    read_snapshot,
    write_snapshot,
)

SPEC = SnapshotSpec(numeric=("value",), categorical=("event_type",), n_bins=64)


@pytest.fixture(scope="module")
def events(spark):
    # deterministic synthetic events: value ~ triangular-ish, 5 types
    return spark.range(0, 4000).select(
        F.col("id"),
        ((F.col("id") * 37 % 1000) / 10.0 + (F.col("id") * 11 % 100) / 10.0).alias(
            "value"
        ),
        F.concat(F.lit("type_"), (F.col("id") * 7 % 5).cast("string")).alias(
            "event_type"
        ),
    )


def _collect_counts(df):
    return {tuple(r[:-1]): r[-1] for r in df.collect()}


def test_snapshot_columns_exact(spark, events):
    snap = compute_snapshot(events, SPEC)
    rows = {r.column: r for r in snap.columns.collect()}
    assert rows["value"].n == 4000 and rows["value"].n_null == 0
    assert rows["event_type"].kind == "categorical"
    est = {r.column: r.distinct_est for r in distinct_estimates(snap).collect()}
    assert est["event_type"] == 5  # tiny cardinality: HLL is exact
    # bins cover all rows
    assert snap.bins.agg(F.sum("cnt")).first()[0] == 4000
    cats = _collect_counts(snap.categories)
    assert sum(cats.values()) == 4000 and len(cats) == 5


def _assert_one_dataset(spark, path, grid):
    """The on-disk layout: one parquet dataset, no part directories, the
    grid as rows of its own part."""
    assert not [n for n in os.listdir(path) if os.path.isdir(os.path.join(path, n))]
    rows = spark.read.parquet(path).collect()
    assert {r.part for r in rows} <= {"columns", "bins", "categories", "grid"}
    assert {r.column: (r.lo, r.hi, r.n_bins) for r in rows if r.part == "grid"} == grid


def test_split_merge_equals_whole(spark, events, tmp_path):
    whole = compute_snapshot(events, SPEC)
    grid = whole.grid
    a = events.where(F.col("id") < 1500)
    b = events.where(F.col("id") >= 1500)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_snapshot(a, SPEC, pa, grid=grid)
    write_snapshot(b, SPEC, pb, grid=grid)
    for p in (pa, pb):
        _assert_one_dataset(spark, p, grid)
    merged = merge_snapshots(spark, [pa, pb])

    assert merged.grid == grid
    mcols = {r.column: r for r in merged.columns.collect()}
    wcols = {r.column: r for r in whole.columns.collect()}
    for c in ("value", "event_type"):
        assert mcols[c].n == wcols[c].n
        assert mcols[c].n_null == wcols[c].n_null
    # HLL union of unit sketches == whole-corpus sketch estimate
    mest = {r.column: r.distinct_est for r in distinct_estimates(merged).collect()}
    west = {r.column: r.distinct_est for r in distinct_estimates(whole).collect()}
    assert mest == west
    # bin + category counts sum exactly
    assert _collect_counts(merged.bins) == _collect_counts(whole.bins)
    assert _collect_counts(merged.categories) == _collect_counts(whole.categories)


def test_merge_refuses_mismatched_grids(spark, events, tmp_path):
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_snapshot(events, SPEC, pa)
    other = SnapshotSpec(numeric=("value",), categorical=("event_type",), n_bins=32)
    write_snapshot(events, other, pb)
    with pytest.raises(ValueError, match="different bin grids"):
        merge_snapshots(spark, [pa, pb])


def test_roundtrip_write_read(spark, events, tmp_path):
    p = str(tmp_path / "base")
    grid = write_snapshot(events, SPEC, p)
    _assert_one_dataset(spark, p, grid)
    snap = read_snapshot(spark, p)
    assert snap.grid == grid
    assert snap.columns.count() == 2
    assert snap.bins.agg(F.sum("cnt")).first()[0] == 4000


def test_drift_quiet_on_identical_distribution(spark, events, tmp_path):
    p = str(tmp_path / "base")
    write_snapshot(events, SPEC, p)
    base = read_snapshot(spark, p)
    # disjoint ids, same generating process = same distribution
    cur = spark.range(4000, 8000).select(
        F.col("id"),
        ((F.col("id") * 37 % 1000) / 10.0 + (F.col("id") * 11 % 100) / 10.0).alias(
            "value"
        ),
        F.concat(F.lit("type_"), (F.col("id") * 7 % 5).cast("string")).alias(
            "event_type"
        ),
    )
    report = {r["column"]: r for r in drift_vs_snapshot(cur, base, SPEC)}
    assert not report["value"]["drifted"]
    assert not report["event_type"]["drifted"]


def test_drift_fires_on_shift(spark, events, tmp_path):
    p = str(tmp_path / "base")
    write_snapshot(events, SPEC, p)
    base = read_snapshot(spark, p)
    shifted = events.select(
        "id",
        (F.col("value") + 40.0).alias("value"),  # location shift
        F.when(F.col("event_type") == "type_0", "type_1")
        .otherwise(F.col("event_type"))
        .alias("event_type"),  # collapse a category
    )
    report = {r["column"]: r for r in drift_vs_snapshot(shifted, base, SPEC)}
    assert report["value"]["drifted"] and report["value"]["test"] == "ks"
    assert report["value"]["statistic"] > 0.1
    assert report["event_type"]["drifted"] and report["event_type"]["test"] == "chi_square"


def test_out_of_range_values_land_in_edge_buckets(spark, events):
    base_grid = compute_snapshot(events, SPEC).grid
    lo, hi, nb = base_grid["value"]
    beyond = spark.range(0, 100).select(
        F.col("id"),
        (F.lit(hi) + 5.0 + F.col("id")).alias("value"),
        F.lit("type_0").alias("event_type"),
    )
    snap = compute_snapshot(beyond, SPEC, grid=base_grid)
    bins = {r.bin: r.cnt for r in snap.bins.collect()}
    assert bins == {nb + 1: 100}  # all counted, all in the overflow bucket


def test_nulls_excluded_from_bins_counted_in_stats(spark):
    df = spark.range(0, 100).select(
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id").cast("double")).alias(
            "value"
        ),
        F.lit("t").alias("event_type"),
    )
    snap = compute_snapshot(df, SPEC)
    cols = {r.column: r for r in snap.columns.collect()}
    assert cols["value"].n == 100 and cols["value"].n_null == 25
    assert snap.bins.agg(F.sum("cnt")).first()[0] == 75


def test_ks_pvalue_sanity():
    # large samples, moderate stat => tiny p; zero stat => p = 1
    from schemasaurus_spark.operators.drift import ks_significance

    assert ks_significance(0.0, 1000, 1000) == 1.0
    assert ks_significance(0.2, 2000, 2000) < 1e-6
    assert 0.0 <= ks_significance(0.01, 500, 500) <= 1.0


def test_exact_ks_known_value_and_binned_crosscheck(spark):
    """Planted distributions with a closed-form KS: base uniform over
    0..99, cur uniform over 50..149 => exact KS = 0.5.  The snapshot's
    binned KS must agree to within one bin of resolution."""
    from schemasaurus_spark.operators.drift import exact_ks_statistic

    df = spark.range(0, 200).select(
        F.col("id"),
        F.when(F.col("id") < 100, F.col("id"))
        .otherwise(F.col("id") - 50)
        .cast("double")
        .alias("value"),
        (F.col("id") < 100).alias("is_base"),
    )
    row = exact_ks_statistic(df, "value", F.col("is_base")).first()
    assert row.ks_statistic == 0.5
    assert row.n_base == 100 and row.n_cur == 100

    spec = SnapshotSpec(numeric=("value",), n_bins=50)
    base = compute_snapshot(df.where("is_base"), spec)
    rep = drift_vs_snapshot(df.where("NOT is_base"), base, spec)
    binned = rep[0]["statistic"]
    assert abs(binned - 0.5) <= 1.0 / 50 + 1e-9
    assert rep[0]["drifted"]


def test_spec_rejects_empty_and_overlapping_columns():
    """Round-4 hardening: an empty spec used to surface as a confusing
    df.agg(*[]) engine error; a column tracked as both kinds used to emit
    duplicate aliases in the wide aggregate."""
    with pytest.raises(ValueError, match="tracks no columns"):
        SnapshotSpec()
    with pytest.raises(ValueError, match="both numeric and categorical"):
        SnapshotSpec(numeric=("value",), categorical=("value", "event_type"))


def _input_records(spark, group: str, action) -> int:
    """Records read from input sources by the jobs ``action`` starts, summed
    over their stages from the status store."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    tracker = sc.statusTracker()
    wanted = {
        sid for j in tracker.getJobIdsForGroup(group) for sid in tracker.getJobInfo(j).stageIds
    }
    assert wanted, f"no jobs ran under {group}"
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    return sum(
        s.inputRecords()
        for s in (stages.apply(i) for i in range(stages.size()))
        if s.stageId() in wanted and s.status().toString() != "SKIPPED"
    )


def test_snapshot_pass_reads_input_twice(spark, events, tmp_path):
    """Writing a snapshot and the current side of a drift check each read
    the input's rows twice, in one action: once for the per-column stats,
    once for the bin and category counts (three scans before)."""
    src = str(tmp_path / "events")
    events.write.parquet(src)
    df = spark.read.parquet(src)
    grid = compute_snapshot(events, SPEC).grid
    n = _input_records(
        spark, "snapshot-write", lambda: write_snapshot(df, SPEC, str(tmp_path / "s"), grid=grid)
    )
    assert n == 2 * 4000
    # the baseline side alone, for the drift check's current side
    base = compute_snapshot(events, SPEC)
    n_base = _input_records(spark, "snapshot-base", lambda: base.frame.collect())
    n = _input_records(spark, "snapshot-drift", lambda: drift_vs_snapshot(df, base, SPEC))
    assert n - n_base == 2 * 4000


def test_read_snapshot_refuses_old_layout(spark, events, tmp_path):
    """A snapshot written as per-part directories is refused by name, not
    read as an empty or mixed dataset."""
    p = tmp_path / "old"
    for part in ("columns", "bins", "categories", "grid"):
        events.limit(1).write.parquet(str(p / part))
    with pytest.raises(ValueError, match="old three-directory layout"):
        read_snapshot(spark, str(p))


def test_empty_input_keeps_columns_rows(spark, events):
    """An empty slice still has one columns row per tracked column, as a
    global aggregate gives it (n 0, the rest NULL), and no bins or
    categories, so merging and drift see the column."""
    grid = compute_snapshot(events, SPEC).grid
    snap = compute_snapshot(events.where("id < 0"), SPEC, grid=grid)
    cols = {r.column: r for r in snap.columns.collect()}
    assert set(cols) == {"value", "event_type"}
    assert all(r.n == 0 and r.n_null is None and r.min_s is None for r in cols.values())
    assert snap.bins.count() == 0 and snap.categories.count() == 0


def test_sketch_aggregate_stays_out_of_the_counts(spark):
    """The HLL sketch is an object aggregate, which Spark sorts once a task
    holds more than 128 groups.  The snapshot keeps it global (no grouping
    keys) and counts bins and categories in a hash aggregate, so a 256-bin
    grid or a many-valued category never reaches that fallback."""
    import re

    from schemasaurus_spark.operators.snapshot import _snapshot_frame

    nums = [f"x{i}" for i in range(6)]
    cats = [f"c{i}" for i in range(4)]
    df = spark.range(10).select(
        *[(F.col("id") * i).cast("double").alias(c) for i, c in enumerate(nums)],
        *[F.col("id").cast("string").alias(c) for c in cats],
    )
    spec = SnapshotSpec(numeric=tuple(nums), categorical=tuple(cats))
    grid = {c: (0.0, 50.0, 256) for c in nums}
    plan = _snapshot_frame(df, spec, grid)._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"ObjectHashAggregate\(keys=\[([^\]]*)\]", plan) == ["", ""]
    counts = re.findall(r"(?<!Object)HashAggregate\(keys=\[([^\]]*)\], functions=\[([^\]]*)\]", plan)
    assert len(counts) == 2
    for keys, functions in counts:
        assert re.sub(r"#\d+", "", keys) == "part, column, bin, value"
        assert functions in ("partial_count(1)", "count(1)")


def test_drift_with_null_category(spark, events, tmp_path):
    """A NULL in a categorical column is a category of its own: drift sorts
    it first instead of comparing None with strings, and a NULL share that
    jumps from 20% to 60% is drift."""
    def with_nulls(df, share):
        return df.select(
            "id",
            "value",
            F.when(F.col("id") % 10 < share, F.lit(None))
            .otherwise(F.col("event_type"))
            .alias("event_type"),
        )

    p = str(tmp_path / "base")
    write_snapshot(with_nulls(events, 2), SPEC, p)
    base = read_snapshot(spark, p)
    quiet = {r["column"]: r for r in drift_vs_snapshot(with_nulls(events, 2), base, SPEC)}
    assert quiet["event_type"]["statistic"] == 0.0 and not quiet["event_type"]["drifted"]
    loud = {r["column"]: r for r in drift_vs_snapshot(with_nulls(events, 6), base, SPEC)}
    assert loud["event_type"]["drifted"] and loud["event_type"]["test"] == "chi_square"
