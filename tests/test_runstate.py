"""Checkpoint/resume (north rule): kill mid-run, rerun, prove completed
units are skipped and totals equal a straight-through pass."""

import os

import pytest
from pyspark.sql import functions as F

from schemasaurus_spark.plans.validation_job import ValidationJob
from schemasaurus_spark.runstate import (
    LineageDriftError,
    ResumableValidation,
    list_units,
    violations_table,
)
from schemasaurus_spark.sources.generator import generate_documents


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("resume") / "docs.parquet")
    generate_documents(spark, 4000, seed=13).repartition(8).write.parquet(p)
    return p


def test_units_are_deterministic(spark, docs_path):
    u1 = list_units(spark, docs_path, files_per_unit=2)
    u2 = list_units(spark, docs_path, files_per_unit=2)
    assert [u["unit_id"] for u in u1] == [u["unit_id"] for u in u2]
    assert len(u1) == 4


def test_kill_and_resume(spark, docs_path, tmp_path):
    out = str(tmp_path / "out")
    rv = ResumableValidation(files_per_unit=2)

    with pytest.raises(RuntimeError, match="injected failure"):
        rv.run(spark, docs_path, out, fail_after_units=2)
    assert len(os.listdir(os.path.join(out, "manifests"))) == 2

    summary = rv.run(spark, docs_path, out)
    assert summary["n_skipped"] == 2
    assert summary["n_processed"] == 2
    assert summary["n_units"] == 4

    # totals match a straight-through (non-checkpointed) pass
    docs = spark.read.parquet(docs_path)
    job = ValidationJob()
    direct = job.counted(docs).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((~F.col("valid")).cast("long")).alias("n_invalid"),
        F.sum("n_violations").alias("n_viol"),
    ).collect()[0]
    assert summary["totals"]["n_docs"] == direct.n_docs == 4000
    assert summary["totals"]["n_invalid_docs"] == direct.n_invalid
    assert summary["totals"]["n_violations"] == direct.n_viol

    # accumulated violation rows match the count too
    assert violations_table(spark, out).count() == direct.n_viol

    # a third run is a no-op
    again = rv.run(spark, docs_path, out)
    assert again["n_processed"] == 0
    assert again["n_skipped"] == 4


def test_lineage_drift_detected_and_reset(spark, tmp_path):
    """Appending input files between runs reshuffles positional unit
    membership: resume must refuse (stale violations/unit=* dirs would
    double-count), and on_drift='reset' must invalidate the orphans so
    totals still equal a straight-through pass over the new input."""
    p = str(tmp_path / "docs.parquet")
    generate_documents(spark, 2000, seed=13).repartition(4).write.parquet(p)
    out = str(tmp_path / "out")
    rv = ResumableValidation(files_per_unit=2)
    rv.run(spark, p, out)

    # grow the input: file listing (lineage) changes, old unit ids orphan
    generate_documents(spark, 1000, seed=14).repartition(3).write.mode(
        "append"
    ).parquet(p)
    with pytest.raises(LineageDriftError, match="immutable input snapshot"):
        rv.run(spark, p, out)

    summary = rv.run(spark, p, out, on_drift="reset")
    docs = spark.read.parquet(p)
    job = ValidationJob()
    direct = job.counted(docs).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_violations").alias("n_viol"),
    ).collect()[0]
    assert summary["totals"]["n_docs"] == direct.n_docs == 3000
    assert summary["totals"]["n_violations"] == direct.n_viol
    # no stale violation dirs double-counting rows
    assert violations_table(spark, out).count() == direct.n_viol


def test_per_unit_snapshots_merge_to_whole_and_survive_resume(spark, docs_path, tmp_path):
    """snapshot_spec: each unit writes a mergeable stats snapshot; the
    manifested-units merge equals a whole-corpus snapshot (same grid), and
    kill/resume neither loses nor double-counts any unit's contribution."""
    from schemasaurus_spark.operators.snapshot import (
        SnapshotSpec, compute_snapshot, distinct_estimates,
    )
    from schemasaurus_spark.runstate import merged_snapshot

    spec = SnapshotSpec(numeric=("n_spans",), categorical=("first_kind",), n_bins=32)
    prep = lambda df: df.select(
        F.size("spans").alias("n_spans"),
        F.col("spans")[0]["kind"].alias("first_kind"),
    )
    out = str(tmp_path / "out")
    rv = ResumableValidation(files_per_unit=2, snapshot_spec=spec, snapshot_prep=prep)

    with pytest.raises(RuntimeError, match="injected failure"):
        rv.run(spark, docs_path, out, fail_after_units=2)
    # mid-crash: only manifested units merge (exactly-once, partial corpus)
    partial = merged_snapshot(spark, out)
    assert partial.columns.count() == 2
    n_partial = {r.column: r.n for r in partial.columns.collect()}["n_spans"]
    assert 0 < n_partial < 4000

    rv.run(spark, docs_path, out)
    merged = merged_snapshot(spark, out)

    whole = compute_snapshot(prep(spark.read.parquet(docs_path)), spec, grid=merged.grid)
    m_cols = {r.column: r for r in merged.columns.collect()}
    w_cols = {r.column: r for r in whole.columns.collect()}
    for c in ("n_spans", "first_kind"):
        assert m_cols[c].n == w_cols[c].n == 4000
        assert m_cols[c].n_null == w_cols[c].n_null
    m_est = {r.column: r.distinct_est for r in distinct_estimates(merged).collect()}
    w_est = {r.column: r.distinct_est for r in distinct_estimates(whole).collect()}
    assert m_est == w_est
    assert (
        {(r.column, r.bin): r.cnt for r in merged.bins.collect()}
        == {(r.column, r.bin): r.cnt for r in whole.bins.collect()}
    )
    assert (
        {(r.column, r.value): r.cnt for r in merged.categories.collect()}
        == {(r.column, r.value): r.cnt for r in whole.categories.collect()}
    )


def _verdict_fold(spark, files):
    """The manifest metrics as a separate count-only verdict scan computes
    them: the oracle for the counters observed on the violations write."""
    job = ValidationJob()
    verd = job.verdicts(job.counted(spark.read.parquet(*files))).collect()
    return {
        "n_docs": sum(r.n_docs for r in verd),
        "n_invalid_docs": sum(r.n_invalid_docs for r in verd),
        "n_violations": sum(r.n_violations for r in verd),
        "n_partitions": len(verd),
        "all_pass": all(r["pass"] for r in verd),
    }


def test_manifest_metrics_match_verdict_scan(spark, tmp_path):
    """Every unit's manifest counters equal the verdict-scan fold, for units
    of several input partitions and for a unit whose only file has 0 rows."""
    import shutil

    from schemasaurus_spark.runstate import RunState

    p = str(tmp_path / "docs.parquet")
    docs = generate_documents(spark, 3000, seed=21)
    docs.repartition(6).write.parquet(p)
    empty = str(tmp_path / "empty.parquet")
    docs.limit(0).coalesce(1).write.parquet(empty)
    (part,) = [f for f in os.listdir(empty) if f.endswith(".parquet")]
    shutil.copy(os.path.join(empty, part), os.path.join(p, "zz-empty.parquet"))

    out = str(tmp_path / "out")
    ResumableValidation(files_per_unit=3).run(spark, p, out)
    manifests = RunState(os.path.join(out, "manifests")).completed()
    assert len(manifests) == 3
    for m in manifests.values():
        want = _verdict_fold(spark, m["files"])
        assert {k: m["metrics"][k] for k in want} == want, m["files"]
        assert m["metrics"]["wall_s"] >= 0
    empty_unit, *full_units = sorted(manifests.values(), key=lambda m: len(m["files"]))
    assert [os.path.basename(f) for f in empty_unit["files"]] == ["zz-empty.parquet"]
    assert empty_unit["metrics"]["n_partitions"] == 0
    assert empty_unit["metrics"]["all_pass"] is True
    assert [m["metrics"]["n_partitions"] for m in full_units] == [3, 3]
    assert sum(m["metrics"]["n_docs"] for m in full_units) == 3000
    assert not all(m["metrics"]["all_pass"] for m in full_units)


def test_crash_between_unit_write_and_manifest(spark, docs_path, tmp_path, monkeypatch):
    """A unit whose violations and snapshot are written but whose manifest
    is not is redone on resume, and nothing from the crashed attempt is
    counted: totals, violation rows and the merged snapshot each see every
    input row exactly once."""
    from schemasaurus_spark.operators.snapshot import SnapshotSpec
    from schemasaurus_spark.runstate import RunState, merged_snapshot

    spec = SnapshotSpec(numeric=("n_spans",), categorical=("first_kind",), n_bins=32)
    prep = lambda df: df.select(
        F.size("spans").alias("n_spans"),
        F.col("spans")[0]["kind"].alias("first_kind"),
    )
    out = str(tmp_path / "out")
    rv = ResumableValidation(files_per_unit=2, snapshot_spec=spec, snapshot_prep=prep)

    real_mark_done = RunState.mark_done
    calls = []

    def mark_done_crashing_once(self, unit, metrics):
        calls.append(unit["unit_id"])
        if len(calls) == 2:
            raise RuntimeError("crash before manifest")
        real_mark_done(self, unit, metrics)

    monkeypatch.setattr(RunState, "mark_done", mark_done_crashing_once)
    with pytest.raises(RuntimeError, match="crash before manifest"):
        rv.run(spark, docs_path, out)
    crashed = calls[1]
    assert os.listdir(os.path.join(out, "manifests")) == [f"{calls[0]}.json"]
    for sub in ("violations", "snapshots"):
        assert os.path.isdir(os.path.join(out, sub, f"unit={crashed}"))

    summary = rv.run(spark, docs_path, out)
    assert summary["n_skipped"] == 1
    assert summary["n_processed"] == 3
    assert calls[2] == crashed  # redone first, in listing order
    assert crashed in RunState(os.path.join(out, "manifests")).completed()

    job = ValidationJob()
    direct = job.counted(spark.read.parquet(docs_path)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((~F.col("valid")).cast("long")).alias("n_invalid"),
        F.sum("n_violations").alias("n_viol"),
    ).collect()[0]
    assert summary["totals"] == {
        "n_docs": direct.n_docs,
        "n_invalid_docs": direct.n_invalid,
        "n_violations": direct.n_viol,
    }
    assert violations_table(spark, out).count() == summary["totals"]["n_violations"]

    merged = merged_snapshot(spark, out)
    assert {r.column: r.n for r in merged.columns.collect()} == {
        "n_spans": 4000, "first_kind": 4000,
    }
    assert merged.bins.agg(F.sum("cnt")).first()[0] == 4000
    assert merged.categories.agg(F.sum("cnt")).first()[0] == 4000


def test_grid_json_round_trip_and_old_layout_refused(spark, docs_path, tmp_path):
    """The frozen grid lives in snapshot_grid.json and loads back as the
    tuples it was frozen as (merge_snapshots compares grids with !=); an
    out_dir with the grid as a snapshot_grid/ dataset is refused on resume
    instead of being given a second, re-frozen grid."""
    import json

    from schemasaurus_spark.operators.snapshot import SnapshotSpec
    from schemasaurus_spark.runstate import merged_snapshot

    spec = SnapshotSpec(numeric=("n_spans",), n_bins=16)
    prep = lambda df: df.select(F.size("spans").alias("n_spans"))
    rv = ResumableValidation(files_per_unit=4, snapshot_spec=spec, snapshot_prep=prep)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="injected failure"):
        rv.run(spark, docs_path, out, fail_after_units=1)
    assert not os.path.exists(os.path.join(out, "snapshot_grid"))
    with open(os.path.join(out, "snapshot_grid.json")) as f:
        frozen = json.load(f)
    rv.run(spark, docs_path, out)
    loaded = rv._snapshot_grid(spark, None, out, None)
    assert all(type(v) is tuple for v in loaded.values())
    assert loaded == merged_snapshot(spark, out).grid == {
        c: tuple(v) for c, v in frozen.items()
    }

    old = str(tmp_path / "old")
    os.makedirs(os.path.join(old, "snapshot_grid"))
    with pytest.raises(ValueError, match=r"old layout \(a snapshot_grid/"):
        rv.run(spark, docs_path, old)


def test_partition_columns_stay_out_of_the_unit_row_type(spark, tmp_path):
    """Units read their files by name, which yields no directory-partition
    column, so the row type taken from the listing must not carry one."""
    from schemasaurus_spark.runstate import _file_row_type

    p = str(tmp_path / "docs")
    docs = generate_documents(spark, 600, seed=5)
    docs.withColumn("part", F.lit(1)).write.partitionBy("part").parquet(p)
    assert spark.read.parquet(p).columns == ["doc_id", "spans", "part"]
    assert _file_row_type(spark.read.parquet(p)).fieldNames() == ["doc_id", "spans"]

    out = str(tmp_path / "out")
    summary = ResumableValidation(files_per_unit=2).run(spark, p, out)
    files = [f for u in list_units(spark, p, 2) for f in u["files"]]
    want = _verdict_fold(spark, files)
    assert summary["totals"] == {k: want[k] for k in summary["totals"]}
