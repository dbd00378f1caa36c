"""Checkpoint/resume for the validation pass (north rule: "resumable from
checkpointed per-partition lineage + metrics manifests").

The unit of recovery is a **work unit**: a deterministic group of input
parquet files (lineage = the sorted file list; unit id = stable hash of
it).  Each unit runs as its own distributed job — validate, append its
violation rows under ``violations/unit=<id>/``, then atomically write a
manifest JSON (tmp + rename) carrying the lineage and the unit's verdict
metrics.  A restart lists manifests, skips completed units, and reruns
only the remainder; a unit that crashed mid-write is re-done from scratch
(its partial violations dir is overwritten), so the protocol is
idempotent at unit granularity.

**Cost shape of a unit.**  One validation scan: the verdict counters
(``n_docs``, ``n_invalid_docs``, ``n_violations``, ``n_partitions``) are an
``Observation`` on the validated frame, collected by the violations write
itself, so no separate verdict scan runs.  The optional snapshot is one
more job over the unit, written as one dataset: it scans the unit twice
side by side, once for the per-column stats and HLL sketches, once for
the bin and category counts (``snapshot_prep`` is an arbitrary
``df -> df``, so its aggregates cannot ride the violations write; see
``operators/snapshot.py`` for why the two aggregates stay apart).  Unit
files are read with the row type inferred once from the input listing,
so no read starts a schema-inference job; the validator is compiled once
per row type, and the snapshot bin grid is loaded or frozen once per
``run``.  The manifest's ``metrics`` also carry the unit's ``wall_s``;
``run``'s returned summary carries counts only.

At 10^12 docs the driver loop is over O(thousands) of units while each
unit fans out to the cluster — the loop is control plane only, no data
moves through the driver.

**Resume requires an immutable input snapshot.**  Unit membership is
positional over the sorted file list, so files appearing/disappearing
between runs reshuffles group membership: previously-completed unit ids
stop matching, their stale ``violations/unit=*`` dirs would double-count,
and the "new" overlapping units would re-validate already-counted rows.
``run`` detects this (manifests whose unit id no longer exists in the
current listing) and by default refuses with ``LineageDriftError``;
``on_drift="reset"`` instead deletes the orphaned manifests *and* their
violation dirs, then reruns whatever the new listing requires.

**Every input file must have the same schema.**  Units read their files
with the one row type taken from the listing, as a parquet read without
``mergeSchema`` takes it from a single file's footer.  A file with a field
the row type lacks has that field dropped, a field the file lacks reads
as NULL, and a type the row type narrows fails the read, so validating an
input whose schema evolved between files (or an Iceberg table after a
schema change) needs one run per schema.

**Per-unit stats snapshots** (optional ``snapshot_spec``): each unit also
writes a mergeable stats snapshot (``operators/snapshot.py`` — HLL distinct
sketches, fixed-grid histograms, category counts) under
``snapshots/unit=<id>/``.  The bin grid is frozen from the first unit and
persisted (``snapshot_grid.json``, written like a manifest) so resumed runs
and later units histogram onto identical edges.  ``merged_snapshot`` folds
ONLY manifested units' snapshots into the corpus snapshot — an algebraic
merge over metadata-sized frames, no rescan of data files — giving
resumable, exactly-once corpus stats and a ready baseline for drift checks.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from schemasaurus_spark.plans.validation_job import ValidationJob


class LineageDriftError(RuntimeError):
    """The input file listing changed since the manifests were written."""


def _unit_id(files: list[str]) -> str:
    h = hashlib.sha256("\n".join(sorted(files)).encode()).hexdigest()
    return h[:16]


def _read_input(spark: SparkSession, input_path: str) -> DataFrame:
    """Parquet directory or Iceberg table identifier (when the runtime jar
    is present); both yield an inputFiles() listing for lineage."""
    from schemasaurus_spark.sources.io import TableRef, read_table

    if os.path.exists(input_path) or "/" in input_path:
        return read_table(spark, TableRef(path=input_path))
    try:
        return read_table(spark, TableRef(table=input_path))
    except Exception as e:
        # a slash-free identifier that is neither an existing local path nor
        # a readable table is ambiguous — name both interpretations instead
        # of surfacing a bare "no parquet fallback" error
        raise ValueError(
            f"input {input_path!r} is neither an existing local path nor a "
            f"readable table identifier (tried Iceberg table "
            f"{input_path!r}: {e}); pass an existing parquet directory or "
            "a resolvable table id"
        ) from e


def list_units(spark: SparkSession, input_path: str, files_per_unit: int = 4) -> list[dict]:
    """Deterministic work units from the input file listing (lineage).

    NB: unit processing reads the listed data files directly, which is
    exact for parquet dirs and append-only Iceberg tables; merge-on-read
    Iceberg deletes would need snapshot-scoped planning instead."""
    return _group_units(_read_input(spark, input_path).inputFiles(), files_per_unit)


def _file_row_type(listing: DataFrame) -> StructType:
    """The row type of the listed files read by name: the listing's schema
    without its directory-partition columns (``k=v`` path segments), which a
    read of the files themselves does not produce."""
    plan = listing._jdf.queryExecution().analyzed()
    if plan.nodeName() != "LogicalRelation":  # a table, not a path
        return listing.schema
    return StructType.fromJson(json.loads(plan.relation().dataSchema().json()))


def _group_units(files, files_per_unit: int) -> list[dict]:
    files = sorted(files)
    units = []
    for i in range(0, len(files), files_per_unit):
        group = files[i : i + files_per_unit]
        units.append({"unit_id": _unit_id(group), "files": group})
    return units


class RunState:
    """Manifest store: one JSON per completed unit, written atomically."""

    def __init__(self, manifest_dir: str):
        self.dir = manifest_dir
        os.makedirs(manifest_dir, exist_ok=True)

    def completed(self) -> dict[str, dict]:
        out = {}
        for name in os.listdir(self.dir):
            if name.endswith(".json"):
                with open(os.path.join(self.dir, name)) as f:
                    m = json.load(f)
                out[m["unit_id"]] = m
        return out

    def mark_done(self, unit: dict, metrics: dict) -> None:
        manifest = {
            "unit_id": unit["unit_id"],
            "files": unit["files"],
            "metrics": metrics,
            "completed_at": time.time(),
        }
        _write_json(os.path.join(self.dir, f"{unit['unit_id']}.json"), manifest)


def _write_json(final: str, obj) -> None:
    """tmp + fsync + rename: readers see the old file or the whole new one."""
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, final)  # atomic on POSIX


class ResumableValidation:
    """Unit-at-a-time validation pass with manifest checkpoints."""

    def __init__(
        self,
        schema: dict | None = None,
        files_per_unit: int = 4,
        options: dict | None = None,
        snapshot_spec=None,
        snapshot_prep=None,
    ):
        """``snapshot_spec``: a ``snapshot.SnapshotSpec`` to also write a
        mergeable per-unit stats snapshot.  ``snapshot_prep``: optional
        ``df -> df`` projection run before snapshotting (derive stats
        columns, e.g. ``size(spans)``); defaults to identity."""
        self.job = ValidationJob(schema, options)
        self.files_per_unit = files_per_unit
        self.snapshot_spec = snapshot_spec
        self.snapshot_prep = snapshot_prep or (lambda df: df)

    def run(
        self,
        spark: SparkSession,
        input_path: str,
        out_dir: str,
        fail_after_units: int | None = None,
        on_drift: str = "error",
    ) -> dict:
        """Process all pending units; returns a summary.  ``fail_after_units``
        injects a crash after N units (for kill/rerun tests).  ``on_drift``:
        ``"error"`` refuses to resume over a changed input listing;
        ``"reset"`` drops orphaned manifests + their violation dirs and
        revalidates what the new listing requires."""
        state = RunState(os.path.join(out_dir, "manifests"))
        # the listing's inferred row type reads every unit: no per-read
        # schema-inference job, and one compiled validator per run
        listing = _read_input(spark, input_path)
        units = _group_units(listing.inputFiles(), self.files_per_unit)
        row_type = _file_row_type(listing)
        done = state.completed()
        current_ids = {u["unit_id"] for u in units}
        orphans = sorted(uid for uid in done if uid not in current_ids)
        if orphans:
            if on_drift == "reset":
                for uid in orphans:
                    os.remove(os.path.join(out_dir, "manifests", f"{uid}.json"))
                    for sub in ("violations", "snapshots"):
                        shutil.rmtree(
                            os.path.join(out_dir, sub, f"unit={uid}"),
                            ignore_errors=True,
                        )
                done = state.completed()
            else:
                raise LineageDriftError(
                    f"input listing changed since checkpoint: {len(orphans)} "
                    f"completed unit(s) no longer match the current file "
                    f"grouping (e.g. {orphans[:3]}); resume requires an "
                    "immutable input snapshot — rerun with on_drift='reset' "
                    "to invalidate them"
                )
        # sweep stale violation dirs with NO manifest (a unit that crashed
        # after its violations write but before mark_done, whose id then
        # disappeared via lineage drift).  Manifested orphans were handled
        # above, so at this point any unit=* dir outside the current listing
        # is garbage that violations_table() would double-count forever.
        for sub in ("violations", "snapshots"):
            vdir = os.path.join(out_dir, sub)
            if os.path.isdir(vdir):
                for name in os.listdir(vdir):
                    if name.startswith("unit=") and name[len("unit="):] not in current_ids:
                        shutil.rmtree(os.path.join(vdir, name), ignore_errors=True)
        pending = [u for u in units if u["unit_id"] not in done]
        grid = None
        processed = 0
        for unit in pending:
            if fail_after_units is not None and processed >= fail_after_units:
                raise RuntimeError(f"injected failure after {processed} units")
            if self.snapshot_spec is not None and grid is None:
                grid = self._snapshot_grid(spark, unit, out_dir, row_type)
            metrics = self._run_unit(spark, unit, out_dir, row_type, grid)
            state.mark_done(unit, metrics)
            processed += 1
        all_done = state.completed()
        return {
            "n_units": len(units),
            "n_skipped": len(units) - len(pending),
            "n_processed": processed,
            "totals": {
                "n_docs": sum(m["metrics"]["n_docs"] for m in all_done.values()),
                "n_invalid_docs": sum(
                    m["metrics"]["n_invalid_docs"] for m in all_done.values()
                ),
                "n_violations": sum(
                    m["metrics"]["n_violations"] for m in all_done.values()
                ),
            },
        }

    def _snapshot_grid(
        self, spark: SparkSession, unit: dict, out_dir: str, row_type: StructType
    ) -> dict:
        """Load the frozen bin grid, or freeze it from ``unit`` (the first
        pending one); ``run`` calls this once.

        Freezing from the first unit (not the whole input) keeps grid setup
        O(one unit) at 10^12 docs; later values outside that range land in
        ``width_bucket``'s edge buckets, counted rather than lost.  The grid
        lives in ``snapshot_grid.json`` beside the manifests, written like
        them; an ``out_dir`` from before that (a ``snapshot_grid/`` parquet
        dataset) is refused rather than silently given a new grid."""
        from schemasaurus_spark.operators.snapshot import _default_grid

        if os.path.isdir(os.path.join(out_dir, "snapshot_grid")):
            raise ValueError(
                f"{out_dir} holds its snapshot bin grid in the old layout "
                "(a snapshot_grid/ parquet dataset); this version keeps it in "
                "snapshot_grid.json — resume into a fresh out_dir"
            )
        path = os.path.join(out_dir, "snapshot_grid.json")
        if os.path.exists(path):
            with open(path) as f:
                # tuples, as frozen: merge_snapshots compares grids with !=
                return {c: tuple(edges) for c, edges in json.load(f).items()}
        docs = spark.read.schema(row_type).parquet(*unit["files"])
        grid = _default_grid(self.snapshot_prep(docs), self.snapshot_spec)
        _write_json(path, grid)
        return grid

    def _run_unit(
        self,
        spark: SparkSession,
        unit: dict,
        out_dir: str,
        row_type: StructType,
        grid: dict | None,
    ) -> dict:
        t0 = time.perf_counter()
        docs = spark.read.schema(row_type).parquet(*unit["files"])
        # the verdict counters ride the violations write: observed on the
        # validated frame before its ~valid filter, so they cover every row.
        # n_partitions counts non-empty input partitions without a distinct
        # aggregate: a partition's first row has monotonically_increasing_id
        # low 33 bits (the in-partition row number) all zero
        obs = Observation()
        first_in_partition = (
            F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1) == 0
        )
        validated = self.job.validated(docs).observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(~F.col("valid"), 1)).alias("n_invalid_docs"),
            F.coalesce(F.sum(F.size("errors")), F.lit(0)).alias("n_violations"),
            F.count(F.when(first_in_partition, 1)).alias("n_partitions"),
        )
        # violations sink (full error records), overwrite => crash-idempotent
        self.job.violations(validated).write.mode("overwrite").parquet(
            os.path.join(out_dir, "violations", f"unit={unit['unit_id']}")
        )
        m = obs.get
        if self.snapshot_spec is not None:
            from schemasaurus_spark.operators.snapshot import write_snapshot

            write_snapshot(
                self.snapshot_prep(docs),
                self.snapshot_spec,
                os.path.join(out_dir, "snapshots", f"unit={unit['unit_id']}"),
                grid=grid,
            )
        return {
            **m,
            "all_pass": m["n_invalid_docs"] == 0,
            "wall_s": round(time.perf_counter() - t0, 3),
        }


def violations_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """All violation rows accumulated across completed units."""
    return spark.read.parquet(os.path.join(out_dir, "violations"))


def merged_snapshot(spark: SparkSession, out_dir: str):
    """Corpus stats snapshot folded from MANIFESTED units only.

    A unit that crashed after its snapshot write but before its manifest is
    excluded (it will be rewritten on resume — overwrite-idempotent), so
    every row of input contributes exactly once.  The merge itself touches
    only the metadata-sized snapshot frames, never the data files."""
    from schemasaurus_spark.operators.snapshot import merge_snapshots

    done = RunState(os.path.join(out_dir, "manifests")).completed()
    paths = [
        os.path.join(out_dir, "snapshots", f"unit={uid}")
        for uid in sorted(done)
        if os.path.isdir(os.path.join(out_dir, "snapshots", f"unit={uid}"))
    ]
    if not paths:
        raise ValueError(f"no manifested unit snapshots under {out_dir}/snapshots")
    return merge_snapshots(spark, paths)
