"""spark-submit entrypoint for the north-rule validation pass.

    spark-submit --py-files dist/schemasaurus_spark.zip jobs/validate_submit.py \
        --input  /data/documents        (parquet dir; or an Iceberg table id
                                         when the iceberg-spark runtime jar
                                         is on the classpath — append-only
                                         tables, file-listing lineage) \
        --output /data/validation_out   (violations/ + manifests/ + verdicts.json) \
        [--schema schema.json] [--files-per-unit 16] [--resume]
        [--on-drift error|reset]
        [--sequence-checks]             (cross-span order/overlap/conditional-
                                         field violations -> sequence_violations/
                                         parquet + per-code counts in the summary;
                                         one extra scan, zero shuffles) \
        [--gate rules.json]             (declarative corpus-level rule suite,
                                         one aggregate pass -> gate rows in the
                                         summary; JSON: list of
                                         {rule_id, metric, op, threshold,
                                          [column], [threshold_hi]}) \
        [--gate-strict]                 (exit 3 if any gate rule fails)
        [--snapshot-numeric c1,c2] [--snapshot-categorical c3]
        [--snapshot-derive 'size(spans) AS n_spans']
                                        (write mergeable per-unit stats
                                         snapshots during the pass) \
        [--gate-source scan|snapshot]   (snapshot: answer the gate from the
                                         merged unit snapshots — ZERO extra
                                         corpus scans)

Prints the summary as one JSON line on stdout and, on stderr, one line per
manifested unit: unit id, docs, invalid docs, violations and wall_s.

On a cluster the session comes from spark-submit's conf (master, executor
counts, memory); this script only sets engine-level SQL conf.  Without
--resume the output dir's manifests are ignored and everything reruns.
Resume requires an immutable input snapshot: if the file listing changed,
the run aborts with LineageDriftError unless --on-drift reset is given
(which invalidates the orphaned units and revalidates as needed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from pyspark.sql import SparkSession

# spark-submit ships the package via --py-files; when run as plain
# `python jobs/validate_submit.py` (local mode / smoke tests) fall back to
# the repo root so the driver-side import resolves
try:
    import schemasaurus_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_session() -> SparkSession:
    return (
        SparkSession.builder.appName("schemasaurus_spark.validate")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--schema", default=None, help="JSON Schema file (default: north-rule document schema)")
    ap.add_argument("--files-per-unit", type=int, default=16)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--on-drift", choices=["error", "reset"], default="error")
    ap.add_argument("--sequence-checks", action="store_true")
    ap.add_argument("--gate", default=None, help="quality-rule suite JSON file")
    ap.add_argument("--gate-strict", action="store_true")
    ap.add_argument(
        "--gate-source",
        choices=["scan", "snapshot"],
        default="scan",
        help="evaluate --gate by rescanning the input (scan) or from the "
        "merged per-unit stats snapshot (snapshot; zero extra scans — "
        "requires --snapshot-numeric/--snapshot-categorical)",
    )
    ap.add_argument(
        "--snapshot-numeric",
        default=None,
        help="comma-separated columns to track numerically in per-unit "
        "mergeable stats snapshots",
    )
    ap.add_argument(
        "--snapshot-categorical",
        default=None,
        help="comma-separated columns to track categorically",
    )
    ap.add_argument(
        "--snapshot-derive",
        action="append",
        default=[],
        metavar="'EXPR AS alias'",
        help="SQL projection(s) added before snapshotting (repeatable), "
        "e.g. 'size(spans) AS n_spans' — how nested span shapes become "
        "trackable stats columns",
    )
    args = ap.parse_args()

    snap_numeric = tuple(
        c for c in (args.snapshot_numeric or "").split(",") if c
    )
    snap_categorical = tuple(
        c for c in (args.snapshot_categorical or "").split(",") if c
    )
    if args.gate_source == "snapshot" and not args.gate:
        ap.error("--gate-source snapshot requires --gate")
    if args.gate_source == "snapshot" and not (snap_numeric or snap_categorical):
        ap.error(
            "--gate-source snapshot requires --snapshot-numeric and/or "
            "--snapshot-categorical so per-unit snapshots are written"
        )

    from schemasaurus_spark.runstate import ResumableValidation, RunState

    schema = None
    if args.schema:
        with open(args.schema) as f:
            schema = json.load(f)

    if not args.resume and os.path.isdir(os.path.join(args.output, "manifests")):
        shutil.rmtree(os.path.join(args.output, "manifests"))

    gate_rules = None
    if args.gate:
        from schemasaurus_spark.operators.quality_gate import load_rules

        with open(args.gate) as f:
            gate_rules = load_rules(json.load(f))  # validate BEFORE any Spark work

    snapshot_spec = None
    snapshot_prep = None
    if snap_numeric or snap_categorical:
        from schemasaurus_spark.operators.snapshot import SnapshotSpec

        snapshot_spec = SnapshotSpec(
            numeric=snap_numeric, categorical=snap_categorical
        )
        if args.snapshot_derive:
            derives = list(args.snapshot_derive)
            snapshot_prep = lambda df: df.selectExpr("*", *derives)  # noqa: E731

    spark = build_session()
    rv = ResumableValidation(
        schema,
        files_per_unit=args.files_per_unit,
        snapshot_spec=snapshot_spec,
        snapshot_prep=snapshot_prep,
    )
    summary = rv.run(spark, args.input, args.output, on_drift=args.on_drift)
    # the manifests are the per-unit metrics log: one stderr line per unit.
    # Wall times stay out of the summary so that it is a function of the
    # input alone (manifests from before wall_s existed print None)
    manifests = RunState(os.path.join(args.output, "manifests")).completed()
    for m in sorted(manifests.values(), key=lambda m: m["completed_at"]):
        u = m["metrics"]
        print(
            f"unit {m['unit_id']}: docs={u['n_docs']} "
            f"invalid_docs={u['n_invalid_docs']} violations={u['n_violations']} "
            f"wall_s={u.get('wall_s')}",
            file=sys.stderr,
        )

    if args.sequence_checks:
        from schemasaurus_spark.operators.span_integrity import (
            span_integrity_violations,
        )

        seq = span_integrity_violations(spark.read.parquet(args.input))
        seq.write.mode("overwrite").parquet(
            os.path.join(args.output, "sequence_violations")
        )
        counts = dict(
            spark.read.parquet(os.path.join(args.output, "sequence_violations"))
            .groupBy("code")
            .count()
            .collect()
        )
        summary["sequence_violations"] = {k: int(v) for k, v in sorted(counts.items())}

    gate_failed = False
    if gate_rules is not None:
        if args.gate_source == "snapshot":
            from schemasaurus_spark.operators.quality_gate import snapshot_gate
            from schemasaurus_spark.runstate import merged_snapshot

            gate_df = snapshot_gate(
                spark, merged_snapshot(spark, args.output), gate_rules
            )
        else:
            from schemasaurus_spark.operators.quality_gate import quality_gate

            gate_df = quality_gate(spark.read.parquet(args.input), gate_rules)
        rows = [r.asDict() for r in gate_df.collect()]
        summary["gate"] = rows
        gate_failed = any(not r["passed"] for r in rows)
        summary["gate_passed"] = not gate_failed

    from schemasaurus_spark.sources.io import write_text_file

    write_text_file(
        spark,
        os.path.join(args.output, "verdicts.json"),
        json.dumps(summary, indent=2),
    )
    print(json.dumps(summary))
    spark.stop()
    sys.exit(3 if (gate_failed and args.gate_strict) else 0)


if __name__ == "__main__":
    main()
