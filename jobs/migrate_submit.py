"""spark-submit entrypoint for schema-migration impact analysis — the
static → measured loop of schema/compat.py + schema/migration.py as a CI
gate:

    spark-submit --py-files dist/schemasaurus_spark.zip jobs/migrate_submit.py \
        --input /data/documents          (parquet dir of the corpus) \
        --schema-old old.json --schema-new new.json \
        --output /data/migration_out \
        [--static-only]                  (skip the corpus entirely) \
        [--scan-if-compatible]           (measure even when the static
                                          verdict is all-widening) \
        [--fail-on-breaking]             (exit 2 if any document regresses)

Two-stage cost model: the STATIC analysis is O(schema) driver-side — when
every delta widens, no old-valid document can regress (the analyzer's
soundness contract), so the default skips the 10^12-doc scan outright and
only a narrowing/incomparable verdict pays for the measured pass.  The
measured pass reads the corpus ONCE (both validators fused into a single
projection): ``matrix/`` (the 4-row verdict transition counts) plus
``breaking/`` (per-doc new-schema violation rows for regressed docs), and
``report.json`` carries the deltas, the verdict and the measured counts.

Exit codes: 0 ok; 2 breaking regressions found (with --fail-on-breaking).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys

from pyspark.sql import SparkSession

try:
    import schemasaurus_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_session() -> SparkSession:
    return (
        SparkSession.builder.appName("schemasaurus_spark.migrate")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--schema-old", required=True)
    ap.add_argument("--schema-new", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--static-only", action="store_true")
    ap.add_argument(
        "--scan-if-compatible",
        action="store_true",
        help="run the measured pass even when the static verdict is "
        "all-widening (audit mode)",
    )
    ap.add_argument("--fail-on-breaking", action="store_true")
    args = ap.parse_args()

    from schemasaurus_spark.schema.compat import is_backward_compatible, schema_delta
    from schemasaurus_spark.schema.migration import (
        breaking_violations,
        migration_matrix,
    )
    from schemasaurus_spark.sources.io import write_text_file

    with open(args.schema_old) as f:
        old_schema = json.load(f)
    with open(args.schema_new) as f:
        new_schema = json.load(f)

    deltas = schema_delta(old_schema, new_schema)
    compatible = is_backward_compatible(old_schema, new_schema)
    report: dict = {
        "config": {k: v for k, v in vars(args).items()},
        "static": {
            "compatible": compatible,
            "deltas": [dataclasses.asdict(d) for d in deltas],
            "n_narrowing": sum(d.kind == "narrowing" for d in deltas),
            "n_widening": sum(d.kind == "widening" for d in deltas),
            "n_incomparable": sum(d.kind == "incomparable" for d in deltas),
        },
    }

    n_breaking = 0
    measure = not args.static_only and (not compatible or args.scan_if_compatible)
    spark = build_session()
    try:
        if measure:
            docs = spark.read.parquet(args.input)
            matrix = migration_matrix(docs, old_schema, new_schema)
            matrix.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(args.output, "matrix")
            )
            cells = {
                (r["valid_old"], r["valid_new"]): r["n_docs"]
                for r in spark.read.parquet(os.path.join(args.output, "matrix")).collect()
            }
            breaking = breaking_violations(docs, old_schema, new_schema)
            breaking.write.mode("overwrite").parquet(
                os.path.join(args.output, "breaking")
            )
            n_breaking = cells.get((True, False), 0)
            report["measured"] = {
                "matrix": {f"{o}->{n}": int(c) for (o, n), c in sorted(cells.items())},
                "breaking_docs": int(n_breaking),
                "forgiven_docs": int(cells.get((False, True), 0)),
            }
        else:
            report["measured"] = None
            report["skipped_scan_reason"] = (
                "static-only requested"
                if args.static_only
                else "statically backward-compatible (all deltas widen)"
            )
        write_text_file(
            spark, os.path.join(args.output, "report.json"), json.dumps(report, indent=2)
        )
        print(json.dumps(report["static"] | {"breaking_docs": int(n_breaking)}))
    finally:
        spark.stop()
    if args.fail_on_breaking and n_breaking > 0:
        sys.exit(2)
    sys.exit(0)


if __name__ == "__main__":
    main()
