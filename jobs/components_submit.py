"""spark-submit entrypoint for near-dup component maintenance — the batch
production surface of ``dedup.connected_components`` /
``dedup.incremental_components``:

    # bootstrap: cluster a pair table from scratch
    spark-submit --py-files dist/schemasaurus_spark.zip jobs/components_submit.py \
        --pairs /data/near_dup_pairs --output /data/components

    # ingest: merge a batch of new pairs into the existing assignment
    spark-submit --py-files dist/schemasaurus_spark.zip jobs/components_submit.py \
        --pairs /data/batch_pairs --assignment /data/components/assignment \
        --output /data/components_next [--delta-out /data/deltas/batch42] \
        [--with-counts]

Outputs ``assignment/`` (full (id, comp_id) labeling, min-id convention)
and ``report.json``.  Ingest mode streams the prior assignment through
the broadcast lookup + relabel passes (never shuffles it) and reports
``touched_roots`` / ``new_nodes`` / ``cc_rounds`` — all batch-sized
metadata; ``--delta-out`` additionally persists the batch's remap/new
rows in the streaming delta-log row shape (kind, x, y) for log-structured
consumers (streaming/components_stream.py reads the same shape).
``--with-counts`` adds n_ids / n_components (one extra aggregate over the
output — off by default at corpus scale).

Continuous ingest belongs to streaming/components_stream.py; this CLI is
the bootstrap + scheduled-batch path.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

try:
    import schemasaurus_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_session() -> SparkSession:
    return (
        SparkSession.builder.appName("schemasaurus_spark.components")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", required=True, help="parquet dir of (id_a, id_b) pairs")
    ap.add_argument(
        "--assignment",
        default=None,
        help="existing assignment parquet (id, comp_id) -> ingest mode; "
        "omit for bootstrap",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-a", default="id_a")
    ap.add_argument("--id-b", default="id_b")
    ap.add_argument(
        "--delta-out",
        default=None,
        help="(ingest mode) also write the batch delta rows (kind, x, y)",
    )
    ap.add_argument("--with-counts", action="store_true")
    ap.add_argument("--max-iter", type=int, default=25)
    args = ap.parse_args()

    from schemasaurus_spark.operators.dedup import (
        connected_components,
        incremental_component_delta,
        incremental_components,
    )
    from schemasaurus_spark.sources.io import write_text_file

    spark = build_session()
    report: dict = {"config": dict(vars(args)), "mode": "ingest" if args.assignment else "bootstrap"}
    try:
        pairs = spark.read.parquet(args.pairs)
        out_path = os.path.join(args.output, "assignment")
        if args.assignment is None:
            merged = connected_components(
                pairs, args.id_a, args.id_b, args.max_iter, report
            )
        else:
            assignment = spark.read.parquet(args.assignment)
            if args.delta_out:
                remap, new_rows = incremental_component_delta(
                    assignment, pairs, args.id_a, args.id_b, args.max_iter, report
                )
                from schemasaurus_spark.operators.dedup import _apply_component_remap

                delta = remap.select(
                    F.lit("remap").alias("kind"),
                    F.col("old_comp").alias("x"),
                    F.col("new_comp").alias("y"),
                ).unionByName(
                    new_rows.select(
                        F.lit("new").alias("kind"),
                        F.col("id").alias("x"),
                        F.col("comp_id").alias("y"),
                    )
                )
                delta.write.mode("overwrite").parquet(args.delta_out)
                merged = _apply_component_remap(assignment, remap).unionByName(new_rows)
            else:
                merged = incremental_components(
                    assignment, pairs, args.id_a, args.id_b, args.max_iter, report
                )
        merged.write.mode("overwrite").parquet(out_path)
        if args.with_counts:
            row = spark.read.parquet(out_path).agg(
                F.count(F.lit(1)).alias("n_ids"),
                F.countDistinct("comp_id").alias("n_components"),
            ).collect()[0]
            report["n_ids"] = int(row["n_ids"])
            report["n_components"] = int(row["n_components"])
        write_text_file(
            spark, os.path.join(args.output, "report.json"), json.dumps(report, indent=2)
        )
        print(json.dumps({k: v for k, v in report.items() if k != "config"}))
    finally:
        spark.stop()
    sys.exit(0)


if __name__ == "__main__":
    main()
