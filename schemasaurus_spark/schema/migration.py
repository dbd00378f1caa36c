"""Schema-evolution impact analysis: validate one corpus under TWO schema
versions in a single scan and report what a migration would break or fix.

The day-2 problem of a validation engine is not "is this corpus valid" but
"can I tighten (or loosen) the contract without breaking producers" — the
reference answers it one instance at a time by re-running ``validate`` with
the new schema (schemasaurus README's validate usage, /root/reference/
README.md); at 10^12 documents the only affordable answer is both verdicts
from ONE pass over the data.

Design (scale notes):

* Both schemas compile to native-Column predicate sets (``ColumnValidator``)
  and land in the SAME projection over one scan, so the corpus is read once
  (asserted on the physical plan in tests/test_migration.py).  Each error
  array is gated behind its schema's violation count.  Zero shuffles until
  the 4-row rollup.
* ``migration_matrix`` is the executive answer (at most 4 rows: the
  valid_old × valid_new transition counts) — one map-side-combined
  aggregate over two booleans.  The verdicts read the counts only, so the
  optimizer prunes both error arrays out of it.
* ``breaking_violations`` is the actionable answer: for documents the
  migration REGRESSES (valid under old, invalid under new) the exploded
  new-schema violation rows (code, JSON-pointer path, offending value,
  keyword argument) in the engine's standard error shape.  Docs that were
  valid under the old schema had zero old errors, so every exploded error
  is by definition newly introduced by the schema change — no error-level
  anti-join needed.  The explode touches only regressed docs (filter first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .columns import ColumnValidator, verdict


def migration_impact(
    df: DataFrame,
    old_schema: dict,
    new_schema: dict,
    options_old: dict | None = None,
    options_new: dict | None = None,
) -> DataFrame:
    """Append ``valid_old`` / ``valid_new`` verdicts and ``errors_new`` to
    every row — both schema versions evaluated in one projection.

    Both error expressions are compiled against the PRISTINE row struct:
    chaining two ``apply`` calls would feed the second validator the first
    one's appended errors/valid columns as row fields — which a root
    ``additionalProperties: false`` schema (the north-rule flagship)
    would correctly reject, poisoning every verdict."""
    row_type = df.schema
    errs_old, valid_old = verdict(*ColumnValidator(old_schema, options_old).trees(row_type))
    errs_new, valid_new = verdict(*ColumnValidator(new_schema, options_new).trees(row_type))
    return df.withColumns({
        "errors_old": errs_old, "valid_old": valid_old,
        "errors_new": errs_new, "valid_new": valid_new,
    })


def migration_matrix(
    df: DataFrame,
    old_schema: dict,
    new_schema: dict,
    options_old: dict | None = None,
    options_new: dict | None = None,
) -> DataFrame:
    """``(valid_old, valid_new, n_docs)`` transition counts — at most 4 rows.

    valid→invalid rows are the migration's breakage, invalid→valid rows are
    what a loosening forgives; the diagonal is the no-op mass.
    """
    impact = migration_impact(df, old_schema, new_schema, options_old, options_new)
    return impact.groupBy("valid_old", "valid_new").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def breaking_violations(
    df: DataFrame,
    old_schema: dict,
    new_schema: dict,
    id_col: str = "doc_id",
    options_old: dict | None = None,
    options_new: dict | None = None,
) -> DataFrame:
    """New-schema violation rows for documents the migration regresses
    (``valid_old AND NOT valid_new``): one row per (doc, violation) with
    ``(id, code, json_pointer, value, arg)``."""
    impact = migration_impact(df, old_schema, new_schema, options_old, options_new)
    return (
        impact.where(F.col("valid_old") & ~F.col("valid_new"))
        .select(id_col, F.explode("errors_new").alias("err"))
        .select(
            id_col,
            F.col("err.code").alias("code"),
            F.col("err.path").alias("json_pointer"),
            F.col("err.value").alias("value"),
            F.col("err.arg").alias("arg"),
        )
    )
