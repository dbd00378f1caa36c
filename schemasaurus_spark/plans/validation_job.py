"""End-to-end validation pass over the interleaved documents table:

documents --ColumnValidator--> +errors +valid
   ├── violations:  explode errors -> (doc_id, span_idx, keyword, json_pointer, ...)
   └── verdicts:    per-partition pass/fail + counts (two-phase, no collapse)

The validation itself is one projection (no shuffle, no UDF, no explode on
the verdict path).  ``DOCUMENT_SCHEMA`` validates ``spans`` with
higher-order functions, which run outside whole-stage codegen: that
``Project`` carries no ``*(n)`` marker in ``explain()``.  Only the
violations sink explodes and only the verdict aggregation shuffles — and
that shuffle is pre-reduced by partition before it moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schemasaurus_spark.schema.columns import ColumnValidator

# flagship document schema (FIXTURES.md §4) — mirrors the reference keyword
# coverage over the north-rule table shape
DOCUMENT_SCHEMA: dict = {
    "type": "object",
    "properties": {
        "doc_id": {
            "type": "string",
            "required": True,
            "pattern": "^[a-z0-9-]{4,64}$",
        },
        "spans": {
            "type": "array",
            "minItems": 1,
            "maxItems": 1024,
            "items": {
                "type": "object",
                "properties": {
                    "kind": {
                        "type": "string",
                        "required": True,
                        "enum": ["text", "image", "audio", "ref"],
                    },
                    "text": {"type": "string", "minLength": 0, "maxLength": 4096},
                    "media_ref": {"type": "string", "format": "uri"},
                    "offset": {"type": "integer", "minimum": 0},
                },
                "additionalProperties": False,
            },
        },
    },
    "additionalProperties": False,
}


class ValidationJob:
    def __init__(self, schema: dict | None = None, options: dict | None = None):
        self.schema = schema or DOCUMENT_SCHEMA
        self.validator = ColumnValidator(self.schema, options)

    def validated(self, docs: DataFrame) -> DataFrame:
        """Append full error records + valid, the error array gated behind
        the violation count (``ColumnValidator.apply``)."""
        return self.validator.apply(docs)

    def counted(self, docs: DataFrame) -> DataFrame:
        """Append ``n_violations`` + valid — the verdict fast path."""
        return self.validator.counted(docs)

    def violations(self, validated: DataFrame, id_col: str = "doc_id") -> DataFrame:
        """One row per violation: (doc_id, span_idx, keyword, json_pointer,
        code, message, value, arg) — the north-rule output contract."""
        # explode an expression, not the ``errors`` column: for a column the
        # optimizer infers ``size(errors) > 0`` and pushes it below the
        # validation projection, where it rebuilds every invalid row's
        # error array just to test it
        invalid = ~F.col("valid")
        ex = validated.where(invalid).select(
            F.col(id_col),
            F.posexplode(F.when(invalid, F.col("errors"))).alias("err_idx", "err"),
        )
        # span_idx is NULL for violations not under /spans/<i> (root-level
        # required, or a custom flat schema) — an unconditional cast of the
        # empty regexp_extract result crashes under ANSI mode
        _sidx = F.regexp_extract("err.path", r"^/spans/(\d+)", 1)
        return ex.select(
            id_col,
            F.when(_sidx != "", _sidx.cast("int")).alias("span_idx"),
            F.col("err.code").alias("keyword"),
            F.col("err.path").alias("json_pointer"),
            F.col("err.code").alias("code"),
            F.col("err.message").alias("message"),
            F.col("err.value").alias("value"),
            F.col("err.arg").alias("arg"),
            F.col("err_idx"),
        )

    def verdicts(self, validated: DataFrame) -> DataFrame:
        """Per-input-partition pass/fail + metrics.  The groupBy key is the
        physical partition id, so the partial aggregation is map-side-complete
        (one row per partition reaches the shuffle — no single-reducer
        collapse at any scale).  Accepts either a ``validated`` frame (full
        error records) or a ``counted`` frame (fast path)."""
        n_errs = (
            F.col("n_violations")
            if "n_violations" in validated.columns
            else F.size("errors")
        )
        return (
            validated.select(
                F.spark_partition_id().alias("partition_id"),
                F.col("valid"),
                n_errs.alias("n_errs"),
            )
            .groupBy("partition_id")
            .agg(
                F.bool_and("valid").alias("pass"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum((~F.col("valid")).cast("long")).alias("n_invalid_docs"),
                F.sum("n_errs").alias("n_violations"),
            )
        )

    def span_sequence(self, docs: DataFrame) -> DataFrame:
        """Per-row span-sequence invariant (kind, text, media_ref, order) —
        asserted against the reference semantics (BASELINE.json input_hint).

        Emitted as flat exploded rows — one row per span, 0-based ``order``
        from posexplode — so the projection is directly comparable (and
        SQL-expressible) across engines."""
        return docs.select(
            "doc_id", F.posexplode("spans").alias("order", "span")
        ).select(
            "doc_id",
            "order",
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.media_ref").alias("media_ref"),
        )

    def span_sequence_nested(self, docs: DataFrame) -> DataFrame:
        """No-explode variant: span sequence as an array column built with a
        ``transform`` HOF — same information, one row per doc (useful when
        the downstream consumer wants the doc row shape preserved)."""
        return docs.select(
            "doc_id",
            F.transform(
                "spans",
                lambda s, i: F.struct(
                    s.getField("kind").alias("kind"),
                    s.getField("text").alias("text"),
                    s.getField("media_ref").alias("media_ref"),
                    i.alias("order"),
                ),
            ).alias("span_seq"),
        )
