"""Versioned-schema validation (the schema-registry pattern): a real
corpus is heterogeneous — producers migrate, so rows carry a schema
version and each version validates against ITS declared schema, not one
lowest-common-denominator contract.

The reference validates one value against one schema
(/root/reference/src/v4validator.js); routing is engine territory: the
registry compiles EVERY version's schema through the same Column backend
(schema/columns.py) once, then dispatches rows by their version column.

Scale shape: one scan, zero shuffles.  Per version the validator is a
pure Column expression tree, so routing is
``CASE WHEN version = v THEN <v's count/errors expression> ...`` — every
version's checks are evaluated lazily per row (Catalyst's CaseWhen is
short-circuiting), and the routed error array is gated behind the routed
violation count (``columns.verdict``).  The alternative
(filter + validate + union per version) scans the corpus once PER
VERSION; the CASE form is the one-pass fusion of it, identical output.
Unknown versions fail closed: ``valid = false`` with a single
``schemaVersion`` violation naming the unregistered version — silently
passing unversioned rows is how contract rot starts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .columns import ColumnValidator, verdict

__all__ = ["SchemaRegistry"]


class SchemaRegistry:
    """``{version: draft4-schema}`` compiled once, applied per row by a
    version column."""

    def __init__(self, schemas: dict, options: dict | None = None):
        if not schemas:
            raise ValueError("SchemaRegistry: need at least one version")
        self._validators = {
            str(v): ColumnValidator(schema, options) for v, schema in schemas.items()
        }

    def validate(self, df: DataFrame, version_col: str = "schema_version") -> DataFrame:
        """``df`` + ``valid`` (boolean) + ``errors`` (array of error
        structs), each row judged by its own version's schema; rows with
        an unregistered (or NULL) version get ``valid=false`` and one
        ``schemaVersion`` error carrying the offending value."""
        if version_col not in df.columns:
            raise ValueError(f"SchemaRegistry.validate: no column {version_col!r}")
        ver = F.col(version_col).cast("string")

        # one CASE routes each row's violation count, one its error records,
        # both over the SAME row struct — one scan, no union, no re-read.
        # The records are gated behind the routed count, so a row evaluates
        # its version's count once for both ``errors`` and ``valid``.  An
        # unknown version counts as one violation, its record built by any
        # version's validator.
        trees = {v: cv.trees(df.schema) for v, cv in self._validators.items()}
        any_validator = next(iter(self._validators.values()))
        unknown = any_validator.one_error(
            "schemaVersion", "unregistered schema version", F.coalesce(ver, F.lit("null"))
        )
        count = _route(ver, {v: n for v, (n, _) in trees.items()}, F.lit(1))
        records = _route(ver, {v: e for v, (_, e) in trees.items()}, unknown)
        errors, valid = verdict(count, records)
        return df.withColumns({"errors": errors, "valid": valid})


def _route(ver: Column, exprs: dict, otherwise: Column) -> Column:
    """``CASE WHEN ver = v THEN exprs[v] ... ELSE otherwise END``."""
    (v0, first), *rest = exprs.items()
    out = F.when(ver == F.lit(v0), first)
    for v, expr in rest:
        out = out.when(ver == F.lit(v), expr)
    return out.otherwise(otherwise)
