"""Arrow-batch walker backend: reference-exact validation for *dynamic*
JSON payloads (union types, heterogeneous arrays, true missing-vs-null,
recursive $ref, custom ``conform`` callables) that the static Column
compiler cannot express.

The schema is compiled ONCE per executor python worker (the walker is the
same closure-specializing compiler the driver uses for fixture parity —
the reference's `new Function` JIT analog, /root/reference/src/compiler.js:294-311);
``mapInPandas`` then streams Arrow record batches through it.  The batch
boundary, worker reuse, and Arrow transfer are the scale story; the
per-value walk is the price of full dynamic semantics and is the
documented fallback path (SURVEY.md §3.4) — typed tables take the
native-Column backend instead.
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql import DataFrame

ERRORS_DDL = (
    "errors array<struct<code:string,message:string,value:string,"
    "arg:string,path:string>>, valid boolean"
)


def _pointer(path) -> str:
    if not path:
        return ""
    return "/" + "/".join(str(p).replace("~", "~0").replace("/", "~1") for p in path)


def _stringify(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"))
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


class _JsonWalker:
    """The scaffold the two walker classes share: the ``on_parse_error``
    check, the ``keep`` -> output DDL, and the compile-once-per-worker
    ``mapInPandas`` loop."""

    def __init__(
        self,
        schema: dict,
        options: dict | None = None,
        on_parse_error: str = "record",
    ):
        """``on_parse_error``: what a malformed JSON text yields —
        ``"record"`` (the class's parse-error row) or ``"raise"`` to fail the
        task.  Parsing is our extension: the reference takes already-parsed
        values, so it has no counterpart to mirror here."""
        if on_parse_error not in ("record", "raise"):
            raise ValueError(f"on_parse_error must be record|raise, got {on_parse_error!r}")
        self.schema = schema
        self.options = options
        self.on_parse_error = on_parse_error

    def _map(self, df: DataFrame, json_col: str, keep: list[str] | None,
             out_ddl: str, out_cols: tuple[str, ...], compile_row) -> DataFrame:
        """``keep`` columns plus ``out_cols``, whose values ``row(text)``
        returns as a tuple; ``compile_row()`` makes ``row`` once per worker,
        so every batch reuses the compiled walker."""
        keep = keep or []
        ddl = ", ".join(
            [f"{c} {df.schema[c].dataType.simpleString()}" for c in keep] + [out_ddl]
        )

        def run(batches: Iterator) -> Iterator:
            import pandas as pd

            row = compile_row()
            for pdf in batches:
                vals = [row(s) for s in pdf[json_col]]
                out = pd.DataFrame({c: pdf[c] for c in keep})
                for i, c in enumerate(out_cols):
                    out[c] = [v[i] for v in vals]
                yield out

        return df.mapInPandas(run, ddl)


class BatchValidator(_JsonWalker):
    """validate a JSON-string column with reference-exact walker semantics.

    >>> BatchValidator(schema).apply_json(df, "doc_json", keep=["doc_id"])
    DataFrame[doc_id, errors, valid]

    A malformed JSON text is an invalid row with a single ``jsonParse``
    error (path "", value = the offending text) unless ``on_parse_error``
    is ``"raise"``.
    """

    def apply_json(
        self, df: DataFrame, json_col: str, keep: list[str] | None = None
    ) -> DataFrame:
        schema, options = self.schema, self.options
        strict = self.on_parse_error == "raise"

        def compile_row():
            from schemasaurus_spark.schema.walker import new_validator

            validate = new_validator(schema, options)

            def row(s):
                try:
                    val = json.loads(s) if s is not None else None
                except ValueError as exc:
                    if strict:
                        raise
                    err = {"code": "jsonParse", "message": str(exc), "value": s,
                           "arg": None, "path": ""}
                    return [err], False
                res = validate(val)
                errors = [
                    {
                        "code": e["code"],
                        "message": e["message"],
                        "value": _stringify(e["value"]),
                        "arg": _stringify(e.get("arg")),
                        "path": _pointer(e["path"]),
                    }
                    for e in res["errors"]
                ]
                return errors, res["valid"]

            return row

        return self._map(df, json_col, keep, ERRORS_DDL, ("errors", "valid"), compile_row)


def validate_json_column(
    df: DataFrame, schema: dict, json_col: str,
    keep: list[str] | None = None, options: dict | None = None,
) -> DataFrame:
    return BatchValidator(schema, options).apply_json(df, json_col, keep)


class BatchNormalizer(_JsonWalker):
    """Normalize a JSON-string column with reference-exact walker
    semantics (defaults, additionalProperty removal, type coercions) —
    the ELT companion to :class:`BatchValidator`.

    >>> BatchNormalizer(schema).apply_json(df, "doc_json", keep=["doc_id"])
    DataFrame[doc_id, normalized]

    ``normalized`` is the normalized value re-serialized as compact JSON.
    Serialization is deterministic: python dicts preserve insertion order
    exactly as the reference's JS objects do, so round-tripping keeps the
    reference's key order (including keys appended by ``[default]``).
    Malformed input rows yield NULL ``normalized`` (or raise, matching
    ``on_parse_error``)."""

    def apply_json(
        self, df: DataFrame, json_col: str, keep: list[str] | None = None
    ) -> DataFrame:
        schema, options = self.schema, self.options
        strict = self.on_parse_error == "raise"

        def compile_row():
            from schemasaurus_spark.schema.walker import new_normalizer

            normalize = new_normalizer(schema, options)

            def row(s):
                if s is None:
                    return (None,)
                try:
                    val = json.loads(s)
                except ValueError:
                    if strict:
                        raise
                    return (None,)
                return (json.dumps(normalize(val), separators=(",", ":")),)

            return row

        return self._map(df, json_col, keep, "normalized string", ("normalized",), compile_row)


def normalize_json_column(
    df: DataFrame, schema: dict, json_col: str,
    keep: list[str] | None = None, options: dict | None = None,
) -> DataFrame:
    return BatchNormalizer(schema, options).apply_json(df, json_col, keep)
