"""Columnar normalizer: compile the reference normalizer's transforms
(/root/reference/src/normalizer.js) into a typed ``DataFrame -> DataFrame``
projection — defaults, undeclared-property removal, JS type coercions —
all built-in Columns, no UDF, one select.

Semantics ported from normalizer.js:8-44 (and its spec,
test/normalizer_spec.js):

* ``[default]``            — null -> ``schema.default`` (coalesce);
* ``[additionalProperty]`` — when a node declares ``properties``, undeclared
  struct fields are dropped from the output projection (the reference
  removes extra keys whenever properties are declared, spec :33-42);
* ``[type]`` coercions (normalizer.js:16-44), JS-faithful:
  - string : ``toString()``             -> cast("string") / to_json for
             containers (JS stringifies differently, documented deviation);
  - integer: ``parseInt(x)``            -> leading-integer extract (\"22px\"
             -> 22, \"abc\" -> null/NaN);
  - number : ``parseFloat(x)``          -> leading-float extract;
  - boolean: 'true'/'on' -> true, 'false'/'off' -> false, else JS truthy
             (non-empty string / non-zero number);
  - array  : wrap non-array value as [x];
  - null/object: no-op.

Coercions that change a column's Spark type (string -> bigint) retype the
output schema — the static analog of the reference mutating a JS value's
runtime type.  Like the reference, a value filled in by ``default`` is NOT
subsequently coerced (normalizer fires default before type on the same
node but the value binding is not refreshed — walker.py Normalizer doc).

Dynamic payloads (union types, heterogeneous arrays) stay on the walker
backend; this module raises SchemaUnsupportedError for them.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schemasaurus_spark.schema.columns import SchemaUnsupportedError, _is_undef, ref_step

_INT_RE = r"^[+-]?\d+"
_FLOAT_RE = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?"


def _js_parse_int(col: Column) -> Column:
    lead = F.regexp_extract(F.trim(col.cast("string")), _INT_RE, 0)
    return F.when(lead == "", F.lit(None).cast("bigint")).otherwise(lead.cast("bigint"))


def _js_parse_float(col: Column) -> Column:
    lead = F.regexp_extract(F.trim(col.cast("string")), _FLOAT_RE, 0)
    return F.when(lead == "", F.lit(None).cast("double")).otherwise(lead.cast("double"))


def _js_truthy(col: Column, dtype) -> Column:
    if isinstance(dtype, T.BooleanType):
        return col
    if isinstance(dtype, T.StringType):
        lowered = F.lower(col)
        return (
            F.when(lowered.isin("true", "on"), F.lit(True))
            .when(lowered.isin("false", "off"), F.lit(False))
            .otherwise(F.length(col) > 0)  # JS Boolean(non-empty) == true
        )
    if isinstance(dtype, T.NumericType):
        return col.cast("double") != 0
    # objects/arrays are truthy; null handled by caller (coercions skip null)
    return F.lit(True)


class ColumnNormalizer:
    """Compile once against a typed schema; ``apply(df)`` returns the
    normalized frame (possibly with retyped/dropped columns)."""

    def __init__(self, schema: dict, options: dict | None = None):
        self.schema_root = schema
        self.options = dict(options or {})
        self.max_ref_depth = int(self.options.get("max_ref_depth", 3))
        self._depth: dict[int, int] = {}

    # ------------------------------------------------------------------ api

    def apply(self, df: DataFrame) -> DataFrame:
        row_type = df.schema
        value = F.struct(*[F.col(f.name) for f in row_type.fields])
        out, out_type = self._node(self.schema_root, row_type, value)
        if not isinstance(out_type, T.StructType):
            raise SchemaUnsupportedError("root schema must normalize to an object")
        return df.select(
            *[out.getField(f.name).alias(f.name) for f in out_type.fields]
        )

    # ------------------------------------------------------------- the walk

    def _node(self, schema: dict, dtype, value: Column):
        return ref_step(
            self, schema, lambda: (value, dtype), lambda s: self._node_body(s, dtype, value)
        )

    def _node_body(self, schema: dict, dtype, value: Column):
        # fire order mirrors the walker: default -> type coercion -> children.
        # Reference quirk (normalizer.js): when [default] fires, the local
        # value binding is NOT refreshed, so the subsequent [type] coercion
        # sees the stale undefined and does nothing — a filled-in default is
        # never coerced.
        t = schema.get("type")
        if isinstance(t, list):
            raise SchemaUnsupportedError(
                "union-type coercion is dynamic; use the walker backend"
            )
        has_default = "default" in schema
        if has_default and isinstance(t, str) and not _is_undef(dtype):
            # default + coercion on an existing column: compile only when the
            # uncoerced default is representable in the coerced output type
            # unchanged (JS coercion of the default is the identity) —
            # otherwise the reference's result (e.g. the *string* 'on' in a
            # column other rows coerced to boolean) has no typed analog
            d = schema["default"]
            if not _default_survives_coercion(d, t):
                raise SchemaUnsupportedError(
                    f"default {d!r} with type '{t}' coercion would be mutated "
                    "by the coercion; reference semantics (default stays "
                    "uncoerced) need the walker backend"
                )
            lit, lit_t = _literal(d)
            coerced, new_t = self._coerce(t, dtype, value)
            if not _compatible(new_t, lit_t):
                raise SchemaUnsupportedError(
                    f"default {d!r} is not representable in coerced type "
                    f"{new_t.simpleString()}"
                )
            value = F.when(value.isNull(), lit.cast(new_t)).otherwise(coerced)
            dtype = new_t
        else:
            defaulted = False
            if has_default:
                value, dtype, defaulted = self._default(schema, dtype, value)
            if isinstance(t, str) and not defaulted:
                value, dtype = self._coerce(t, dtype, value)

        value, dtype = self._children(schema, dtype, value)
        return value, dtype

    # ------------------------------------------------------------- keywords

    def _default(self, schema: dict, dtype, value: Column):
        d = schema["default"]
        lit, lit_t = _literal(d)
        if _is_undef(dtype):
            return lit, lit_t, True
        if not _compatible(dtype, lit_t):
            raise SchemaUnsupportedError(
                f"default {d!r} is not representable in column type {dtype.simpleString()}"
            )
        return F.coalesce(value, lit.cast(dtype)), dtype, False

    def _coerce(self, t: str, dtype, value: Column):
        if _is_undef(dtype):
            return value, dtype
        null_kept = lambda coerced, new_t: (
            F.when(value.isNull(), F.lit(None).cast(new_t)).otherwise(coerced),
            new_t,
        )
        if t == "string":
            if isinstance(dtype, T.StringType):
                return value, dtype
            if isinstance(dtype, (T.StructType, T.ArrayType, T.MapType)):
                return null_kept(F.to_json(value), T.StringType())
            if isinstance(dtype, T.BooleanType):
                return null_kept(F.when(value, "true").otherwise("false"), T.StringType())
            return null_kept(value.cast("string"), T.StringType())
        if t == "integer":
            if isinstance(dtype, T.IntegralType):
                return value, dtype
            if isinstance(dtype, T.FractionalType):
                # JS parseInt(number) truncates toward zero, as does Spark's
                # double -> bigint cast
                return null_kept(value.cast("double").cast("bigint"), T.LongType())
            if isinstance(dtype, T.StringType):
                return null_kept(_js_parse_int(value), T.LongType())
            raise SchemaUnsupportedError(f"integer coercion from {dtype.simpleString()}")
        if t == "number":
            if isinstance(dtype, T.NumericType):
                return value, dtype  # JS has one number type; ints are numbers
            if isinstance(dtype, T.StringType):
                return null_kept(_js_parse_float(value), T.DoubleType())
            raise SchemaUnsupportedError(f"number coercion from {dtype.simpleString()}")
        if t == "boolean":
            if isinstance(dtype, T.BooleanType):
                return value, dtype
            return null_kept(_js_truthy(value, dtype), T.BooleanType())
        if t == "array":
            if isinstance(dtype, T.ArrayType):
                return value, dtype
            new_t = T.ArrayType(dtype)
            return null_kept(F.array(value), new_t)
        # null / object / unknown: no coercion
        return value, dtype

    # ------------------------------------------------------------- children

    def _children(self, schema: dict, dtype, value: Column):
        items = schema.get("items")
        if isinstance(items, dict) and isinstance(dtype, T.ArrayType):
            et = dtype.elementType
            new_et = []  # the element type the one compile of ``items`` yields

            def per_elem(x):
                out, t = self._node(items, et, x)
                new_et.append(t)
                return out

            mapped = F.transform(value, per_elem)
            new_t = T.ArrayType(new_et[0])
            return F.when(value.isNull(), F.lit(None).cast(new_t)).otherwise(mapped), new_t

        props = schema.get("properties")
        if isinstance(props, dict) and isinstance(dtype, T.StructType):
            fields = {f.name: f.dataType for f in dtype.fields}
            out_fields: list[tuple[str, Column, Any]] = []
            # declared properties, normalized, in schema order; undeclared
            # fields are REMOVED (normalizer.js additionalProperty selector)
            for k, sub in props.items():
                if k in fields:
                    cv, ct = self._node(sub, fields[k], value.getField(k))
                elif "default" in sub:
                    cv, ct = _literal(sub["default"])
                else:
                    continue
                out_fields.append((k, cv, ct))
            if not out_fields:
                return value, dtype
            struct = F.struct(*[cv.alias(k) for k, cv, _ in out_fields])
            new_t = T.StructType([T.StructField(k, ct) for k, _, ct in out_fields])
            out = F.when(value.isNull(), F.lit(None).cast(new_t)).otherwise(struct)
            return out, new_t

        return value, dtype


def _default_survives_coercion(d: Any, t: str) -> bool:
    """True when the JS [type] coercion applied to the default value would
    be the identity — i.e. injecting the uncoerced default into the coerced
    output column reproduces reference semantics exactly."""
    if t == "string":
        return isinstance(d, str)
    if t == "integer":
        return isinstance(d, int) and not isinstance(d, bool)
    if t == "number":
        return isinstance(d, (int, float)) and not isinstance(d, bool)
    if t == "boolean":
        return isinstance(d, bool)
    if t == "array":
        return isinstance(d, list)
    return True  # null / object / unknown types: coercion is a no-op


def _literal(v: Any):
    """Python literal -> (Column, DataType)."""
    if isinstance(v, bool):
        return F.lit(v), T.BooleanType()
    if isinstance(v, int):
        return F.lit(v), T.LongType()
    if isinstance(v, float):
        return F.lit(v), T.DoubleType()
    if isinstance(v, str):
        return F.lit(v), T.StringType()
    if v is None:
        return F.lit(None), T.NullType()
    if isinstance(v, list):
        cols_types = [_literal(x) for x in v]
        if not cols_types:
            return F.array(), T.ArrayType(T.StringType())
        et = cols_types[0][1]
        return F.array(*[c for c, _ in cols_types]), T.ArrayType(et)
    if isinstance(v, dict):
        items = [(k, *_literal(x)) for k, x in v.items()]
        return (
            F.struct(*[c.alias(k) for k, c, _ in items]),
            T.StructType([T.StructField(k, t) for k, _, t in items]),
        )
    raise SchemaUnsupportedError(f"unsupported default literal {v!r}")


def _compatible(dtype, lit_t) -> bool:
    if isinstance(lit_t, T.NullType):
        return True
    if isinstance(dtype, T.NumericType) and isinstance(lit_t, T.NumericType):
        return True
    if type(dtype) is type(lit_t):
        return True
    if isinstance(dtype, T.StructType) and isinstance(lit_t, T.StructType):
        return all(f.name in dtype.fieldNames() for f in lit_t.fields)
    return False


def normalize_dataframe(df: DataFrame, schema: dict, options: dict | None = None) -> DataFrame:
    return ColumnNormalizer(schema, options).apply(df)
