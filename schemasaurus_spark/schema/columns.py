"""Native-Column backend: compile a draft-4 JSON Schema against a typed
Spark schema into a single ``Column`` expression producing the ordered
violation array — zero Python in the hot loop.

This is the engine's scale path (the analog of the reference's
``new Function`` JIT moment, /root/reference/src/compiler.js:294-311): the
schema is walked once on the driver; every keyword check partial-evaluates
into literals inside one ``select`` projection; Catalyst constant-folds and
whole-stage-codegens the lot.  Array elements are validated with
higher-order functions (``transform``/``exists``/``filter``) — no explode,
no shuffle, no UDF.

Semantics match ``schema.walker`` (the reference-parity oracle) with the
typed-backend deviations documented in SURVEY.md §7:

* a typed struct cannot distinguish *missing* from *null* — ``null`` is
  treated as JS ``undefined`` (so ``[^required]``-skip and ``required``
  both key off ``isNull``), and ``type: "null"`` accepts null;
* min/maxProperties count non-null struct fields (a struct always "has"
  every field);
* per-node custom message tables apply per node without the reference's
  one-shot ``$cm`` deletion quirk.

Violation ordering parity: fragments are concatenated in the reference's
selector firing order (v4validator.js prototype key order), then children
in schema declaration order — the same walk order the Python oracle uses.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schemasaurus_spark.schema.formats import fill_default_formats
from schemasaurus_spark.schema.js import js_number_to_string, js_stringify, js_to_string
from schemasaurus_spark.schema.messages import messages as default_messages
from schemasaurus_spark.schema.walker import resolve_ref

ERROR_TYPE = T.StructType(
    [
        T.StructField("code", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("arg", T.StringType()),
        T.StructField("path", T.StringType()),
    ]
)
ERRORS_TYPE = T.ArrayType(ERROR_TYPE)
_ERRORS_DDL = "array<struct<code:string,message:string,value:string,arg:string,path:string>>"


def _empty() -> Column:
    return F.array().cast(_ERRORS_DDL)


_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


class UndefinedType(T.DataType):
    """Marker for a statically-missing value (declared property absent from
    the typed struct) — the compile-time analog of JS ``undefined``."""


_UNDEFINED_T = UndefinedType()


def _is_undef(dtype) -> bool:
    return isinstance(dtype, UndefinedType)


def stringify(value: Column, dtype) -> Column:
    if _is_undef(dtype):
        return F.lit(None).cast("string")
    if isinstance(dtype, (T.StructType, T.ArrayType, T.MapType)):
        return F.to_json(value)
    return value.cast("string")


class SchemaUnsupportedError(Exception):
    """Raised when a keyword cannot compile to native Columns for this typed
    schema — callers route such schemas to the Arrow-batch walker backend."""


class ColumnValidator:
    """Compile once, apply to any DataFrame with a matching typed schema.

    ``errors(value, dtype, path)`` returns the ordered violation array for
    *value* of Spark type *dtype*; ``apply(df)`` treats the whole row as the
    instance object (columns = properties) and appends ``errors`` +
    ``valid`` columns.
    """

    def __init__(self, schema: dict, options: dict | None = None,
                 count_only: bool = False):
        #: count mode — the verdict fast path: every fragment is an INT
        #: violation count instead of an array of error structs.  Same walk,
        #: same conditions, but no struct building, no to_json stringify, no
        #: array allocation per row — the whole pass stays in primitive
        #: codegen.  apply() then emits (n_violations, valid).
        self.count_only = count_only
        self.schema_root = schema
        self.options = dict(options or {})
        self.messages = self.options.get("messages") or default_messages(lambda s: s)
        self.formats = fill_default_formats(self.options.get("formats"))
        self.custom_columns: dict[str, Callable] = self.options.get("custom_columns") or {}
        #: selector-extension registry (the Column analog of
        #: V4Validator.extend): keyword -> builder(validator, schema, dtype,
        #: value, path) -> fragment Column.  Builders use validator._one /
        #: validator._err to construct violations and may read
        #: validator.parent_value / parent_dtype for cross-field checks
        #: (reference README.md:229-261 notEqualTo example).
        self.extensions: dict[str, Callable] = self.options.get("extensions") or {}
        self.max_ref_depth = int(self.options.get("max_ref_depth", 3))
        self._depth: dict[int, int] = {}
        #: the enclosing instance node during child compilation (compile-time
        #: state — the analog of ctx.parent in the walker)
        self.parent_value: Column | None = None
        self.parent_dtype = None
        #: row_type.json() -> compiled row expression (see row_errors)
        self._compiled: dict[str, Column] = {}

    # ------------------------------------------------------------------ api

    def apply(self, df, errors_col: str = "errors", valid_col: str = "valid"):
        errs = self.row_errors(df.schema)
        if self.count_only:
            return df.withColumn("n_violations", errs).withColumn(
                valid_col, F.col("n_violations") == 0
            )
        return df.withColumn(errors_col, errs).withColumn(
            valid_col, F.size(F.col(errors_col)) == 0
        )

    def errors(self, value: Column, dtype, path: Column) -> Column:
        return self._node(self.schema_root, dtype, value, path, is_root=True)

    def row_errors(self, row_type: T.StructType) -> Column:
        """The violation expression of a whole row of ``row_type`` (columns
        are the instance's properties).  Compiled on the first frame of a
        row type and reused for every later one: the expression refers to
        columns by name only, so any frame of that type can select it, and
        rebuilding its py4j tree costs driver time on every call."""
        key = row_type.json()
        errs = self._compiled.get(key)
        if errs is None:
            value = F.struct(*[F.col(f.name) for f in row_type.fields])
            errs = self._compiled[key] = self.errors(value, row_type, F.lit(""))
        return errs

    # ------------------------------------------------------- error building

    # fragment algebra: array mode concatenates error-struct arrays; count
    # mode adds integer counts.  All keyword logic is shared.

    def _frag_empty(self) -> Column:
        return F.lit(0) if self.count_only else _empty()

    def _cat(self, frags: list[Column]) -> Column:
        if not frags:
            return self._frag_empty()
        if len(frags) == 1:
            return frags[0]
        if self.count_only:
            out = frags[0]
            for f in frags[1:]:
                out = out + f
            return out
        return F.concat(*frags)

    def _single(self, err: Column) -> Column:
        """An unconditional single violation."""
        return F.lit(1) if self.count_only else F.array(err)

    def _is_ok(self, frag: Column) -> Column:
        return (frag == 0) if self.count_only else (F.size(frag) == 0)

    def _err(self, code: str, node_schema: dict, value: Column, dtype,
             path: Column, arg: Any = None) -> Column:
        if self.count_only:  # never embedded; skip all struct/stringify work
            return F.lit(1)
        msgs = node_schema.get("messages")
        if isinstance(msgs, dict) and code in msgs:
            msg = msgs[code]
        else:
            msg = self.messages.get(code)
            if msg is None:
                msg = arg if isinstance(arg, str) else js_stringify(arg) if arg is not None else code
        if arg is None:
            arg_s = F.lit(None).cast("string")
        elif isinstance(arg, Column):
            arg_s = arg
        else:
            arg_s = F.lit(arg if isinstance(arg, str) else js_stringify(arg))
        return F.struct(
            F.lit(code).alias("code"),
            F.lit(msg).alias("message"),
            stringify(value, dtype).alias("value"),
            arg_s.alias("arg"),
            path.alias("path"),
        )

    def _one(self, cond: Column, err: Column) -> Column:
        """Single conditional error -> one-or-zero fragment."""
        if self.count_only:
            return F.when(cond, F.lit(1)).otherwise(F.lit(0))
        return F.when(cond, F.array(err)).otherwise(_empty())

    # ------------------------------------------------------------- the walk

    def _node(self, schema: dict, dtype, value: Column, path: Column,
              is_root: bool = False, elig: Column | None = None) -> Column:
        """Compile one schema node.  Mirrors compiler.js step/stepProcess."""
        sid = id(schema)
        depth = self._depth.get(sid, 0)
        if depth >= self.max_ref_depth:
            return self._frag_empty()  # depth-bounded unroll of recursive $ref (SURVEY §7.7)
        self._depth[sid] = depth + 1
        try:
            if isinstance(schema, dict) and "$ref" in schema:
                resolved = resolve_ref(
                    self.options.get("loader"), self.schema_root, schema["$ref"]
                )
                return self._node(resolved, dtype, value, path, is_root, elig)
            return self._node_body(schema, dtype, value, path, is_root, elig)
        finally:
            self._depth[sid] = depth

    def _node_body(self, schema, dtype, value, path, is_root, elig) -> Column:
        frags: list[Column] = []
        undef = _is_undef(dtype)
        present = F.lit(False) if undef else value.isNotNull()

        # [^required] optional-skip (v4validator.js:81-86): for a non-root
        # node without a `required` attr, a missing (null) value skips the
        # entire subtree.  Compiled as a gate over the node's full fragment.
        skip_on_missing = (not is_root) and ("required" not in schema)
        if skip_on_missing and undef:
            return self._frag_empty()

        e = lambda code, arg=None: self._err(code, schema, value, dtype, path, arg)

        # -- type ---------------------------------------------------------
        t = schema.get("type")
        if isinstance(t, str):
            frags.append(self._one(self._type_fail(t, dtype, value), e(t)))
        elif isinstance(t, list):
            all_fail = None
            for bt in t:
                c = self._type_fail(bt, dtype, value)
                all_fail = c if all_fail is None else (all_fail & c)
            for bt in t:  # emit every branch error only when all branches fail
                frags.append(self._one(all_fail, e(bt)))

        # -- dependencies ---------------------------------------------------
        if "dependencies" in schema:
            frags.append(self._dependencies(schema, dtype, value, path))

        # -- combinators ----------------------------------------------------
        for name in ("allOf", "anyOf", "oneOf", "not"):
            if name in schema:
                frags.append(self._combinator(name, schema, dtype, value, path))

        # -- enum -----------------------------------------------------------
        if "enum" in schema:
            frags.append(self._enum(schema, dtype, value, path))

        # -- string ---------------------------------------------------------
        is_str = isinstance(dtype, T.StringType)
        if "maxLength" in schema and is_str:
            n = schema["maxLength"]
            frags.append(self._one(present & (F.length(value) > n), e("maxLength", n)))
        if "minLength" in schema and is_str:
            n = schema["minLength"]
            frags.append(self._one(present & (F.length(value) < n), e("minLength", n)))
        if "pattern" in schema and is_str:
            p = schema["pattern"]
            frags.append(self._one(present & ~value.rlike(p), e("pattern", p)))
        if "format" in schema and is_str:
            name = schema["format"]
            fmt = self.formats.get(name)
            if fmt is None:
                raise ValueError(f"Unknown format '{name}'. Did you forget to register it?")
            frags.append(
                self._one(
                    present & ~value.rlike(fmt["pattern"]),
                    self._err(f"format.{name}", schema, value, dtype, path, fmt["message"]),
                )
            )

        # -- array cardinality / uniqueness ---------------------------------
        is_arr = isinstance(dtype, T.ArrayType)
        if "minItems" in schema and is_arr:
            frags.append(self._one(present & (F.size(value) < schema["minItems"]), e("minItems")))
        if "maxItems" in schema and is_arr:
            frags.append(self._one(present & (F.size(value) > schema["maxItems"]), e("maxItems")))
        if "uniqueItems" in schema and is_arr:
            frags.append(self._unique_items(schema, dtype, value, path))

        # -- required (v4 list + v3 per-property flags) ----------------------
        reqs = []
        base = schema.get("required")
        if isinstance(base, list):
            reqs += base
        for k, s in (schema.get("properties") or {}).items():
            if isinstance(s, dict) and s.get("required") is True:
                reqs.append(k)
        if reqs and isinstance(dtype, (T.StructType, T.MapType)):
            for r in reqs:
                frags.append(
                    self._one(present & self._member_missing(dtype, value, r), e("required"))
                )

        # -- object cardinality ----------------------------------------------
        if "maxProperties" in schema or "minProperties" in schema:
            cnt = self._prop_count(dtype, value)
            if cnt is not None:
                if "maxProperties" in schema:
                    n = schema["maxProperties"]
                    frags.append(self._one(present & (cnt > n), e("maxProperties", n)))
                if "minProperties" in schema:
                    n = schema["minProperties"]
                    frags.append(self._one(present & (cnt < n), e("minProperties", n)))

        # -- numbers ----------------------------------------------------------
        num = value.cast("double") if isinstance(dtype, _NUMERIC) else None
        if "multipleOf" in schema and num is not None:
            k = schema["multipleOf"]
            cond = present & ((num / F.lit(k)) % 1 != 0) if k != 0 else present
            frags.append(self._one(cond, e("multipleOf", js_number_to_string(k))))
        if "minimum" in schema and num is not None:
            m = schema["minimum"]
            if schema.get("exclusiveMinimum"):
                frags.append(self._one(present & (num <= m), e("minimum.exclusive", js_number_to_string(m))))
            else:
                frags.append(self._one(present & (num < m), e("minimum", js_number_to_string(m))))
        if "maximum" in schema and num is not None:
            m = schema["maximum"]
            if schema.get("exclusiveMaximum"):
                frags.append(self._one(present & (num >= m), e("maximum.exclusive", js_number_to_string(m))))
            else:
                frags.append(self._one(present & (num > m), e("maximum", js_number_to_string(m))))

        # -- conform (registered Column-builder customs) -----------------------
        if "conform" in schema:
            frags.append(self._conform(schema, dtype, value, path))

        # -- selector extensions (Column analog of V4Validator.extend) --------
        for kw, builder in self.extensions.items():
            if kw in schema:
                frags.append(builder(self, schema, dtype, value, path))

        # -- children: items / properties (walk order: items first, like
        #    processor.js processors = [processItems, processProperties]) ----
        child = self._children_items(schema, dtype, value, path)
        if child is not None:
            frags.append(child)
        child = self._children_properties(schema, dtype, value, path)
        if child is not None:
            frags.append(child)

        if not frags:
            return self._frag_empty()
        out = self._cat(frags)
        if skip_on_missing:
            out = F.when(value.isNotNull(), out).otherwise(self._frag_empty())
        if elig is not None:
            out = F.when(elig, out).otherwise(self._frag_empty())
        return out

    # ------------------------------------------------------------- keywords

    def _type_fail(self, t: str, dtype, value: Column) -> Column:
        """Condition under which the type check ERRORS (JS typeof dispatch
        against the static Spark type; null == undefined fails everything
        except type:null)."""
        undef = _is_undef(dtype)
        if t == "null":
            return F.lit(False) if undef else value.isNotNull()
        if undef:
            return F.lit(True)
        absent = value.isNull()
        if t == "string":
            return absent if isinstance(dtype, T.StringType) else F.lit(True)
        if t == "number":
            return absent if isinstance(dtype, _NUMERIC) else F.lit(True)
        if t == "integer":
            if isinstance(dtype, _INTEGRAL):
                return absent
            if isinstance(dtype, _NUMERIC):
                return absent | (value.cast("double") % 1 != 0)
            return F.lit(True)
        if t == "boolean":
            return absent if isinstance(dtype, T.BooleanType) else F.lit(True)
        if t == "array":
            return absent if isinstance(dtype, T.ArrayType) else F.lit(True)
        if t == "object":
            return absent if isinstance(dtype, (T.StructType, T.MapType)) else F.lit(True)
        raise SchemaUnsupportedError(f"unknown type '{t}'")

    def _enum(self, schema, dtype, value, path) -> Column:
        values = schema["enum"]
        if _is_undef(dtype):
            return self._single(self._err("enum", schema, value, dtype, path, values))
        if isinstance(dtype, (T.StructType, T.ArrayType, T.MapType)):
            # structural equality via canonical JSON (toComparable analog);
            # objects canonicalized to the struct's field order so to_json
            # output is comparable
            def canon(v):
                if isinstance(v, dict) and isinstance(dtype, T.StructType):
                    ordered = {f.name: v[f.name] for f in dtype.fields if f.name in v}
                    return js_stringify(ordered)
                return js_stringify(v)

            allowed = sorted({canon(v) for v in values})
            ok = F.to_json(value).isin(allowed)
        else:
            # scalar: replicate the JS property-key quirk (numbers and their
            # string forms collide) by comparing string renderings
            reprs = set()
            for v in values:
                if not isinstance(v, (dict, list)):
                    reprs.add(js_to_string(v))
                    reprs.add(str(v))
            ok = value.cast("string").isin(sorted(reprs))
        cond = ~F.coalesce(ok, F.lit(False)) if None not in values else ~F.coalesce(
            ok | value.isNull(), F.lit(False)
        )
        return self._one(cond, self._err("enum", schema, value, dtype, path, values))

    def _unique_items(self, schema, dtype: T.ArrayType, value, path) -> Column:
        # one error per duplicate occurrence (v4validator.js:277-290):
        # element i errors iff an equal element exists among the first i
        if self.count_only:
            # occurrences beyond the first of each value == len - len(distinct)
            return F.when(
                value.isNotNull(), F.size(value) - F.size(F.array_distinct(value))
            ).otherwise(F.lit(0))
        arr_str = stringify(value, dtype)

        def per_elem(x, i):
            dup = F.exists(F.slice(value, F.lit(1), i), lambda y: y.eqNullSafe(x))
            return F.when(
                dup,
                F.struct(
                    F.lit("uniqueItems").alias("code"),
                    F.lit(self.messages.get("uniqueItems")).alias("message"),
                    arr_str.alias("value"),
                    stringify(x, dtype.elementType).alias("arg"),
                    path.alias("path"),
                ),
            ).otherwise(F.lit(None).cast(ERROR_TYPE.simpleString()))

        errs = F.filter(F.transform(value, per_elem), lambda c: c.isNotNull())
        return F.when(value.isNotNull(), errs).otherwise(_empty())

    def _member_missing(self, dtype, value, key: str) -> Column:
        if isinstance(dtype, T.StructType):
            if key in dtype.fieldNames():
                return value.getField(key).isNull()
            return F.lit(True)
        if isinstance(dtype, T.MapType):
            return ~F.map_contains_key(value, F.lit(key))
        return F.lit(False)

    def _prop_count(self, dtype, value) -> Column | None:
        if isinstance(dtype, T.StructType):
            return sum(
                (value.getField(f.name).isNotNull().cast("int") for f in dtype.fields),
                F.lit(0),
            )
        if isinstance(dtype, T.MapType):
            return F.size(value)
        if isinstance(dtype, T.ArrayType):
            return F.size(value)  # JS: typeof [] === 'object', keys = indices
        return None

    def _combinator(self, name, schema, dtype, value, path) -> Column:
        subs = schema[name]
        if name == "not":
            sub_errs = self._node(subs, dtype, value, path, is_root=True)
            return self._one(self._is_ok(sub_errs), self._err("not", schema, value, dtype, path))
        pairs = [
            self._node(s, dtype, value, path, is_root=True) for s in subs
        ]
        valids = [self._is_ok(p) for p in pairs]
        if name == "allOf":
            frags = [
                F.when(
                    ~v,
                    self._cat([self._single(self._err("allOf", schema, value, dtype, path)), p]),
                ).otherwise(self._frag_empty())
                for v, p in zip(valids, pairs)
            ]
            return self._cat(frags)
        if name == "anyOf":
            any_valid = valids[0]
            for v in valids[1:]:
                any_valid = any_valid | v
            # on failure every branch was tried: anyOf error + all sub-errors
            all_errs = self._cat(pairs)
            return F.when(
                ~any_valid,
                self._cat([self._single(self._err("anyOf", schema, value, dtype, path)), all_errs]),
            ).otherwise(self._frag_empty())
        if name == "oneOf":
            cnt = valids[0].cast("int")
            for v in valids[1:]:
                cnt = cnt + v.cast("int")
            all_errs = self._cat(pairs)
            return (
                F.when(
                    cnt == 0,
                    self._cat([
                        self._single(self._err("oneOf.zero", schema, value, dtype, path)), all_errs
                    ]),
                )
                .when(cnt > 1, self._single(self._err("oneOf", schema, value, dtype, path)))
                .otherwise(self._frag_empty())
            )
        raise SchemaUnsupportedError(name)

    def _dependencies(self, schema, dtype, value, path) -> Column:
        frags = []
        for prop, dep in schema["dependencies"].items():
            spec = {"required": dep} if isinstance(dep, list) else dep
            trigger = ~self._member_missing(dtype, value, prop) & value.isNotNull()
            # reference calls the dep sub-walker with no path (fresh root)
            sub_errs = self._node(spec, dtype, value, F.lit(""), is_root=True)
            frags.append(
                F.when(
                    trigger & ~self._is_ok(sub_errs),
                    self._cat([
                        self._single(self._err("dependency", schema, value, dtype, path, dep)),
                        sub_errs,
                    ]),
                ).otherwise(self._frag_empty())
            )
        return self._cat(frags)

    def _conform(self, schema, dtype, value, path) -> Column:
        conform = schema["conform"]
        if callable(conform):
            # a Column-builder: fn(value_col) -> bool Column
            ok = conform(value)
            return self._one(
                value.isNotNull() & ~F.coalesce(ok, F.lit(False)),
                self._err("custom", schema, value, dtype, path),
            )
        frags = []
        for name, spec in conform.items():
            fn = self.custom_columns.get(name)
            if fn is None:
                raise SchemaUnsupportedError(
                    f"custom conform '{name}' has no registered Column builder; "
                    "route this schema to the walker/batch backend"
                )
            args = [] if spec is True else list(spec)
            ok = fn(value, *args)
            frags.append(
                self._one(
                    ~F.coalesce(ok, F.lit(False)),
                    self._err(
                        f"custom.{name}", schema, value, dtype, path,
                        self.messages.get("custom"),
                    ),
                )
            )
        return self._cat(frags)

    # ------------------------------------------------------------- children

    def _children_items(self, schema, dtype, value, path) -> Column | None:
        prev = (self.parent_value, self.parent_dtype)
        self.parent_value, self.parent_dtype = value, dtype
        try:
            return self._children_items_inner(schema, dtype, value, path)
        finally:
            self.parent_value, self.parent_dtype = prev

    def _children_items_inner(self, schema, dtype, value, path) -> Column | None:
        items = schema.get("items")
        additional = schema.get("additionalItems")
        if items is None and additional is None:
            return None
        if not isinstance(dtype, T.ArrayType):
            return None
        et = dtype.elementType
        if not isinstance(items, list):
            item_schema = items if isinstance(items, dict) else {}

            def per_elem(x, i):
                p = F.concat(path, F.lit("/"), i.cast("string"))
                return self._node(item_schema, et, x, p)

            if self.count_only:
                frag = F.aggregate(
                    F.transform(value, per_elem), F.lit(0), lambda acc, x: acc + x
                )
            else:
                frag = F.flatten(F.transform(value, per_elem))
            return F.when(value.isNotNull(), frag).otherwise(self._frag_empty())

        # tuple form
        frags = []
        for k, sub in enumerate(items):
            elem = F.get(value, k)
            p = F.concat(path, F.lit(f"/{k}"))
            frags.append(
                F.when(value.isNotNull(), self._node(sub, et, elem, p)).otherwise(
                    self._frag_empty()
                )
            )
        if additional is not None and additional is not True:
            n = len(items)
            if additional is False:
                if self.count_only:
                    tail = F.size(value) - n
                else:
                    def per_extra(x, i):
                        p = F.concat(path, F.lit("/"), (i + n).cast("string"))
                        return F.struct(
                            F.lit("additionalItems").alias("code"),
                            F.lit(self.messages.get("additionalItems")).alias("message"),
                            stringify(x, et).alias("value"),
                            F.lit(None).cast("string").alias("arg"),
                            p.alias("path"),
                        )

                    tail = F.transform(F.slice(value, n + 1, 1 << 30), per_extra)
            else:
                def per_extra(x, i):
                    p = F.concat(path, F.lit("/"), (i + n).cast("string"))
                    return self._node(additional, et, x, p)

                mapped = F.transform(F.slice(value, n + 1, 1 << 30), per_extra)
                if self.count_only:
                    tail = F.aggregate(mapped, F.lit(0), lambda acc, x: acc + x)
                else:
                    tail = F.flatten(mapped)
            frags.append(
                F.when(value.isNotNull() & (F.size(value) > n), tail).otherwise(
                    self._frag_empty()
                )
            )
        return self._cat(frags)

    def _children_properties(self, schema, dtype, value, path) -> Column | None:
        prev = (self.parent_value, self.parent_dtype)
        self.parent_value, self.parent_dtype = value, dtype
        try:
            return self._children_properties_inner(schema, dtype, value, path)
        finally:
            self.parent_value, self.parent_dtype = prev

    def _children_properties_inner(self, schema, dtype, value, path) -> Column | None:
        props = schema.get("properties") or {}
        pattern_props = schema.get("patternProperties") or {}
        additional = schema.get("additionalProperties")
        if not props and not pattern_props and additional is None:
            return None
        frags: list[Column] = []

        if isinstance(dtype, T.StructType):
            fields = {f.name: f.dataType for f in dtype.fields}
            for k, sub in props.items():
                cd = fields.get(k, _UNDEFINED_T)
                cv = value.getField(k) if k in fields else F.lit(None)
                p = F.concat(path, F.lit("/" + k))
                child = self._node(sub, cd, cv, p)
                frags.append(
                    F.when(value.isNotNull(), child).otherwise(self._frag_empty())
                )
            # patternProperties over a closed struct: match against the
            # statically-known field names at compile time
            declared = set(props)
            matched_by_pattern = set()
            if pattern_props:
                import re as _re

                for pat, sub in pattern_props.items():
                    rx = _re.compile(pat)
                    for fname, fdt in fields.items():
                        if rx.search(fname):
                            matched_by_pattern.add(fname)
                            p = F.concat(path, F.lit("/" + fname))
                            child = self._node(sub, fdt, value.getField(fname), p)
                            frags.append(
                                F.when(value.isNotNull(), child).otherwise(self._frag_empty())
                            )
            if additional is False:
                # a struct is closed: extra = declared-in-data fields not in
                # schema; with typed data this is static — non-null undeclared
                # fields error per key (value-level "presence" = non-null)
                for fname, fdt in fields.items():
                    if fname in declared or fname in matched_by_pattern:
                        continue
                    fv = value.getField(fname)
                    p = F.concat(path, F.lit("/" + fname))
                    frags.append(
                        self._one(
                            value.isNotNull() & fv.isNotNull(),
                            self._err("additionalProperties", schema, fv, fdt, p),
                        )
                    )
            elif isinstance(additional, dict):
                for fname, fdt in fields.items():
                    if fname in declared or fname in matched_by_pattern:
                        continue
                    p = F.concat(path, F.lit("/" + fname))
                    child = self._node(additional, fdt, value.getField(fname), p)
                    frags.append(
                        F.when(value.isNotNull(), child).otherwise(self._frag_empty())
                    )
        elif isinstance(dtype, T.MapType):
            vt = dtype.valueType
            for k, sub in props.items():
                cv = F.element_at(value, F.lit(k))
                p = F.concat(path, F.lit("/" + k))
                child = self._node(sub, vt, cv, p)
                frags.append(
                    F.when(value.isNotNull(), child).otherwise(self._frag_empty())
                )
            if pattern_props or additional is not None:
                declared_arr = F.array(*[F.lit(k) for k in props]) if props else F.array().cast("array<string>")
                extra_keys = F.filter(
                    F.map_keys(value),
                    lambda k: ~F.array_contains(declared_arr, k)
                    if props
                    else F.lit(True),
                )
                for pat, sub in pattern_props.items():
                    def per_key(k, _pat=pat, _sub=sub):
                        p = F.concat(path, F.lit("/"), k)
                        return F.when(
                            k.rlike(_pat),
                            self._node(_sub, vt, F.element_at(value, k), p),
                        ).otherwise(self._frag_empty())

                    mapped = F.transform(F.map_keys(value), per_key)
                    combined = (
                        F.aggregate(mapped, F.lit(0), lambda acc, x: acc + x)
                        if self.count_only
                        else F.flatten(mapped)
                    )
                    frags.append(
                        F.when(value.isNotNull(), combined).otherwise(self._frag_empty())
                    )
                if additional is False:
                    pats = list(pattern_props)

                    def unmatched_cond(k):
                        unmatched = F.lit(True)
                        for pat in pats:
                            unmatched = unmatched & ~k.rlike(pat)
                        return unmatched

                    if self.count_only:
                        frags.append(
                            F.when(
                                value.isNotNull(),
                                F.size(F.filter(extra_keys, unmatched_cond)),
                            ).otherwise(F.lit(0))
                        )
                    else:
                        def per_extra(k):
                            return F.when(
                                unmatched_cond(k),
                                F.struct(
                                    F.lit("additionalProperties").alias("code"),
                                    F.lit(self.messages.get("additionalProperties")).alias("message"),
                                    F.element_at(value, k).cast("string").alias("value"),
                                    F.lit(None).cast("string").alias("arg"),
                                    F.concat(path, F.lit("/"), k).alias("path"),
                                ),
                            ).otherwise(F.lit(None).cast(ERROR_TYPE.simpleString()))

                        frags.append(
                            F.when(
                                value.isNotNull(),
                                F.filter(
                                    F.transform(extra_keys, per_extra), lambda c: c.isNotNull()
                                ),
                            ).otherwise(_empty())
                        )
        else:
            return None

        if not frags:
            return None
        return self._cat(frags)


def validate_dataframe(df, schema: dict, options: dict | None = None):
    """Row-as-instance validation: append ``errors`` + ``valid`` columns."""
    return ColumnValidator(schema, options).apply(df)


def count_violations(df, schema: dict, options: dict | None = None):
    """Verdict fast path: append ``n_violations`` (int) + ``valid`` with no
    error-record construction — same conditions, primitive-only codegen."""
    return ColumnValidator(schema, options, count_only=True).apply(df)
