"""Native-Column backend: compile a draft-4 JSON Schema against a typed
Spark schema into a single ``Column`` expression producing the ordered
violation array — zero Python in the hot loop.

This is the engine's scale path (the analog of the reference's
``new Function`` JIT moment, /root/reference/src/compiler.js:294-311): the
schema is walked once on the driver; every keyword check partial-evaluates
into literals inside one ``select`` projection, which Catalyst
constant-folds.  Array elements and map keys are validated with
higher-order functions (``transform``/``aggregate``/``exists``/``filter``)
— no explode, no shuffle, no UDF.  Those functions are ``CodegenFallback``:
a projection that holds one (``DOCUMENT_SCHEMA``'s does) runs interpreted,
and its ``Project`` carries no ``*(n)`` whole-stage-codegen marker in
``explain()``; a schema without them compiles into the codegen stage.

Semantics match ``schema.walker`` (the reference-parity oracle) with the
typed-backend deviations documented in SURVEY.md §7:

* a typed struct cannot distinguish *missing* from *null* — ``null`` is
  treated as JS ``undefined`` (so ``[^required]``-skip and ``required``
  both key off ``isNull``), and ``type: "null"`` accepts null;
* min/maxProperties count non-null struct fields (a struct always "has"
  every field);
* a node's ``messages`` table applies to every code the node emits,
  without the reference's one-shot ``$cm`` deletion quirk.

Violation ordering parity: fragments are concatenated in the reference's
selector firing order (v4validator.js prototype key order), then children
in schema declaration order — the same walk order the Python oracle uses.
"""

from __future__ import annotations

import re
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


def _empty() -> Column:
    return F.array().cast(ERRORS_TYPE.simpleString())


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


def ref_step(compiler, schema, at_limit: Callable, body: Callable):
    """One depth-bounded schema step of a Column compiler (``compiler`` has
    ``_depth``, ``max_ref_depth``, ``options`` and ``schema_root``): follow
    ``$ref`` and return ``body(resolved_schema)``.  A node entered
    ``max_ref_depth`` times on the current compile path returns
    ``at_limit()`` instead — the bounded unroll of a recursive ``$ref``
    (SURVEY §7.7)."""
    sid = id(schema)
    depth = compiler._depth.get(sid, 0)
    if depth >= compiler.max_ref_depth:
        return at_limit()
    compiler._depth[sid] = depth + 1
    try:
        if isinstance(schema, dict) and "$ref" in schema:
            resolved = resolve_ref(
                compiler.options.get("loader"), compiler.schema_root, schema["$ref"]
            )
            return ref_step(compiler, resolved, at_limit, body)
        return body(schema)
    finally:
        compiler._depth[sid] = depth


class ColumnValidator:
    """Compile once, apply to any DataFrame with a matching typed schema.

    The one place a compiled schema becomes verdict columns.  Each row type
    compiles to two trees over the same walk: the violation *count* (integer
    fragments: no struct building, no to_json, no array allocation per row)
    and the ordered *error-record* array.  ``apply(df)`` appends ``errors`` +
    ``valid`` with the array gated behind the count; ``counted(df)`` appends
    ``n_violations`` + ``valid`` from the count alone.  A caller that
    routes or combines rows (``SchemaRegistry``, ``migration_impact``) takes
    both trees from ``trees(row_type)`` and gates them with ``verdict``.
    """

    def __init__(self, schema: dict, options: dict | None = None):
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
        #: compile-time state: True while the count tree is compiled (read by
        #: the fragment helpers below)
        self._count = False
        #: (row_type.json(), count) -> compiled row tree (see _row)
        self._compiled: dict[tuple[str, bool], Column] = {}

    # ------------------------------------------------------------------ api

    def apply(self, df):
        """``df`` + ``errors`` + ``valid``, the error array gated behind the
        violation count (see ``verdict``)."""
        errors, valid = verdict(*self.trees(df.schema))
        return df.withColumn("errors", errors).withColumn("valid", valid)

    def counted(self, df):
        """``df`` + ``n_violations`` + ``valid``, from the count tree only."""
        return df.withColumn("n_violations", self._row(df.schema, count=True)).withColumn(
            "valid", F.col("n_violations") == 0
        )

    def trees(self, row_type: T.StructType) -> tuple[Column, Column]:
        """``(count, errors)`` of a whole row of ``row_type``: its violation
        count and its ungated error-record array."""
        return self._row(row_type, count=True), self._row(row_type, count=False)

    def one_error(self, code: str, message: str, value: Column) -> Column:
        """A one-record error array for a verdict reached outside the schema
        (row-root path, no arg), e.g. a row no schema applies to."""
        return self._single(
            self._err(code, {}, value, T.StringType(), F.lit(""), message=message)
        )

    def _row(self, row_type: T.StructType, count: bool) -> Column:
        """Compile the whole row (columns are the instance's properties) on
        the first frame of a row type and reuse it for every later one: the
        tree refers to columns by name only, so any frame of that type can
        select it, and rebuilding its py4j tree costs driver time on every
        call."""
        key = (row_type.json(), count)
        tree = self._compiled.get(key)
        if tree is None:
            value = F.struct(*[F.col(f.name) for f in row_type.fields])
            self._count = count
            try:
                tree = self._compiled[key] = self._node(
                    self.schema_root, row_type, value, F.lit(""), is_root=True
                )
            finally:
                self._count = False
        return tree

    # ------------------------------------------------------- error building

    # fragment algebra: the error tree concatenates error-struct arrays; the
    # count tree (``_count``) adds integer counts.  These helpers are where
    # the two trees differ; keyword logic is shared (the exceptions are the
    # three per-element keywords, whose count is a size formula, not a fold).

    def _frag_empty(self) -> Column:
        return F.lit(0) if self._count else _empty()

    def _cat(self, frags: list[Column]) -> Column:
        if not frags:
            return self._frag_empty()
        if len(frags) == 1:
            return frags[0]
        if self._count:
            out = frags[0]
            for f in frags[1:]:
                out = out + f
            return out
        return F.concat(*frags)

    def _single(self, err: Column) -> Column:
        """An unconditional single violation."""
        return F.lit(1) if self._count else F.array(err)

    def _is_ok(self, frag: Column) -> Column:
        return (frag == 0) if self._count else (F.size(frag) == 0)

    def _gate(self, cond: Column, frag: Column) -> Column:
        """*frag* where *cond* holds, else the empty fragment."""
        return F.when(cond, frag).otherwise(self._frag_empty())

    def _fold(self, frags: Column) -> Column:
        """One fragment from an array of per-element fragments."""
        if self._count:
            return F.aggregate(frags, F.lit(0), lambda acc, x: acc + x)
        return F.flatten(frags)

    def _err(self, code: str, node_schema: dict, value: Column, dtype,
             path: Column, arg: Any = None, message: str | None = None) -> Column:
        """Every violation record (code, message, value, arg, path) is made
        here.  An explicit *message* wins, then a node's ``messages`` entry
        for *code*, then the validator's message table."""
        if self._count:  # never embedded; skip all struct/stringify work
            return F.lit(1)
        msgs = node_schema.get("messages")
        if message is not None:
            msg = message
        elif isinstance(msgs, dict) and code in msgs:
            msg = msgs[code]
        else:
            msg = self.messages.get(code)
            if msg is None:
                msg = (
                    arg if isinstance(arg, (str, Column))
                    else js_stringify(arg) if arg is not None else code
                )
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
        return self._gate(cond, self._single(err))

    @staticmethod
    def _err_if(cond: Column, err: Column) -> Column:
        """One element of a per-element record array: *err* or NULL (the
        caller filters the NULLs out)."""
        none = F.lit(None).cast(ERROR_TYPE.simpleString())
        return F.when(cond, err).otherwise(none)

    # ------------------------------------------------------------- the walk

    def _node(self, schema: dict, dtype, value: Column, path: Column,
              is_root: bool = False) -> Column:
        """Compile one schema node.  Mirrors compiler.js step/stepProcess."""
        return ref_step(
            self, schema, self._frag_empty,
            lambda s: self._node_body(s, dtype, value, path, is_root),
        )

    def _node_body(self, schema, dtype, value, path, is_root) -> Column:
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
        num = value.cast("double") if isinstance(dtype, T.NumericType) else None
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
        prev = (self.parent_value, self.parent_dtype)
        self.parent_value, self.parent_dtype = value, dtype
        try:
            for children in (self._children_items, self._children_properties):
                child = children(schema, dtype, value, path)
                if child is not None:
                    frags.append(child)
        finally:
            self.parent_value, self.parent_dtype = prev

        if not frags:
            return self._frag_empty()
        out = self._cat(frags)
        return self._gate(value.isNotNull(), out) if skip_on_missing else out

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
            return absent if isinstance(dtype, T.NumericType) else F.lit(True)
        if t == "integer":
            if isinstance(dtype, T.IntegralType):
                return absent
            if isinstance(dtype, T.NumericType):
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
        if self._count:
            # occurrences beyond the first of each value == len - len(distinct)
            errs = F.size(value) - F.size(F.array_distinct(value))
        else:
            def per_elem(x, i):
                dup = F.exists(F.slice(value, F.lit(1), i), lambda y: y.eqNullSafe(x))
                arg = stringify(x, dtype.elementType)
                return self._err_if(
                    dup, self._err("uniqueItems", schema, value, dtype, path, arg)
                )

            errs = F.filter(F.transform(value, per_elem), lambda c: c.isNotNull())
        return self._gate(value.isNotNull(), errs)

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
                self._gate(
                    ~v,
                    self._cat([self._single(self._err("allOf", schema, value, dtype, path)), p]),
                )
                for v, p in zip(valids, pairs)
            ]
            return self._cat(frags)
        if name == "anyOf":
            any_valid = valids[0]
            for v in valids[1:]:
                any_valid = any_valid | v
            # on failure every branch was tried: anyOf error + all sub-errors
            all_errs = self._cat(pairs)
            return self._gate(
                ~any_valid,
                self._cat([self._single(self._err("anyOf", schema, value, dtype, path)), all_errs]),
            )
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
                self._gate(
                    trigger & ~self._is_ok(sub_errs),
                    self._cat([
                        self._single(self._err("dependency", schema, value, dtype, path, dep)),
                        sub_errs,
                    ]),
                )
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
        items = schema.get("items")
        additional = schema.get("additionalItems")
        if items is None and additional is None:
            return None
        if not isinstance(dtype, T.ArrayType):
            return None
        et = dtype.elementType
        present = value.isNotNull()
        if not isinstance(items, list):
            item_schema = items if isinstance(items, dict) else {}

            def per_elem(x, i):
                p = F.concat(path, F.lit("/"), i.cast("string"))
                return self._node(item_schema, et, x, p)

            return self._gate(present, self._fold(F.transform(value, per_elem)))

        # tuple form
        frags = [
            self._gate(
                present, self._node(sub, et, F.get(value, k), F.concat(path, F.lit(f"/{k}")))
            )
            for k, sub in enumerate(items)
        ]
        if additional is not None and additional is not True:
            n = len(items)
            rest = F.slice(value, n + 1, 1 << 30)

            def extra_path(i):
                return F.concat(path, F.lit("/"), (i + n).cast("string"))

            if additional is not False:
                tail = self._fold(
                    F.transform(rest, lambda x, i: self._node(additional, et, x, extra_path(i)))
                )
            elif self._count:
                tail = F.size(value) - n
            else:
                tail = F.transform(
                    rest, lambda x, i: self._err("additionalItems", schema, x, et, extra_path(i))
                )
            frags.append(self._gate(present & (F.size(value) > n), tail))
        return self._cat(frags)

    def _children_properties(self, schema, dtype, value, path) -> Column | None:
        props = schema.get("properties") or {}
        pattern_props = schema.get("patternProperties") or {}
        additional = schema.get("additionalProperties")
        if not props and not pattern_props and additional is None:
            return None
        frags: list[Column] = []
        present = value.isNotNull()

        if isinstance(dtype, T.StructType):
            fields = {f.name: f.dataType for f in dtype.fields}
            for k, sub in props.items():
                cd = fields.get(k, _UNDEFINED_T)
                cv = value.getField(k) if k in fields else F.lit(None)
                p = F.concat(path, F.lit("/" + k))
                frags.append(self._gate(present, self._node(sub, cd, cv, p)))
            # patternProperties over a closed struct: match against the
            # statically-known field names at compile time
            declared = set(props)
            for pat, sub in pattern_props.items():
                rx = re.compile(pat)
                for fname, fdt in fields.items():
                    if rx.search(fname):
                        declared.add(fname)
                        p = F.concat(path, F.lit("/" + fname))
                        child = self._node(sub, fdt, value.getField(fname), p)
                        frags.append(self._gate(present, child))
            # a struct is closed: extra = declared-in-data fields not in the
            # schema; with typed data this is static — non-null undeclared
            # fields error per key (value-level "presence" = non-null)
            if additional is False or isinstance(additional, dict):
                for fname, fdt in fields.items():
                    if fname in declared:
                        continue
                    fv = value.getField(fname)
                    p = F.concat(path, F.lit("/" + fname))
                    if additional is False:
                        err = self._err("additionalProperties", schema, fv, fdt, p)
                        frags.append(self._one(present & fv.isNotNull(), err))
                    else:
                        frags.append(self._gate(present, self._node(additional, fdt, fv, p)))
        elif isinstance(dtype, T.MapType):
            vt = dtype.valueType
            for k, sub in props.items():
                cv = F.element_at(value, F.lit(k))
                p = F.concat(path, F.lit("/" + k))
                frags.append(self._gate(present, self._node(sub, vt, cv, p)))

            def key_path(k):
                return F.concat(path, F.lit("/"), k)

            for pat, sub in pattern_props.items():
                per_key = F.transform(
                    F.map_keys(value),
                    lambda k: self._gate(
                        k.rlike(pat), self._node(sub, vt, F.element_at(value, k), key_path(k))
                    ),
                )
                frags.append(self._gate(present, self._fold(per_key)))
            if additional is False or isinstance(additional, dict):
                declared_arr = F.array(*[F.lit(k) for k in props]) if props else F.array().cast("array<string>")
                extra_keys = F.filter(
                    F.map_keys(value),
                    lambda k: ~F.array_contains(declared_arr, k)
                    if props
                    else F.lit(True),
                )

                def unmatched(k):
                    out = F.lit(True)
                    for pat in pattern_props:
                        out = out & ~k.rlike(pat)
                    return out

                if additional is not False:
                    extra = self._fold(F.transform(
                        extra_keys,
                        lambda k: self._gate(
                            unmatched(k),
                            self._node(additional, vt, F.element_at(value, k), key_path(k)),
                        ),
                    ))
                elif self._count:
                    extra = F.size(F.filter(extra_keys, unmatched))
                else:
                    def per_extra(k):
                        err = self._err(
                            "additionalProperties", schema, F.element_at(value, k), vt,
                            key_path(k),
                        )
                        return self._err_if(unmatched(k), err)

                    extra = F.filter(F.transform(extra_keys, per_extra), lambda c: c.isNotNull())
                frags.append(self._gate(present, extra))
        else:
            return None

        if not frags:
            return None
        return self._cat(frags)


def verdict(count: Column, errors: Column) -> tuple[Column, Column]:
    """``(errors, valid)`` of a row from its violation count and its
    error-record array.  The array is gated behind the count, so valid rows
    never build an error record.  ``valid`` is the gate's own condition, not
    ``size(errors) = 0``: a filter on it is pushed below the projection, and
    there it would build an invalid row's error array a second time."""
    has_errors = F.coalesce(count > 0, F.lit(False))
    return F.when(has_errors, errors).otherwise(_empty()), ~has_errors


def validate_dataframe(df, schema: dict, options: dict | None = None):
    """Row-as-instance validation: append ``errors`` + ``valid`` columns."""
    return ColumnValidator(schema, options).apply(df)
