"""Property-based backend parity fuzz (round-2 VERDICT item 8): generate
random (schema, instance) pairs over a bounded keyword set and assert the
three backends agree —

* walker (the reference-parity oracle, ``new_validator``),
* native Column backend (``ColumnValidator.apply``): ordered
  (code, json-pointer) violation lists must match the walker exactly,
* count-only backend: per-row violation count == len(walker errors).

The draft-4 corpus is fixed; this finds the cases nobody authored.  Seeded
``random.Random`` rather than hypothesis so runs are bit-reproducible and
never shrink against a live SparkSession (each failing case prints its
(seed, schema, instance) triple for replay).

Conventions that make the comparison well-defined on typed rows:
* absent dict key == null struct field (the documented "null = missing"
  deviation of the typed backend) — instances never contain explicit None,
* "null" never appears as a schema type,
* every root property is declared, so additionalProperties:false never
  depends on the null-vs-missing distinction.
"""

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schemasaurus_spark import new_validator
from schemasaurus_spark.schema.columns import ColumnValidator

FIELDS = ["s", "n", "i", "b", "arr", "o"]

ROW_TYPE = T.StructType(
    [
        T.StructField("s", T.StringType()),
        T.StructField("n", T.DoubleType()),
        T.StructField("i", T.LongType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("arr", T.ArrayType(T.LongType())),
        T.StructField(
            "o",
            T.StructType(
                [T.StructField("x", T.LongType()), T.StructField("y", T.StringType())]
            ),
        ),
    ]
)

PATTERNS = ["^a", "b$", "[0-9]+", "abc", "^[a-z]*$", "a.c"]
STRINGS = ["", "a", "abc", "a1", "zzz", "b", "0123456789", "a c"]
NUMBERS = [-1.5, -1.0, 0.0, 0.5, 1.0, 2.0, 2.5, 3.0, 6.0, 7.0]
INTS = [-3, 0, 1, 2, 5, 10]


def _maybe(rng, p):
    return rng.random() < p


def _wrap_combinator(rng, base, kind, make_alt):
    comb = rng.choice(["allOf", "anyOf", "oneOf", "not", "plain", "plain"])
    if comb == "plain":
        return base
    if comb == "not":
        return {"not": make_alt(rng, kind, depth=1)}
    return {comb: [base, make_alt(rng, kind, depth=1)]}


def field_schema(rng, kind, depth=0):
    base = {}
    if kind == "s":
        base["type"] = "string"
        if _maybe(rng, 0.5):
            base["minLength"] = rng.randint(0, 4)
        if _maybe(rng, 0.4):
            base["maxLength"] = rng.randint(2, 8)
        if _maybe(rng, 0.3):
            base["pattern"] = rng.choice(PATTERNS)
        if _maybe(rng, 0.2):
            base["enum"] = rng.sample(STRINGS[:5], k=rng.randint(1, 3))
    elif kind == "n":
        base["type"] = rng.choice(["number", "integer"])
        if _maybe(rng, 0.5):
            base["minimum"] = rng.choice([-1, 0, 0.5, 2])
            if _maybe(rng, 0.3):
                base["exclusiveMinimum"] = True
        if _maybe(rng, 0.4):
            base["maximum"] = rng.choice([1, 2.5, 7])
            if _maybe(rng, 0.3):
                base["exclusiveMaximum"] = True
        if _maybe(rng, 0.3):
            base["multipleOf"] = rng.choice([0.5, 1, 2, 3])
    elif kind == "i":
        base["type"] = rng.choice(["integer", "number"])
        if _maybe(rng, 0.5):
            base["minimum"] = rng.choice([-2, 0, 1])
        if _maybe(rng, 0.4):
            base["maximum"] = rng.choice([2, 5, 9])
        if _maybe(rng, 0.3):
            base["multipleOf"] = rng.choice([2, 3, 5])
    elif kind == "b":
        base["type"] = "boolean"
        if _maybe(rng, 0.2):
            base["enum"] = [rng.choice([True, False])]
    elif kind == "arr":
        base["type"] = "array"
        if _maybe(rng, 0.5):
            base["minItems"] = rng.randint(0, 2)
        if _maybe(rng, 0.4):
            base["maxItems"] = rng.randint(1, 3)
        if _maybe(rng, 0.4):
            base["uniqueItems"] = True
        if _maybe(rng, 0.6):
            items = {"type": "integer"}
            if _maybe(rng, 0.5):
                items["minimum"] = rng.choice([0, 1, 2])
            base["items"] = items
    elif kind == "o":
        base["type"] = "object"
        props = {}
        if _maybe(rng, 0.8):
            props["x"] = field_schema(rng, "i", depth=1)
        if _maybe(rng, 0.8):
            props["y"] = field_schema(rng, "s", depth=1)
        if props:
            base["properties"] = props
        req = [k for k in props if _maybe(rng, 0.3)]
        if req:
            base["required"] = req
    if depth == 0 and _maybe(rng, 0.3):
        return _wrap_combinator(rng, base, kind, field_schema)
    return base


def root_schema(rng):
    props = {k: field_schema(rng, k) for k in FIELDS}
    schema = {"type": "object", "properties": props}
    req = [k for k in FIELDS if _maybe(rng, 0.2)]
    if req:
        schema["required"] = req
    if _maybe(rng, 0.3):
        schema["additionalProperties"] = False  # all fields declared: no-op
    if _maybe(rng, 0.25):
        if _maybe(rng, 0.5):
            schema["dependencies"] = {"s": ["n"]}
        else:
            schema["dependencies"] = {
                "s": {"properties": {"i": {"type": "integer", "minimum": 0}}}
            }
    return schema


def gen_instance(rng):
    row = {}
    if _maybe(rng, 0.85):
        row["s"] = rng.choice(STRINGS)
    if _maybe(rng, 0.85):
        row["n"] = float(rng.choice(NUMBERS))
    if _maybe(rng, 0.85):
        row["i"] = rng.choice(INTS)
    if _maybe(rng, 0.85):
        row["b"] = rng.choice([True, False])
    if _maybe(rng, 0.8):
        row["arr"] = [rng.choice([0, 1, 2, 3]) for _ in range(rng.randint(0, 4))]
    if _maybe(rng, 0.7):
        o = {}
        if _maybe(rng, 0.8):
            o["x"] = rng.choice([0, 1, 5])
        if _maybe(rng, 0.8):
            o["y"] = rng.choice(["", "a", "yy"])
        row["o"] = o
    return row


def to_spark_row(inst):
    o = inst.get("o")
    return (
        inst.get("s"),
        inst.get("n"),
        inst.get("i"),
        inst.get("b"),
        inst.get("arr"),
        (o.get("x"), o.get("y")) if o is not None else None,
    )


def walker_errors(validator, doc):
    res = validator(doc)
    return [
        (e["code"], "/" + "/".join(str(c) for c in e["path"]) if e["path"] else "")
        for e in res["errors"]
    ]


@pytest.mark.parametrize("seed", [7, 23, 101, 4242])
def test_fuzz_walker_vs_columns_vs_count(spark, seed):
    rng = random.Random(seed)
    n_schemas, n_instances = 6, 12
    for si in range(n_schemas):
        schema = root_schema(rng)
        instances = [gen_instance(rng) for _ in range(n_instances)]
        validator = new_validator(schema)
        expected = [walker_errors(validator, inst) for inst in instances]

        df = spark.createDataFrame([to_spark_row(i) for i in instances], ROW_TYPE)
        v = ColumnValidator(schema)
        full = v.apply(df).select("errors", "valid").collect()
        # the ungated array: apply's is empty wherever the count says 0
        ref = df.select(v.trees(df.schema)[1].alias("errors")).collect()
        counted = v.counted(df).select("n_violations", "valid").collect()
        for k, (inst, exp) in enumerate(zip(instances, expected)):
            ctx = f"seed={seed} schema#{si}={schema} instance#{k}={inst}"
            got = [(e.code, e.path) for e in ref[k].errors]
            assert got == exp, f"ungated columns != walker: {got} vs {exp}\n{ctx}"
            got = [(e.code, e.path) for e in full[k].errors]
            assert got == exp, f"columns != walker: {got} vs {exp}\n{ctx}"
            assert full[k].valid == (not exp), ctx
            assert counted[k].n_violations == len(exp), (
                f"count backend {counted[k].n_violations} != {len(exp)}\n{ctx}"
            )
            assert counted[k].valid == (not exp), ctx
