"""Columnar-backend correctness: the native-Column validator must agree with
the Python walker (the reference-parity oracle) on the generated interleaved
documents table — same verdicts, same ordered (code, json-pointer) violation
lists per document.  This is the typed-backend equivalent of running the
reference's validate fixtures."""

import json

import pytest
from pyspark.sql import functions as F

from schemasaurus_spark import new_validator
from schemasaurus_spark.plans.validation_job import DOCUMENT_SCHEMA, ValidationJob
from schemasaurus_spark.sources.generator import generate_documents


@pytest.fixture(scope="module")
def docs(spark):
    return generate_documents(spark, 300, seed=42, max_text_len=64).cache()


@pytest.fixture(scope="module")
def schema():
    # tighter maxLength so the generator's ~1% long-text injections violate
    s = json.loads(json.dumps(DOCUMENT_SCHEMA))
    s["properties"]["spans"]["items"]["properties"]["text"]["maxLength"] = 200
    return s


def ungated(validator, df):
    """``df`` + the ungated error-record array: the reference the gated
    ``apply`` output and the count tree are checked against, since a gated
    array is empty wherever the count says 0."""
    return df.withColumn("errors", validator.trees(df.schema)[1])


def walker_errors(schema, doc):
    res = new_validator(schema)(doc)
    return [
        (e["code"], "/" + "/".join(str(c) for c in e["path"]) if e["path"] else "")
        for e in res["errors"]
    ]


def test_column_backend_matches_walker(spark, docs, schema):
    job = ValidationJob(schema)
    validated = job.validated(docs)
    rows = validated.select(
        "doc_id", F.to_json(F.struct("doc_id", "spans")).alias("doc_json"), "errors", "valid"
    ).collect()
    assert len(rows) == 300
    n_invalid = 0
    for r in rows:
        doc = json.loads(r.doc_json)
        expected = walker_errors(schema, doc)
        got = [(e.code, e.path) for e in r.errors]
        assert got == expected, f"doc {r.doc_id}: {got} != {expected}"
        assert r.valid == (not expected)
        n_invalid += 0 if r.valid else 1
    # the generator injects violations — make sure both classes are present
    assert 0 < n_invalid < 300


def test_violations_contract(spark, docs, schema):
    job = ValidationJob(schema)
    v = job.violations(job.validated(docs))
    assert v.columns == [
        "doc_id", "span_idx", "keyword", "json_pointer",
        "code", "message", "value", "arg", "err_idx",
    ]
    sample = v.limit(5).collect()
    assert len(sample) > 0
    for row in sample:
        assert row.json_pointer.startswith("/")


def test_verdicts_two_phase(spark, docs, schema):
    job = ValidationJob(schema)
    verd = job.verdicts(job.validated(docs))
    rows = verd.collect()
    assert sum(r.n_docs for r in rows) == 300
    assert all(isinstance(r["pass"], bool) for r in rows)
    total_violations = sum(r.n_violations for r in rows)
    assert total_violations > 0


def _filter_conditions(df):
    """The conditions of every Filter in ``df``'s optimized plan."""
    out, todo = [], [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "Filter":
            out.append(node.condition().toString())
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return out


def test_violations_filter_skips_error_records(spark, docs, schema, tmp_path):
    """Over a parquet scan, the filter of ``violations(validated(df))`` is
    pushed below the validation projection.  It must test the error count
    only: an error-record struct there builds each invalid row's error array
    once more.  The rows equal those of the ungated error array exploded."""
    p = str(tmp_path / "docs")
    docs.write.parquet(p)
    df = spark.read.parquet(p)
    job = ValidationJob(schema)
    v = job.violations(job.validated(df))
    conds = _filter_conditions(v)
    assert conds, "no Filter under violations()"
    assert all("struct(" not in c for c in conds), [c[:200] for c in conds]
    ref = ungated(job.validator, df).withColumn("valid", F.size("errors") == 0)
    want = job.violations(ref)
    assert sorted(map(repr, v.collect())) == sorted(map(repr, want.collect()))
    assert v.count() > 0


def test_count_mode_matches_error_arrays(spark, docs, schema):
    """The verdict fast path (``counted``) must produce exactly
    size(errors) for every row of the generated corpus."""
    job = ValidationJob(schema)
    ref = ungated(job.validator, docs).select(F.size("errors").alias("n")).collect()
    full = job.validated(docs).select(F.size("errors").alias("n")).collect()
    fast = job.counted(docs).select(F.col("n_violations").alias("n")).collect()
    assert [r.n for r in ref] == [r.n for r in full] == [r.n for r in fast]
    assert sum(r.n for r in full) > 0


def test_count_mode_structural_keywords(spark):
    """Count mode over combinators / uniqueItems / tuple items /
    dependencies agrees with the error-array backend."""
    from schemasaurus_spark.schema.columns import ColumnValidator

    schema = {
        "type": "object",
        "properties": {
            "a": {"oneOf": [{"type": "integer", "minimum": 5}, {"type": "integer", "maximum": 2}]},
            "b": {"type": "array", "uniqueItems": True, "items": {"type": "integer"}},
            "c": {"allOf": [{"minimum": 0}, {"multipleOf": 2}]},
            "d": {"not": {"type": "integer", "minimum": 10}},
        },
        "dependencies": {"a": ["d"]},
    }
    df = spark.createDataFrame(
        [
            (3, [1, 2, 2, 3, 3, 3], 4, 1),
            (7, [1, 2], -3, 20),
            (None, None, None, None),
            (1, [5, 5], 2, None),
        ],
        "a int, b array<int>, c int, d int",
    )
    v = ColumnValidator(schema)
    ref = ungated(v, df).select(F.size("errors").alias("n")).collect()
    full = v.apply(df).select(F.size("errors").alias("n")).collect()
    fast = v.counted(df).select(F.col("n_violations").alias("n")).collect()
    assert [r.n for r in ref] == [r.n for r in full] == [r.n for r in fast]
    assert sum(r.n for r in ref) > 0


# (schema, row DDL, instances): nodes whose error records were once made
# outside ColumnValidator._err
WALKER_RECORD_CASES = {
    "map_pattern_properties": (
        {"properties": {"m": {"patternProperties": {"^a": {"minimum": 5}}}}},
        "m map<string,int>",
        [{"m": {"a1": 1, "a2": 7, "b": 0}}, {"m": {}}, {}],
    ),
    "map_container_value": (
        {"properties": {"m": {"properties": {"a": {}}, "additionalProperties": False}}},
        "m map<string,struct<x:int>>",
        [{"m": {"a": {"x": 0}, "k": {"x": 1}}}],
    ),
    "map_additional_schema": (
        {
            "properties": {
                "m": {
                    "properties": {"a": {"maximum": 1}},
                    "patternProperties": {"^p": {"maximum": 2}},
                    "additionalProperties": {"maximum": 3},
                }
            }
        },
        "m map<string,int>",
        [{"m": {"k": 9, "j": 1}}, {"m": {"a": 5, "p1": 5, "k": 4}}, {"m": {}}, {}],
    ),
    "node_messages": (
        {
            "properties": {
                "u": {"uniqueItems": True, "messages": {"uniqueItems": "dup"}},
                "t": {
                    "items": [{}],
                    "additionalItems": False,
                    "messages": {"additionalItems": "extra"},
                },
                "m": {
                    "additionalProperties": False,
                    "messages": {"additionalProperties": "stray"},
                },
                "n": {"maxItems": 1, "messages": {"maxItems": "long"}},
            }
        },
        "u array<int>, t array<int>, m map<string,int>, n array<int>",
        [{"u": [1, 1], "t": [1, 2], "m": {"k": 1}, "n": [1, 2]}],
    ),
}


@pytest.mark.parametrize("case", sorted(WALKER_RECORD_CASES))
def test_error_records_match_walker(spark, case):
    """Full (code, message, value, arg, path) records equal the walker's,
    and count mode equals the walker's error count."""
    from schemasaurus_spark.schema.batch import _pointer, _stringify
    from schemasaurus_spark.schema.columns import ColumnValidator

    schema, ddl, instances = WALKER_RECORD_CASES[case]
    df = spark.createDataFrame([], ddl)
    df = spark.createDataFrame(
        [tuple(inst.get(c) for c in df.columns) for inst in instances], ddl
    )
    walker = new_validator(schema)
    want = [
        [
            (e["code"], e["message"], _stringify(e["value"]), _stringify(e["arg"]),
             _pointer(e["path"]))
            for e in walker(inst)["errors"]
        ]
        for inst in instances
    ]
    assert any(want)
    v = ColumnValidator(schema)
    for out in (ungated(v, df), v.apply(df)):
        assert [[tuple(e) for e in r.errors] for r in out.collect()] == want
    fast = v.counted(df).collect()
    assert [r.n_violations for r in fast] == [len(w) for w in want]


# -- every caller routes through ColumnValidator's guarded build ------------

ROUTE_SCHEMA = {"properties": {"n": {"type": "integer", "maximum": 10}}}
ROUTE_DDL = "doc_id string, schema_version string, n bigint"
ROUTE_ROWS = [("a", "1", 5), ("b", "1", 50), ("c", "9", 5)]


def _projection(df, name):
    """The expression of column ``name`` in the top Project of ``df``'s
    optimized plan."""
    exprs = df._jdf.queryExecution().optimizedPlan().projectList()
    for e in (exprs.apply(i) for i in range(exprs.size())):
        if e.name() == name:
            return e.child() if e.nodeName() == "Alias" else e
    raise AssertionError(f"no {name} in the top projection")


def _find(expr, node_name):
    """The first node named ``node_name`` in ``expr``, depth first."""
    if expr.nodeName() == node_name:
        return expr
    for i in range(expr.children().size()):
        found = _find(expr.children().apply(i), node_name)
        if found is not None:
            return found
    return None


def _gated(errors):
    """True when ``errors`` is ``CASE WHEN <count test> THEN <records> ELSE
    [] END`` and the count test builds no error record."""
    if errors.nodeName() != "CaseWhen" or errors.branches().size() != 1:
        return False
    cond = errors.branches().apply(0)._1().toString()
    return "struct(code" not in cond and errors.elseValue().get().toString() == "[]"


def test_validate_dataframe_gates_errors(spark):
    from schemasaurus_spark.schema.columns import validate_dataframe

    out = validate_dataframe(spark.createDataFrame(ROUTE_ROWS, ROUTE_DDL), ROUTE_SCHEMA)
    assert _gated(_projection(out, "errors"))
    assert "struct(code" not in _projection(out, "valid").toString()
    assert [(r.valid, [e.code for e in r.errors]) for r in out.collect()] == [
        (True, []), (False, ["maximum"]), (True, []),
    ]


def test_registry_gates_every_version(spark):
    from schemasaurus_spark.schema.registry import SchemaRegistry

    tight = {"properties": {"n": {"type": "integer", "maximum": 1}}}
    reg = SchemaRegistry({"1": ROUTE_SCHEMA, "2": tight})
    out = reg.validate(spark.createDataFrame(ROUTE_ROWS, ROUTE_DDL))
    # one routed count gates one routed record array, and ``valid`` is that
    # gate's own condition, so a row evaluates its version's count once
    errors = _projection(out, "errors")
    assert _gated(errors)
    records = errors.branches().apply(0)._2()
    assert records.nodeName() == "CaseWhen" and records.branches().size() == 2
    count = _find(errors.branches().apply(0)._1(), "CaseWhen")
    assert count.branches().size() == 2
    valid = _projection(out, "valid")
    assert count.semanticEquals(_find(valid, "CaseWhen"))
    unknown = out.where("doc_id = 'c'").first()
    assert not unknown.valid
    assert [tuple(e) for e in unknown.errors] == [
        ("schemaVersion", "unregistered schema version", "9", None, "")
    ]


def test_count_only_callers_build_no_error_records(spark):
    from schemasaurus_spark.plans.pipeline import CorpusPipeline
    from schemasaurus_spark.schema.migration import migration_matrix

    df = spark.createDataFrame(ROUTE_ROWS, ROUTE_DDL)
    tight = {"properties": {"n": {"type": "integer", "maximum": 1}}}
    matrix = migration_matrix(df, ROUTE_SCHEMA, tight)
    kept = CorpusPipeline(schema=ROUTE_SCHEMA).valid_docs(df)
    for out in (matrix, kept):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "struct(code" not in plan, plan[:300]
    assert sorted(tuple(r) for r in matrix.collect()) == [(False, False, 1), (True, False, 2)]
    assert sorted(r.doc_id for r in kept.collect()) == ["a", "c"]


def test_span_sequence_invariant(spark, docs):
    """Per-row span-sequence equality (kind, text, media_ref, order): the
    engine's projection must reproduce the source order exactly."""
    job = ValidationJob()
    first = docs.limit(1)
    src = first.collect()[0]
    flat = job.span_sequence(first).orderBy("order").collect()
    assert [r.order for r in flat] == list(range(len(src.spans)))
    assert [(r.kind, r.text, r.media_ref) for r in flat] == [
        (s.kind, s.text, s.media_ref) for s in src.spans
    ]
    nested = job.span_sequence_nested(first).collect()[0]
    assert [s["order"] for s in nested.span_seq] == list(range(len(src.spans)))


def test_offsets_strictly_increasing(spark, docs):
    bad = docs.select(
        F.exists(
            F.transform(
                "spans",
                lambda s, i: F.when(
                    i > 0,
                    s.getField("offset")
                    <= F.get(F.col("spans"), i - 1).getField("offset"),
                ).otherwise(F.lit(False)),
            ),
            lambda x: x,
        ).alias("violated")
    )
    assert bad.where("violated").count() == 0
