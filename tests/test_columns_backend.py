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
    once more.  The rows equal those of the unguarded error-array backend."""
    p = str(tmp_path / "docs")
    docs.write.parquet(p)
    df = spark.read.parquet(p)
    job = ValidationJob(schema)
    v = job.violations(job.validated(df))
    conds = _filter_conditions(v)
    assert conds, "no Filter under violations()"
    assert all("struct(" not in c for c in conds), [c[:200] for c in conds]
    want = job.violations(job.validated(df, guarded=False))
    assert sorted(map(repr, v.collect())) == sorted(map(repr, want.collect()))
    assert v.count() > 0


def test_count_mode_matches_error_arrays(spark, docs, schema):
    """The verdict fast path (count_only) must produce exactly
    size(errors) for every row of the generated corpus."""
    job = ValidationJob(schema)
    full = job.validated(docs).select(F.size("errors").alias("n")).collect()
    fast = job.counted(docs).select(F.col("n_violations").alias("n")).collect()
    assert [r.n for r in full] == [r.n for r in fast]
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
    full = ColumnValidator(schema).apply(df).select(F.size("errors").alias("n")).collect()
    fast = (
        ColumnValidator(schema, count_only=True)
        .apply(df)
        .select(F.col("n_violations").alias("n"))
        .collect()
    )
    assert [r.n for r in full] == [r.n for r in fast]


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
    full = ColumnValidator(schema).apply(df).collect()
    assert [[tuple(e) for e in r.errors] for r in full] == want
    fast = ColumnValidator(schema, count_only=True).apply(df).collect()
    assert [r.n_violations for r in fast] == [len(w) for w in want]


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
