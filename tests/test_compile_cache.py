"""``ColumnValidator`` compiles once per row type: later ``apply`` /
``ValidationJob.validated`` calls on frames of the same row type reuse the
compiled expression, a different row type compiles on its own, and
extensions and custom conform builders still fire through the cache."""

import pytest
from pyspark.sql import functions as F
from test_extend import SCHEMA, _is_strong_col, _not_equal_to_col

from schemasaurus_spark.plans.validation_job import ValidationJob
from schemasaurus_spark.schema.columns import ColumnValidator
from schemasaurus_spark.sources.generator import generate_documents

CUSTOM_SCHEMA = {
    "properties": {
        **SCHEMA["properties"],
        "pin": {"type": "string", "conform": {"digits": True}},
    }
}
OPTIONS = {
    "extensions": {"notEqualTo": _not_equal_to_col, "isStrong": _is_strong_col},
    "custom_columns": {"digits": lambda v: v.rlike("^[0-9]+$")},
}
ROWS = [("gandalf", "gandalf", "12"), ("gandalf", "qwerty", "x1"), ("gandalf", "mellon", "7")]
DDL = "username string, password string, pin string"


@pytest.fixture
def compiles(monkeypatch):
    """Count schema-node compilations."""
    calls = []
    real = ColumnValidator._node_body

    def spy(self, *args, **kwargs):
        calls.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(ColumnValidator, "_node_body", spy)
    return calls


def _codes(df):
    return {r.password: [e["code"] for e in r.errors] for r in df.collect()}


def test_apply_compiles_once_per_row_type(spark, compiles):
    v = ColumnValidator(CUSTOM_SCHEMA, OPTIONS)
    first = v.apply(spark.createDataFrame(ROWS, DDL))
    n = len(compiles)
    assert n > 0
    second = v.apply(spark.createDataFrame(ROWS, DDL))
    assert len(compiles) == n
    want = {"gandalf": ["myCode"], "qwerty": ["myAnotherCode", "custom.digits"], "mellon": []}
    assert _codes(first) == _codes(second) == want

    # an extra column is another row type: compiled separately, same verdicts
    wider = v.apply(spark.createDataFrame([r + (1,) for r in ROWS], DDL + ", extra int"))
    assert len(compiles) > n
    assert _codes(wider) == want

    fast = ColumnValidator(CUSTOM_SCHEMA, OPTIONS)
    counts = [
        {r.password: r.n_violations for r in fast.counted(spark.createDataFrame(ROWS, DDL)).collect()}
        for _ in range(2)
    ]
    assert counts[0] == counts[1] == {"gandalf": 1, "qwerty": 2, "mellon": 0}


def test_validation_job_compiles_once_per_row_type(spark, compiles):
    docs = generate_documents(spark, 300, seed=3)
    job = ValidationJob()

    def violations():
        out = job.violations(job.validated(docs.select("*")))
        return sorted(tuple(r) for r in out.collect())

    first = violations()
    n = len(compiles)
    assert n > 0 and len(first) > 0
    assert violations() == first
    job.counted(docs)  # the guard's count expression is the counter's
    assert len(compiles) == n

    docs_x = docs.withColumn("extra", F.lit(1))
    job.validated(docs_x)
    assert len(compiles) > n
