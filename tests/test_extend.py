"""Selector-extension API — the reference's ``Validator.extend`` subclass
hook (/root/reference/README.md:229-261) ported to both backends, exercised
with the README's notEqualTo/isStrong custom-validator fixture — plus the
``loader`` hook for remote $refs (/root/reference/src/compiler.js:243).
"""

from schemasaurus_spark.schema.columns import ColumnValidator
from schemasaurus_spark.schema.walker import V4Validator, new_validator

SCHEMA = {
    "properties": {
        "username": {"type": "string"},
        "password": {"type": "string", "isStrong": True, "notEqualTo": "username"},
    }
}


# -- walker-backend extension handlers (compile-style, validator explicit) --


def _not_equal_to(v, schema, cctx):
    field = schema["notEqualTo"]

    def run(value, rctx):
        if isinstance(rctx.parent, dict) and rctx.parent.get(field) == value:
            v.error("myCode", rctx, "my message")

    return run


def _is_strong(v, schema, cctx):
    def run(value, rctx):
        if value == "qwerty":
            v.error("myAnotherCode", rctx, "my another message")

    return run


def test_walker_extend_fixture():
    MyValidator = V4Validator.extend(
        {"[notEqualTo]": _not_equal_to, "[isStrong]": _is_strong}
    )
    v = new_validator(SCHEMA, validator_cls=MyValidator)

    r = v({"username": "gandalf", "password": "gandalf"})
    assert not r["valid"] and [e["code"] for e in r["errors"]] == ["myCode"]
    assert r["errors"][0]["message"] == "my message"

    r = v({"username": "gandalf", "password": "qwerty"})
    assert [e["code"] for e in r["errors"]] == ["myAnotherCode"]

    assert v({"username": "gandalf", "password": "mellon"})["valid"]

    # base class is untouched (extend returns a subclass)
    base = new_validator(SCHEMA)
    assert base({"username": "gandalf", "password": "gandalf"})["valid"]


# -- Column-backend extension builders --------------------------------------


def _not_equal_to_col(v, schema, dtype, value, path):
    field = schema["notEqualTo"]
    cond = value.isNotNull() & value.eqNullSafe(v.parent_value.getField(field))
    return v._one(cond, v._err("myCode", schema, value, dtype, path, "my message"))


def _is_strong_col(v, schema, dtype, value, path):
    cond = value.isNotNull() & (value == "qwerty")
    return v._one(
        cond, v._err("myAnotherCode", schema, value, dtype, path, "my another message")
    )


def test_columns_extend_fixture(spark):
    opts = {"extensions": {"notEqualTo": _not_equal_to_col, "isStrong": _is_strong_col}}
    df = spark.createDataFrame(
        [("gandalf", "gandalf"), ("gandalf", "qwerty"), ("gandalf", "mellon")],
        "username string, password string",
    )
    out = ColumnValidator(SCHEMA, opts).apply(df).collect()
    codes = {r.password: [e["code"] for e in r.errors] for r in out}
    assert codes == {"gandalf": ["myCode"], "qwerty": ["myAnotherCode"], "mellon": []}
    paths = {r.password: [e["path"] for e in r.errors] for r in out}
    assert paths["gandalf"] == ["/password"]

    # count-only fast path agrees (extensions share the fragment algebra)
    fast = ColumnValidator(SCHEMA, opts).counted(df).collect()
    assert {r.password: r.n_violations for r in fast} == {
        "gandalf": 1, "qwerty": 1, "mellon": 0,
    }


# -- loader hook for remote refs --------------------------------------------


def test_loader_hook_resolves_remote_refs():
    registry = {
        "http://example.com/defs.json": {
            "positiveInt": {"type": "integer", "minimum": 1}
        }
    }
    schema = {
        "properties": {
            "n": {"$ref": "http://example.com/defs.json#/positiveInt"},
        }
    }
    v = new_validator(schema, {"loader": registry.__getitem__})
    assert v({"n": 3})["valid"]
    r = v({"n": 0})
    assert [e["code"] for e in r["errors"]] == ["minimum"]

    # without a loader, remote refs throw at compile time (compiler.js:10-12)
    import pytest

    with pytest.raises(ValueError, match="Remote refs"):
        new_validator(schema)


def test_loader_hook_columns_backend(spark):
    registry = {"defs": {"shortStr": {"type": "string", "maxLength": 3}}}
    schema = {"properties": {"s": {"$ref": "defs#/shortStr"}}}
    df = spark.createDataFrame([("ab",), ("abcd",)], "s string")
    out = ColumnValidator(schema, {"loader": registry.__getitem__}).apply(df).collect()
    assert [len(r.errors) for r in out] == [0, 1]
    assert out[1].errors[0]["code"] == "maxLength"
