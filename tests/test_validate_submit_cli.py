"""Smoke test of ``jobs/validate_submit.py``: a full run and a ``--resume``
run on a tiny corpus write the same ``verdicts.json`` totals as a direct
pass, and print one stderr line per manifested unit."""

import importlib.util
import json
import os
import re
import sys

import pytest
from pyspark.sql import functions as F

from schemasaurus_spark.plans.validation_job import ValidationJob
from schemasaurus_spark.runstate import RunState
from schemasaurus_spark.sources.generator import generate_documents

_SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs", "validate_submit.py"
)
_LINE = re.compile(
    r"^unit ([0-9a-f]{16}): docs=(\d+) invalid_docs=(\d+) violations=(\d+) wall_s=([0-9.]+)$"
)


def _run_main(spark, monkeypatch, capsys, *argv):
    spec = importlib.util.spec_from_file_location("validate_submit", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    # main() ends with spark.stop(); keep the shared test session alive
    monkeypatch.setattr(mod, "build_session", lambda: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr(sys, "argv", ["validate_submit.py", *argv])
    with pytest.raises(SystemExit) as exit_:
        mod.main()
    assert exit_.value.code == 0
    return {m.group(1): tuple(int(g) for g in m.groups()[1:4])
            for m in map(_LINE.match, capsys.readouterr().err.splitlines()) if m}


def test_validate_submit_run_and_resume(spark, tmp_path, monkeypatch, capsys):
    inp, out = str(tmp_path / "docs.parquet"), str(tmp_path / "out")
    generate_documents(spark, 600, seed=5).repartition(4).write.parquet(inp)
    direct = ValidationJob().counted(spark.read.parquet(inp)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((~F.col("valid")).cast("long")).alias("n_invalid_docs"),
        F.sum("n_violations").alias("n_violations"),
    ).first().asDict()
    args = ("--input", inp, "--output", out, "--files-per-unit", "2")

    def verdicts():
        with open(os.path.join(out, "verdicts.json")) as f:
            return json.load(f)

    def manifest_lines():
        return {
            uid: (m["metrics"]["n_docs"], m["metrics"]["n_invalid_docs"], m["metrics"]["n_violations"])
            for uid, m in RunState(os.path.join(out, "manifests")).completed().items()
        }

    lines = _run_main(spark, monkeypatch, capsys, *args)
    first = verdicts()
    assert first["totals"] == direct
    assert (first["n_units"], first["n_processed"]) == (2, 2)
    assert len(lines) == 2 and lines == manifest_lines()

    # lose one manifest: --resume redoes that unit only, same totals
    redo = sorted(lines)[0]
    os.remove(os.path.join(out, "manifests", f"{redo}.json"))
    lines = _run_main(spark, monkeypatch, capsys, *args, "--resume")
    again = verdicts()
    assert again["totals"] == direct
    assert (again["n_skipped"], again["n_processed"]) == (1, 1)
    assert len(lines) == 2 and lines == manifest_lines()
