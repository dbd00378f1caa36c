"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The span-validation pass additionally reports docs/sec (the BASELINE.json
headline metric); scaling across two parallelism levels, two checkouts or
corpus sizes is measured with interleaved fresh-JVM pairs by
tools/pairs.py.

Each query is forced with the noop sink (full computation, no driver
collect) so timings measure the distributed plan, not result transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))

import __spark_entry__ as entry
from pairs import build_corpus, force
from schemasaurus_spark.operators.referential import dangling_media_refs
from schemasaurus_spark.operators.uniqueness import duplicate_keys
from schemasaurus_spark.plans.validation_job import ValidationJob
from schemasaurus_spark.session import get_spark
from schemasaurus_spark.sources.generator import (
    generate_documents,
    generate_media_catalog,
)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", str(max(2000, int(2_000_000 * sf)))))

    spark = get_spark("bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    timings: dict[str, float] = {}

    def run(name, thunk):
        t0 = time.time()
        thunk()
        timings[name] = round(time.time() - t0, 3)
        # drop intra-query persisted frames (LSH pins) so each timing is
        # independent of its predecessors' cache residency
        spark.catalog.clearCache()

    # -- north-rule span validation over the generated interleaved table ----
    # materialize the input once (the real job validates a stored table, not
    # a generator expression) so validation timings measure scan+validate
    import tempfile

    tmp = os.environ.get("SPARK_GRAFT_BENCH_TMP") or tempfile.mkdtemp(prefix="bench_docs_")
    docs_path = f"{tmp}/documents_n{n_docs}.parquet"
    run(
        "generate_documents",
        lambda: generate_documents(spark, n_docs=n_docs, seed=7)
        .write.mode("overwrite")
        .parquet(docs_path),
    )
    docs = spark.read.parquet(docs_path)
    catalog = generate_media_catalog(spark, seed=7)
    job = ValidationJob()

    # warm the JVM/codegen once so timings measure steady-state throughput;
    # same for the Arrow python-worker pool (first pandas-UDF stage of a
    # session pays ~3 s of worker spawn that is per-SESSION, not per-query)
    force(job.verdicts(job.validated(docs.limit(1000))))
    from pyspark.sql.functions import pandas_udf

    # lambda form: this module's `from __future__ import annotations` would
    # stringify the type hints a def-style pandas_udf needs
    _arrow_warm = pandas_udf(lambda s: s.str.len(), "long")
    force(spark.range(64).selectExpr("cast(id as string) s").select(_arrow_warm("s")))

    run("validate_spans_verdicts", lambda: force(job.verdicts(job.counted(docs))))
    run("validate_spans_violations", lambda: force(job.violations(job.validated(docs))))
    run("span_uniqueness", lambda: force(duplicate_keys(docs, "doc_id")))
    run("span_referential", lambda: force(dangling_media_refs(docs, catalog)))

    # sequence-level structural checks on the same sf-scaled corpus (one
    # scan, zero shuffles — F.get adjacency, not explode+window)
    from schemasaurus_spark.operators.span_integrity import span_integrity_violations

    run("span_integrity", lambda: force(span_integrity_violations(docs)))

    from schemasaurus_spark.operators.interleave import interleave_profile

    run("interleave_profile", lambda: force(interleave_profile(docs)))

    # -- contract queries over the sf testdata tables -----------------------
    # registry-driven (authoritative count = len(queries()) — no hand-kept
    # list to drift); entries already measured by a dedicated section above
    # on the generated interleaved corpus are skipped WITH the reason
    # carried into the output JSON (no silent caps)
    bench_skip = {
        "northrule_violations": "measured as validate_spans_violations on the generated corpus",
        "northrule_verdicts": "measured as validate_spans_verdicts on the generated corpus",
        "northrule_span_integrity": "measured as span_integrity on the generated corpus",
        "northrule_interleave_profile": "measured as interleave_profile on the generated corpus",
    }
    for name in qs:
        if name in bench_skip:
            continue
        run(name, lambda n=name: force(qs[n](spark, sf_dir)))

    # -- scale ladder rung: the two heaviest operators at 2x the corpus -----
    # (the bench record carries a measured scaling STEP, not one spot
    # value).  The 2x corpus is the sf table plus one substitution-ciphered
    # copy (tools/pairs.py build_corpus: a bijective per-copy alphabet keeps
    # the true answer and ideal work exactly linear in the factor) — a step
    # ratio well above ~2 on these entries indicts the plan.  The full
    # curve comes from `python tools/pairs.py factor 1 2 4 --sf-dir ...`.
    x2_dir = build_corpus(spark, sf_dir, 2, tmp)
    for name in ["doc_training_corpus", "doc_ngram_jaccard_dups"]:
        run(f"{name}_x2", lambda n=name: force(qs[n](spark, x2_dir)))

    total = round(sum(timings.values()), 3)
    # headline docs/sec: median of three repeats — this box is co-tenant
    # (BENCH/BASELINE.md) and a single 2-3 s sample of the verdict pass
    # swings 3x with neighbor load; the median is the drift-robust
    # capability number (the suite-wall timings above stay single-shot)
    reps = [timings["validate_spans_verdicts"]]
    for _ in range(2):
        t0 = time.time()
        force(job.verdicts(job.counted(docs)))
        reps.append(round(time.time() - t0, 3))
    validate_sec = sorted(reps)[1]
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_docs_validated": n_docs,
                "validate_docs_per_sec": round(n_docs / validate_sec, 1),
                "cpus": cpus,
                "registry_count": len(qs),
                "bench_skipped": bench_skip,
            }
        )
    )
    spark.stop()
    if not os.environ.get("SPARK_GRAFT_BENCH_TMP"):
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
