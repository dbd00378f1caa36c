"""spark-submit entrypoint for the training-corpus curation pipeline.

    spark-submit --py-files dist/schemasaurus_spark.zip jobs/curate_submit.py \
        --input  /data/documents         (parquet dir of raw docs) \
        --output /data/corpus_out        (corpus/ parquet + report.json) \
        --schema schema.json             (draft-4 doc schema) \
        [--quality-min 0.35] [--minhash-threshold 0.5] \
        [--sample '{"en": 0.6, "de": 0.4}'] [--sample-default 1.0] \
        [--sample-seed 0] [--strata-col lang] [--with-counts] \
        [--benchmark /data/eval_docs --decontam-window 13] \
        [--max-top-bigram-frac 0.2 --max-dup-longgram-frac 0.15] \
        [--mix '{"web": 0.6, "code": 0.4}' --mix-budget-factor 1.0] \
        [--novelty-corpus /data/corpus_prev/corpus --novelty-fpp 0.01 \
         --novelty-expected-keys 1000000000]

Runs plans/pipeline.py's CorpusPipeline — validate, quality-filter,
exact-dedup, near-dedup by MinHash connected components, stratified
sample — and writes the curated corpus plus a JSON report.  With
--with-counts the report attributes every dropped row to its stage
(one extra cheap aggregate per stage boundary); without it the whole
pipeline is exactly one job.  Cluster sizing comes from spark-submit's
conf; this script sets only engine-level SQL conf (AQE + skew join for
the LSH and components shuffles).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

# spark-submit ships the package via --py-files; when run as plain
# `python jobs/curate_submit.py` (local mode / smoke tests) fall back to
# the repo root so the driver-side import resolves
try:
    import schemasaurus_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_session() -> SparkSession:
    return (
        SparkSession.builder.appName("schemasaurus_spark.curate")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--schema", required=True, help="JSON Schema file")
    ap.add_argument("--quality-min", type=float, default=0.35)
    ap.add_argument("--minhash-threshold", type=float, default=0.5)
    ap.add_argument("--sample", default="{}", help='per-stratum fractions, e.g. {"en": 0.6}')
    ap.add_argument("--sample-default", type=float, default=1.0)
    ap.add_argument("--sample-seed", type=int, default=0)
    ap.add_argument("--strata-col", default="lang")
    ap.add_argument("--with-counts", action="store_true")
    ap.add_argument(
        "--benchmark",
        default=None,
        help="parquet dir of held-out eval docs; enables n-gram decontamination",
    )
    ap.add_argument("--decontam-window", type=int, default=13)
    ap.add_argument(
        "--license-allow", default=None,
        help="comma list of allowed usage-rights classes "
             "(e.g. none,public_domain,cc_by) -> license gate ON",
    )
    ap.add_argument("--max-top-bigram-frac", type=float, default=None)
    ap.add_argument("--max-dup-longgram-frac", type=float, default=None)
    ap.add_argument(
        "--mix", default=None,
        help='target source-mixture weights, e.g. {"web": 0.6, "code": 0.4} '
        "(adds an epoch column; upsamples sources whose target exceeds their size)",
    )
    ap.add_argument("--mix-budget-docs", type=int, default=None)
    ap.add_argument("--mix-budget-factor", type=float, default=None)
    ap.add_argument("--mix-source-col", default="source")
    ap.add_argument("--mix-seed", type=int, default=0)
    ap.add_argument(
        "--passage-window",
        type=int,
        default=None,
        help="enable duplicated-passage removal with this token window",
    )
    ap.add_argument("--passage-min-count", type=int, default=2)
    ap.add_argument("--passage-min-tokens", type=int, default=1)
    ap.add_argument(
        "--quota-cap",
        default=None,
        metavar="COL:N",
        help="cap each group of COL at N docs post-dedup, e.g. source:100000",
    )
    ap.add_argument("--quota-seed", type=int, default=0)
    ap.add_argument(
        "--splits",
        default=None,
        help='terminal train/val/test labeling, e.g. {"train":0.9,"val":0.05,"test":0.05}',
    )
    ap.add_argument("--split-seed", type=int, default=0)
    ap.add_argument(
        "--novelty-corpus",
        default=None,
        help="existing curated-corpus parquet dir; ingest pre-filter keeps "
        "only batch docs whose normalized-text fingerprint is NOT already "
        "there (exact bloom-accelerated novelty — the daily-ingest shape: "
        "the already-curated bulk never enters the pipeline)",
    )
    ap.add_argument("--novelty-fpp", type=float, default=0.01)
    ap.add_argument(
        "--novelty-expected-keys",
        type=int,
        default=None,
        help="corpus row count for bloom sizing (e.g. from the previous "
        "cycle's report corpus_rows) — skips the metadata count",
    )
    ap.add_argument(
        "--novelty-verify", choices=("broadcast", "shuffle"), default="broadcast"
    )
    args = ap.parse_args()

    rep_thresholds = None
    if args.max_top_bigram_frac is not None or args.max_dup_longgram_frac is not None:
        rep_thresholds = (
            args.max_top_bigram_frac if args.max_top_bigram_frac is not None else 1.0,
            args.max_dup_longgram_frac
            if args.max_dup_longgram_frac is not None
            else 1.0,
        )

    quota_col, quota_n = None, None
    if args.quota_cap:
        quota_col, _, n_str = args.quota_cap.partition(":")
        if not quota_col or not n_str.isdigit():
            ap.error(f"--quota-cap expects COL:N, got {args.quota_cap!r}")
        quota_n = int(n_str)

    from schemasaurus_spark.plans.pipeline import CorpusPipeline
    from schemasaurus_spark.sources.io import write_text_file

    with open(args.schema) as f:
        schema = json.load(f)

    spark = build_session()
    pipe = CorpusPipeline(
        schema=schema,
        quality_min=args.quality_min,
        minhash_threshold=args.minhash_threshold,
        sample_fractions=json.loads(args.sample),
        sample_default=args.sample_default,
        sample_seed=args.sample_seed,
        strata_col=args.strata_col,
        license_allow=(
            set(args.license_allow.split(",")) if args.license_allow else None
        ),
        repetition_thresholds=rep_thresholds,
        benchmark=spark.read.parquet(args.benchmark) if args.benchmark else None,
        decontam_window=args.decontam_window,
        mix_weights=json.loads(args.mix) if args.mix else None,
        mix_budget_docs=args.mix_budget_docs,
        mix_budget_factor=args.mix_budget_factor,
        mix_source_col=args.mix_source_col,
        mix_seed=args.mix_seed,
        passage_removal_window=args.passage_window,
        passage_min_count=args.passage_min_count,
        passage_min_tokens=args.passage_min_tokens,
        quota_group_col=quota_col,
        quota_cap_docs=quota_n,
        quota_seed=args.quota_seed,
        split_fractions=json.loads(args.splits) if args.splits else None,
        split_seed=args.split_seed,
    )
    docs = spark.read.parquet(args.input)
    report: dict = {"config": {k: v for k, v in vars(args).items() if k != "schema"}}
    if args.novelty_corpus:
        from schemasaurus_spark.operators.bloom import novelty_prefilter

        prev = spark.read.parquet(args.novelty_corpus)
        if args.with_counts:
            report["ingest_batch_rows"] = docs.count()
        docs = novelty_prefilter(
            docs,
            prev,
            fpp=args.novelty_fpp,
            expected_keys=args.novelty_expected_keys,
            verify=args.novelty_verify,
        )
        if args.with_counts:
            # the pre-filter survivors feed every downstream count — pin
            # once so the bloom build+probe doesn't recompute per stage
            docs = docs.persist()
            report["ingest_novel_rows"] = docs.count()
    if args.with_counts:
        corpus, counts = pipe.run_with_counts(docs)
        report["stage_counts"] = counts
    else:
        corpus = pipe.run(docs)
    # corpus_rows rides the write as an Observation — no read-back scan of
    # the output (which would also be the job's only local-FS assumption)
    obs = Observation()
    corpus.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(os.path.join(args.output, "corpus"))
    report["corpus_rows"] = int(obs.get["n"])
    write_text_file(
        spark,
        os.path.join(args.output, "report.json"),
        json.dumps(report, indent=2),
    )
    print(json.dumps(report))
    spark.stop()
    sys.exit(0)


if __name__ == "__main__":
    main()
