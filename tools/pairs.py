"""Interleaved fresh-JVM pairs: the repo's one measurement runner.

A run varies exactly one axis between its sides and holds the rest fixed:

* ``cpus``      — ``local[N]`` worker threads (``cpus 1 4``);
* ``executors`` — N executor JVMs of 2 cores each under ``local-cluster``,
  launched through ``spark-submit --py-files`` with the zip that
  ``tools/make_pyfiles.sh`` builds (``executors 1 2``);
* ``repo``      — two checkouts, e.g. a clone of the parent commit vs this
  one (``repo ../parent .``);
* ``factor``    — corpus size x k: the sf tables plus k-1 cipher copies
  (``build_corpus``) for ``queries()`` passes, ``generate_documents(n*k)``
  for the generated-corpus passes (``factor 1 2 4``).

Every leg is a fresh JVM (``pairs.py leg <spec>``, or ``spark-submit`` on
the executors axis).  It builds any input it is missing, runs its passes
once untimed (codegen, JIT, Arrow worker pool), times each pass once and
prints one JSON line.  The orchestrator runs the sides round-robin and
rotates which side goes first in each round, so drift inside a round does
not always fall on the same side.  On a shared box the per-round ratio is
the number to trust.  The summary, one JSON line on stdout, carries:

* ``median_s`` / ``iqr_s`` — per side, the median leg time and the spread
  between its quartiles;
* ``ratio`` — per side, the first side's leg time over this side's in each
  round, with ``median_ratio`` and ``wins`` (rounds this side was faster);
* ``efficiency`` (cpus, executors) — median ratio / width ratio, 1.0 being
  linear scaling;
* ``growth_exponent`` (factor) — log(time ratio) / log(factor ratio)
  against the first side, 1.0 being linear growth (twice the data, twice
  the time); ``pass_growth_exponent`` gives it per pass from pass medians.

A pass is ``north_rule`` (verdicts, violations, salted uniqueness,
broadcast referential and column stats over the generated corpus),
``validate_spans_verdicts``, ``validate_spans_violations``, or any
``__spark_entry__.queries()`` name, read from ``--sf-dir``.  Inputs live in
a temporary directory removed at the end; the runner writes no file in the
repo apart from the ``dist/`` zip of the executors axis.

Usage:
  python tools/pairs.py cpus 1 4 --rounds 5 --docs 200000
  python tools/pairs.py executors 1 2 --rounds 1
  python tools/pairs.py repo ../parent . --passes doc_lm_score --sf-dir SF
  python tools/pairs.py factor 1 2 --passes doc_training_corpus --sf-dir SF
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AXES = ("cpus", "executors", "repo", "factor")
GENERATED = ("north_rule", "validate_spans_verdicts", "validate_spans_violations")
CORES_PER_EXECUTOR = 2
EXECUTOR_MB = 2048
SEED = 7
# Files every generated or built corpus is written as.  Fixed, so the input
# layout does not depend on the side whose leg built it (a local[1] leg
# would write one file and cap every later side's scan at one task) nor on
# the factor (an x2 corpus of a one-file table would scan as two tasks).
INPUT_FILES = 32


# The factor axis's default passes.  Each comment says why the query's wall
# should grow linearly (or, where noted, sub- or super-linearly) under the
# cipher copies of ``build_corpus``.
QUERIES = [
    "doc_training_corpus",
    "doc_ngram_jaccard_dups",
    # round 4: exact substring dedup — window strings are copy-disjoint
    # under the cipher mutation, so ideal work is linear here too
    "doc_substring_dup_spans",
    # round 4 session 2: LM scoring (gram rows scale k-fold, per-copy gram
    # spaces are cipher-disjoint so the model table grows ~k-fold but stays
    # charset-bounded) and vocabulary top-k (token rows k-fold)
    "doc_lm_score",
    "doc_token_topk",
    # round 4 session 3: incremental batch-vs-corpus-index dedup — copies
    # are shingle-disjoint under the cipher, so band buckets stay
    # constant-sized and candidate pairs scale linearly with the factor
    "doc_incremental_dedup",
    # round 4 session 4: per-doc novelty (hapax fraction) — cipher copies
    # keep token namespaces disjoint (up to accidental rotated-word
    # collisions), so each copy's document-frequency structure — and with
    # it every doc's hapax set — carries over: result rows are exactly
    # k-fold (one per doc), ideal work linear in k (token rows k-fold,
    # vocab join build side k-fold but Zipf-bounded per copy)
    "doc_novelty_profile",
    # round 4 session 5: bloom novelty — cipher copies keep fingerprints
    # disjoint, each copy's batch slice matches only its own copy's corpus
    # text, so batch/corpus/bitmap-build rows, the maybe-set, and the novel
    # result are all exactly k-fold (ideal work linear)
    "doc_bloom_novelty",
    # round 4 session 6: edit-distance join — the cipher is a bijection on
    # characters, so each copy's q-gram namespace is disjoint and every
    # WITHIN-copy edit distance is preserved exactly: true pairs and ideal
    # candidate work are linear in k (cross-copy pairs would need two
    # cipher shifts to agree on a gram, impossible by construction up to
    # accidental rotated collisions)
    "doc_editdist_dups",
    # heavy hitters: token rows k-fold; each copy's tokens are namespace-
    # disjoint, so distinct-candidate count grows ~k-fold while the n/k
    # threshold ALSO grows k-fold -> under the cipher no token stays a
    # global heavy hitter at x>1 and the result is rows-empty; the
    # measured cost (sketch pass + empty verify) is the honest scan shape
    "doc_heavy_tokens",
    # bm25 — the probe terms live in the UNMUTATED copy's token namespace
    # only: tf/topk rows stay constant while the tokenize+filter scan (the
    # dominant cost) grows k-fold; wall should track the scan, not the k
    "doc_bm25_search",
    # round 4 session 8: BPE induction — cipher copies keep word namespaces
    # disjoint, so the word-frequency table and every round's pair counts
    # grow ~k-fold (per-copy pair structure preserved under the bijection):
    # ideal work linear; the merge table itself changes (copies now compete
    # in the argmax) — wall is the measured quantity, rows are reported
    "doc_bpe_merges",
    # host-authority PageRank — copies keep source/doc_id-residue structure,
    # so the host-node domain is CONSTANT in k and edge distinctness
    # saturates: iteration work is constant, only the edge-derivation scan
    # grows k-fold; wall should track the scan, not k
    "host_authority_rank",
    # source-overlap matrix — windows are cipher-disjoint per copy while
    # sources repeat, so each source's window set and each pair's shared
    # count grow ~k-fold: distinct + group-by-hash rows k-fold, linear
    "doc_source_overlap",
    # round 4 session 9: NB classifier — cipher copies keep token
    # namespaces disjoint, so vocabulary / weight-table / occurrence rows
    # all grow ~k-fold while classes stay domain-bounded: ideal work
    # linear (the model itself changes — copies' tokens dilute each
    # class's totals — so wall is the measured quantity, rows ~k-fold)
    "doc_nb_classify",
    # PQ ADC top-k — embedding copies are per-copy sign-flip bijections
    # (within-copy geometry preserved exactly, copies pushed into other
    # orthants); probes stay the 8 copy-0 ids, the md5 codebook sample
    # re-derives over the k-fold corpus at constant ks, so encode + ADC
    # scan work is linear while result rows stay constant (40)
    "embedding_pq_topk",
    # IVFADC: same embedding ladder; n_list = sqrt(n) grows with the
    # corpus so per-probe candidate work is ~n_probe·sqrt(n) — sublinear
    "embedding_ivfpq_topk",
    # round 4 session 10: SemDeDup — cells = ceil(n/64) grow k-fold so
    # cell size is constant and within-cell pairs are LINEAR in k; the
    # flat nearest-centroid assignment however is rows x cells = ~k^2
    # below the 2^16 centroid cap (the documented flat-assignment
    # regime; hierarchical assignment is the extreme-scale path), so the
    # expected wall exponent sits between 1 and 2 here, NOT at 1 — rows
    # reported for the linear-pairs sanity check
    "embedding_semantic_dups",
    # boilerplate removal — lines/planted-nav structure k-fold under the
    # cipher (plant derives from doc_id/source, body lines stay unique),
    # per-source doc counts k-fold: ideal work linear
    "doc_boilerplate_clean",
    # LPA communities — like PageRank the host-node domain is CONSTANT
    # in k (source x residue hosts); only the edge-derivation scan grows
    # k-fold, so wall should track the scan, not k
    "host_communities",
    # context-length profile — one scan + K-row aggregate: linear
    "doc_context_profile",
    # round 4 session 11: script/mojibake forensics — 16 regex counters
    # per doc, pure map stage (zero shuffles): wall must track the scan;
    # the cipher rotates ASCII letters within [A-Za-z] so planted script
    # counts and the plant keyed on doc_id % 10 scale exactly k-fold
    "doc_script_profile",
    # license tagging — same pure-map shape (substring + 4 regex flags +
    # SPDX extract); plant keyed on doc_id % 10 -> class mix constant,
    # rows k-fold
    "doc_license_profile",
    # OOV coverage — corpus top-20 vocab re-derives per rung (cipher
    # copies shift token namespaces so the vocab CHANGES, rows stay one
    # per doc); per-token probes are O(log vocab) binary search, scan
    # dominates: linear
    "doc_oov_profile",
    # round 5: continuous-signal score fusion — the doc_id*1e-12 jitter
    # makes the signal tie-free, so the distinct-value table is EXACTLY
    # corpus-sized and grows k-fold (cipher preserves punct ratios but
    # doc_ids shift per copy).  This is the round-4 verdict's cliff case:
    # the old partition-less window would funnel the k-fold distinct
    # table through ONE task; prefix.exclusive_prefix must hold the wall
    # linear (exponent ~1)
    "doc_fused_quality_continuous",
    # round 5: k-core decomposition — like PageRank/communities the host
    # node domain is CONSTANT in k (source x doc_id-residue hosts), edge
    # distinctness saturates, so per-round peel work is constant and only
    # the edge-derivation scan grows k-fold: wall tracks the scan, not k
    "doc_graph_k_core",
]


_LOWER = "abcdefghijklmnopqrstuvwxyz"
_UPPER = _LOWER.upper()
_DIGIT = "0123456789"


def _cipher(k: int) -> tuple[str, str]:
    """Copy-k substitution alphabet: rotate letters by 7k, digits by 3k.
    Same shift for upper/lower so lower() commutes with the mapping."""
    s, d = (7 * k) % 26, (3 * k) % 10
    src = _LOWER + _UPPER + _DIGIT
    dst = (
        _LOWER[s:] + _LOWER[:s]
        + _UPPER[s:] + _UPPER[:s]
        + _DIGIT[d:] + _DIGIT[:d]
    )
    return src, dst


def build_corpus(spark, sf_dir: str, factor: int, out_dir: str, files: int | None = None) -> str:
    """Write the x``factor`` corpus under ``out_dir/x<factor>`` and return
    that sf-style directory: the sf ``documents`` table unioned with
    ``factor - 1`` copies under shifted doc_ids, each copy's text passed
    through its own character substitution cipher (``F.translate`` rotating
    a-z/A-Z/0-9; whitespace and punctuation fixed).  A bijection on
    characters keeps text length, whitespace, per-doc shingle counts and
    every within-copy similarity exactly, while each copy's shingle
    namespace becomes disjoint from the others'.  The true answer and the
    ideal work are therefore linear in ``factor``, so a super-linear step
    indicts the plan, not the data.  (Appending a copy tag to every word
    did not work: word-internal shingles stayed shared across copies, so
    their document frequency doubled at x2 and the PPJoin prefix join grew
    as df^2, 4.2x for 2x data.)  ``embeddings`` gets per-copy sign flips.

    By default each table keeps one file per copy per input file, so scan
    parallelism grows with ``factor`` too; ``files`` writes every table as
    that many files instead, holding the layout fixed across factors."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    parts = [docs]
    max_id = docs.agg(F.max("doc_id")).first()[0] + 1
    for k in range(1, factor):
        src, dst = _cipher(k)
        shifted = docs.select(
            (F.col("doc_id") + k * max_id).alias("doc_id"),
            # per-copy character bijection: preserves length/whitespace and
            # all within-copy similarities exactly; copies become
            # shingle-disjoint (see the docstring)
            F.translate("text", src, dst).alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        )
        parts.append(shifted.select(docs.columns))
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    path = os.path.join(out_dir, f"x{factor}")
    (corpus.repartition(files) if files else corpus).write.mode("overwrite").parquet(
        f"{path}/documents.parquet")

    # embeddings ladder: copy k applies a deterministic per-copy SIGN-FLIP
    # bijection per dimension — norms and every within-copy cosine are
    # preserved exactly while copies land in different orthants; vec_ids
    # shift so the fixed probe set (vec_id < 8) stays copy-0 only
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    eparts = [emb]
    emax = emb.agg(F.max("vec_id")).first()[0] + 1
    for k in range(1, factor):
        flips = [(-1.0 if ((j * (k + 1) + 13 * k) % 5) < 2 else 1.0) for j in range(dim)]
        flipped = emb.select(
            (F.col("vec_id") + k * emax).alias("vec_id"),
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.array(*[F.lit(f) for f in flips]),
                lambda a, b: (a * b).cast("float"),
            ).alias("embedding"),
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        )
        eparts.append(flipped.select(emb.columns))
    ecorpus = eparts[0]
    for p in eparts[1:]:
        ecorpus = ecorpus.unionByName(p)
    (ecorpus.repartition(files) if files else ecorpus).write.mode("overwrite").parquet(
        f"{path}/embeddings.parquet")
    return path


def force(df) -> None:
    """Run ``df`` to completion through the noop sink: the full plan, no
    driver collect."""
    df.write.format("noop").mode("overwrite").save()


def north_rule(docs, catalog, job) -> None:
    """The full north-rule validation pass over one documents frame."""
    from schemasaurus_spark.operators.referential import dangling_media_refs
    from schemasaurus_spark.operators.stats import column_stats
    from schemasaurus_spark.operators.uniqueness import duplicate_keys

    force(job.verdicts(job.counted(docs)))
    force(job.violations(job.validated(docs)))
    force(duplicate_keys(docs, "doc_id"))
    force(dangling_media_refs(docs, catalog))
    force(column_stats(docs.select("doc_id", F.size("spans").alias("n_spans")),
                       ["doc_id", "n_spans"], approx=True))


def _built(path: str, build) -> str:
    """``path`` after ``build()`` has written it, unless an earlier leg did."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build()
    return path


def leg(spec: dict) -> None:
    """One fresh-JVM leg: prepare inputs, warm up, time each pass once."""
    sys.path.insert(0, spec["repo"])
    from schemasaurus_spark.session import get_spark

    spark = get_spark("pairs_leg", cpus=spec["cpus"])
    spark.sparkContext.setLogLevel("ERROR")
    thunks, n_docs = {}, None
    if any(p in GENERATED for p in spec["passes"]):
        from schemasaurus_spark.plans.validation_job import ValidationJob
        from schemasaurus_spark.sources.generator import (
            generate_documents,
            generate_media_catalog,
        )

        path = os.path.join(spec["tmp"], f"docs_n{spec['docs']}")
        docs = spark.read.parquet(_built(path, lambda: generate_documents(
            spark, n_docs=spec["docs"], seed=SEED, partitions=INPUT_FILES,
        ).write.mode("overwrite").parquet(path)))
        n_docs = docs.count()
        catalog = generate_media_catalog(spark, seed=SEED)
        job = ValidationJob()
        thunks = {
            "north_rule": lambda: north_rule(docs, catalog, job),
            "validate_spans_verdicts": lambda: force(job.verdicts(job.counted(docs))),
            "validate_spans_violations": lambda: force(job.violations(job.validated(docs))),
        }
    if any(p not in GENERATED for p in spec["passes"]):
        import __spark_entry__ as entry

        sf_dir, k = spec["sf_dir"], spec["factor"]
        if k:
            out = os.path.join(spec["tmp"], f"x{k}")
            _built(f"{out}/embeddings.parquet",
                   lambda: build_corpus(spark, spec["sf_dir"], k, spec["tmp"], INPUT_FILES))
            sf_dir = out
        qs = entry.queries()
        thunks.update({q: (lambda q=q: force(qs[q](spark, sf_dir)))
                       for q in spec["passes"] if q not in GENERATED})
        if n_docs is None:
            n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    passes = {p: thunks[p] for p in spec["passes"]}
    for thunk in passes.values():
        thunk()
        spark.catalog.clearCache()
    times = {}
    for name, thunk in passes.items():
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        thunk()
        times[name] = round(time.perf_counter() - t0, 3)
    spark.stop()
    print(json.dumps({"n_docs": n_docs, "times": times,
                      "total": round(sum(times.values()), 3)}))


def schedule(sides: list, rounds: int) -> list:
    """Side order per round: round r starts at side r mod len(sides)."""
    n = len(sides)
    return [sides[r % n:] + sides[:r % n] for r in range(rounds)]


def quartile_spread(xs: list) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def summarize(axis: str, sides: list, legs: list) -> dict:
    """The run summary from ``legs``, one ``{side: leg JSON}`` per round."""
    first, rest = sides[0], sides[1:]
    passes = list(legs[0][first]["times"])

    def med(xs):
        return round(statistics.median(xs), 3)

    totals = {s: [leg[s]["total"] for leg in legs] for s in sides}
    pass_med = {s: {p: med([leg[s]["times"][p] for leg in legs]) for p in passes}
                for s in sides}
    ratio = {s: [round(leg[first]["total"] / leg[s]["total"], 3) for leg in legs]
             for s in rest}
    out = {
        "axis": axis,
        "sides": sides,
        "rounds": len(legs),
        "passes": passes,
        "n_docs": {s: legs[0][s]["n_docs"] for s in sides},
        "median_s": {s: med(totals[s]) for s in sides},
        "iqr_s": {s: round(quartile_spread(totals[s]), 3) for s in sides},
        "pass_median_s": pass_med,
        "ratio": ratio,
        "median_ratio": {s: med(ratio[s]) for s in rest},
        "wins": {s: sum(r > 1 for r in ratio[s]) for s in rest},
    }
    if axis in ("cpus", "executors"):
        out["efficiency"] = {s: round(out["median_ratio"][s] * int(first) / int(s), 3)
                             for s in rest}
    elif axis == "factor":
        def growth(time_ratio, s):
            return round(math.log(time_ratio) / math.log(int(s) / int(first)), 3)

        out["growth_exponent"] = {s: growth(1 / out["median_ratio"][s], s) for s in rest}
        out["pass_growth_exponent"] = {
            s: {p: growth(pass_med[s][p] / pass_med[first][p], s) for p in passes}
            for s in rest
        }
    return out


def _leg_command(axis: str, side: str, spec: dict) -> tuple[list, dict]:
    env = dict(os.environ, PYTHONPATH=spec["repo"], PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    cmd = [os.path.abspath(__file__), "leg", json.dumps(spec)]
    if axis != "executors":
        return [sys.executable, *cmd], env
    master = f"local-cluster[{side},{CORES_PER_EXECUTOR},{EXECUTOR_MB}]"
    env["SPARK_GRAFT_MASTER"] = master
    submit = shutil.which("spark-submit")
    if submit is None:
        raise SystemExit("the executors axis needs spark-submit on PATH")
    return [submit, "--master", master, "--driver-memory", "2g",
            "--conf", f"spark.executor.memory={EXECUTOR_MB}m",
            "--py-files", f"{spec['pyfiles']},{REPO}/__spark_entry__.py", *cmd], env


def run_leg(axis: str, side: str, spec: dict) -> dict:
    cmd, env = _leg_command(axis, side, spec)
    out = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=3600)
    for line in reversed(out.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    sys.stderr.write(out.stderr[-3000:])
    raise RuntimeError(f"{axis} leg {side} failed (exit {out.returncode})")


def main(argv: list) -> None:
    if argv[:1] == ["leg"]:
        return leg(json.loads(argv[1]))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("axis", choices=AXES)
    ap.add_argument("sides", nargs="+", help="two or more values of the axis")
    ap.add_argument("--passes", nargs="+",
                    help="default: north_rule, or the ladder QUERIES on the factor axis")
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--docs", type=int, default=100_000,
                    help="generated-corpus size (times the factor on the factor axis)")
    ap.add_argument("--sf-dir", help="sf tables for queries() passes")
    args = ap.parse_args(argv)
    passes = args.passes or (QUERIES if args.axis == "factor" else ["north_rule"])
    if len(set(args.sides)) < max(2, len(args.sides)) or args.rounds < 1:
        ap.error("need two or more distinct sides and one or more rounds")
    if args.axis != "repo" and not all(s.isdigit() and int(s) > 0 for s in args.sides):
        ap.error(f"{args.axis} sides are positive integers")
    if args.sf_dir is None and any(p not in GENERATED for p in passes):
        ap.error("queries() passes need --sf-dir")

    tmp = tempfile.mkdtemp(prefix="pairs_")
    base = {"repo": REPO, "cpus": os.cpu_count(), "passes": passes, "docs": args.docs,
            "sf_dir": args.sf_dir and os.path.abspath(args.sf_dir), "factor": 0, "tmp": tmp}
    if args.axis == "executors":
        made = subprocess.run(["bash", os.path.join(REPO, "tools", "make_pyfiles.sh")],
                              capture_output=True, text=True, check=True)
        base["pyfiles"] = os.path.join(REPO, made.stdout.split()[-1])
    legs = []
    try:
        for r, order in enumerate(schedule(args.sides, args.rounds)):
            legs.append({})
            for side in order:
                spec = dict(base)
                if args.axis == "cpus":
                    spec["cpus"] = int(side)
                elif args.axis == "executors":
                    spec["cpus"] = int(side) * CORES_PER_EXECUTOR  # sizes shuffles
                elif args.axis == "repo":
                    spec["repo"] = os.path.abspath(side)
                else:
                    spec["factor"], spec["docs"] = int(side), args.docs * int(side)
                legs[-1][side] = run_leg(args.axis, side, spec)
                print(json.dumps({"round": r, "side": side, **legs[-1][side]}),
                      file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(summarize(args.axis, args.sides, legs)))


if __name__ == "__main__":
    main(sys.argv[1:])
