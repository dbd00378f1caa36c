"""The benchmark workloads.  Each one builds its inputs from the seed,
runs timed passes through the program's public functions, and checks the
outputs.  Sizes are fixed here so that every run of a workload does the
same amount of work."""

from __future__ import annotations

import os
import shutil
from functools import reduce
from statistics import median

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from harness import (
    Tracer,
    fingerprint_py,
    force,
    parquet_files,
    sink,
    stage_totals,
    task_skew,
)
from schemasaurus_spark.operators.media import MEDIA_SCHEMA, extract_jpeg_features
from schemasaurus_spark.operators.referential import dangling_media_refs
from schemasaurus_spark.operators.snapshot import (
    SnapshotSpec,
    drift_vs_snapshot,
    read_snapshot,
    write_snapshot,
)
from schemasaurus_spark.operators.stats import column_stats
from schemasaurus_spark.operators.uniqueness import duplicate_keys
from schemasaurus_spark.plans.validation_job import DOCUMENT_SCHEMA, ValidationJob
from schemasaurus_spark.runstate import ResumableValidation, violations_table
from schemasaurus_spark.schema.batch import BatchNormalizer, BatchValidator
from schemasaurus_spark.sources.generator import (
    documents_as_json,
    generate_documents,
    generate_media_catalog,
)

CORES = 4
VERDICT_COPIES = 4

SNAP_SPEC = SnapshotSpec(numeric=("n_spans",), categorical=("first_kind",), n_bins=32)


def snap_prep(df):
    return df.select(
        F.size("spans").alias("n_spans"),
        F.col("spans")[0]["kind"].alias("first_kind"),
    )


class Workload:
    """One workload: ``setup`` builds the inputs, ``run_pass`` times one pass."""

    n_docs: int
    n_files: int

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.job = ValidationJob()
        self.docs_path = os.path.join(work, "docs")
        self.failures: list[str] = []
        self.reference_fp: str | None = None

    # -- shared legs ---------------------------------------------------------

    def verdict_leg(self, rec: dict) -> None:
        """Count-only verdict pass on all cores over VERDICT_COPIES copies of
        the workload's typed docs in one job, then the serial leg of
        ``scaling_eff``: the same over copies of a quarter of the files,
        coalesced into one task.  The copies make each leg a few seconds of
        task time instead of a second of mostly job overhead, without
        generating more data."""
        t, job = self.tracer, self.job
        counts = dict(n_docs=F.col("n_docs"), n_invalid=F.col("n_invalid_docs"), n_viol=F.col("n_violations"))

        def copies(*paths):
            one = self.spark.read.parquet(*paths)
            return reduce(DataFrame.unionAll, [one] * VERDICT_COPIES)

        with t.span("columns.count") as par:
            v = sink(job.verdicts(job.counted(copies(self.docs_path))), **counts)
        with t.span("columns.count_serial") as ser:
            s = sink(job.verdicts(job.counted(copies(*self.quarter_files()).coalesce(1))), **counts)
        # per-copy counts, as a single pass over the docs would give them
        for out in (v, s):
            for k in counts:
                self.expect(out[k] % VERDICT_COPIES == 0, f"verdict {k}={out[k]} is not {VERDICT_COPIES} equal copies")
                out[k] //= VERDICT_COPIES
        rec["verdicts"], rec["serial_verdicts"] = v, s
        rec["verdict_s"] = Tracer.wall(par)
        rec["scaling_eff"] = (v["n_docs"] / Tracer.wall(par)) / (CORES * s["n_docs"] / Tracer.wall(ser))
        rec["legs"]["columns.count"] = Tracer.wall(par)

    def quarter_files(self) -> list[str]:
        files = parquet_files(self.docs_path)
        return files[: max(1, len(files) // 4)]

    def expect(self, cond: bool, what: str) -> None:
        if not cond:
            self.failures.append(what)

    def check_pass(self, rec: dict) -> None:
        """Every pass reproduces the first (warm-up) pass's outputs."""
        if self.reference_fp is None:
            self.reference_fp = rec["fp"]
        self.expect(
            rec["fp"] == self.reference_fp,
            f"pass output differs from the warm-up pass: {rec['fp']} vs {self.reference_fp}",
        )

    # -- metrics -------------------------------------------------------------

    def e2e(self, passes: list[dict]) -> dict:
        """Medians over passes of the throughput end-to-end metrics."""
        return {
            "docs_per_s": median(p["docs"] / p["main_s"] for p in passes),
            "verdict_docs_per_s": median(
                VERDICT_COPIES * p["verdicts"]["n_docs"] / p["verdict_s"] for p in passes
            ),
        }

    def traced_extras(self) -> dict:
        """Layer calls made only in traced runs, outside the passes."""
        t = self.tracer
        out = {}
        scan_s, plan_s, scan_bytes = [], [], []
        for _ in range(3):
            with t.span("sources.scan") as sc:
                force(self.spark.read.parquet(self.docs_path))
            scan_s.append(Tracer.wall(sc))
            scan_bytes.append(stage_totals(t.stages_of(sc))["inputBytes"])
            with t.span("columns.plan") as pl:
                docs = self.spark.read.parquet(self.docs_path)
                self.job.verdicts(self.job.counted(docs))._jdf.queryExecution().executedPlan()
                self.job.violations(self.job.validated(docs))._jdf.queryExecution().executedPlan()
            plan_s.append(Tracer.wall(pl))
        out["sources.scan_s"] = median(scan_s)
        out["sources.input_bytes"] = median(scan_bytes)
        out["columns.plan_s"] = median(plan_s)
        return out

    def layers(self, passes: list[dict]) -> dict:
        """Per-layer metrics from traced passes (0 for layers not run)."""
        t = self.tracer
        m = {name: 0.0 for name in LAYER_METRICS}
        m["columns.count_s"] = median(p["legs"]["columns.count"] for p in passes)
        m["columns.scaling_eff"] = median(p["scaling_eff"] for p in passes)
        keys = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
                "executor_run_s", "gc_s", "task_skew", "idle_core_share")
        per = {k: [] for k in keys}
        for p in passes:
            st = t.stages_of(p["span"])
            tot = stage_totals(st)
            per["jobs"].append(t.jobs_of(p["span"]))
            per["stages"].append(tot["stages"])
            per["tasks"].append(tot["numTasks"])
            per["shuffle_write_bytes"].append(tot["shuffleWriteBytes"])
            per["spill_bytes"].append(tot["memoryBytesSpilled"] + tot["diskBytesSpilled"])
            per["executor_run_s"].append(tot["executorRunTime"] / 1000)
            per["gc_s"].append(tot["jvmGcTime"] / 1000)
            per["task_skew"].append(task_skew(st))
            per["idle_core_share"].append(
                1 - tot["executorRunTime"] / 1000 / (Tracer.wall(p["span"]) * CORES)
            )
        for k, v in per.items():
            m[f"spark.{k}"] = median(v)
        return m


class CleanPass(Workload):
    """The north-rule pass over the generator's default corpus shape: the
    typed column backend and quality operators, then the Python-worker legs
    (reference-exact walker over a quarter of the docs as JSON, and JPEG
    feature extraction over photographic images)."""

    n_docs = 32_000
    n_files = 8
    n_images = 8

    def setup(self) -> None:
        spark = self.spark
        gen = generate_documents(spark, self.n_docs, seed=self.seed, partitions=self.n_files)
        gen.write.mode("overwrite").parquet(self.docs_path)
        base = generate_documents(spark, self.n_docs // 4, seed=self.seed + 1, partitions=CORES)
        base_path = os.path.join(self.work, "baseline_snapshot")
        write_snapshot(snap_prep(base), SNAP_SPEC, base_path)
        self.baseline = read_snapshot(spark, base_path)
        self.catalog = generate_media_catalog(spark, seed=self.seed)
        # the walker legs read the serial leg's quarter of the docs as JSON,
        # so every pass can compare the two backends' counts
        self.json_path = os.path.join(self.work, "docs_json")
        documents_as_json(spark.read.parquet(*self.quarter_files())).write.mode("overwrite").parquet(self.json_path)
        self.media_path = os.path.join(self.work, "media")
        jpeg_media(spark, self.n_images, self.seed).write.mode("overwrite").parquet(self.media_path)

    def run_pass(self) -> dict:
        t, job = self.tracer, self.job
        docs = self.spark.read.parquet(self.docs_path)
        js = self.spark.read.parquet(self.json_path)
        rec = {"legs": {}}

        def leg(name, fn):
            with t.span(name) as s:
                out = fn()
            rec["legs"][name] = Tracer.wall(s)
            rec.setdefault("leg_spans", {})[name] = s
            return out

        with t.span("pass") as span:
            self.verdict_leg(rec)
            viol = leg("validation_job.violations", lambda: sink(job.violations(job.validated(docs))))
            stats = leg("stats.column_stats", lambda: sink(column_stats(
                docs.select("doc_id", F.size("spans").alias("n_spans")),
                ["doc_id", "n_spans"],
                approx=True,
            )))
            dups = leg("uniqueness.duplicate_keys", lambda: sink(duplicate_keys(docs, "doc_id")))
            dangling = leg("referential.dangling", lambda: sink(dangling_media_refs(docs, self.catalog)))
            drift = leg("snapshot.drift", lambda: drift_vs_snapshot(snap_prep(docs), self.baseline, SNAP_SPEC))
            walked = leg("batch.validate", lambda: sink(
                BatchValidator(DOCUMENT_SCHEMA).apply_json(js, "doc_json", keep=["doc_id"]),
                n_invalid=(~F.col("valid")).cast("long"),
                n_viol=F.size("errors").cast("long"),
            ))
            normed = leg("batch.normalize", lambda: sink(
                BatchNormalizer(DOCUMENT_SCHEMA).apply_json(js, "doc_json", keep=["doc_id"])
            ))
            jpeg = leg("media.jpeg_features", lambda: sink(
                extract_jpeg_features(self.spark.read.parquet(self.media_path)),
                luma=F.col("luma_sum"),
            ))
        rec["span"] = span
        # the verdict legs have end-to-end metrics of their own
        rec["main_s"] = sum(v for k, v in rec["legs"].items() if k != "columns.count")
        rec["docs"] = rec["verdicts"]["n_docs"]
        rec["violation_rows"] = viol["rows"]
        rec["walked"] = walked
        rec["fp"] = fingerprint_py([rec["verdicts"], viol, stats, dups, dangling, drift, walked, normed, jpeg])
        self.expect(
            viol["rows"] == rec["verdicts"]["n_viol"],
            f"violation rows {viol['rows']} != sum(n_violations) {rec['verdicts']['n_viol']}",
        )
        self.expect(rec["docs"] == self.n_docs, f"verdicts cover {rec['docs']} docs, not {self.n_docs}")
        self.expect(dups["rows"] > 0 and dangling["rows"] > 0, "corpus lost its duplicate ids or dangling refs")
        sv = rec["serial_verdicts"]
        self.expect(walked["rows"] == normed["rows"] == sv["n_docs"], "walker legs lost docs")
        self.expect(
            (walked["n_invalid"], walked["n_viol"]) == (sv["n_invalid"], sv["n_viol"]),
            f"walker invalid/violations {walked['n_invalid']}/{walked['n_viol']} != "
            f"column backend {sv['n_invalid']}/{sv['n_viol']}",
        )
        self.expect(jpeg["rows"] == self.n_images, f"{jpeg['rows']} images decoded, not {self.n_images}")
        rec["luma"] = jpeg["luma"]
        return rec

    def final_checks(self, passes: list[dict]) -> None:
        """Walker and column backend give the same (keyword, json_pointer)
        lists for the first invalid docs of the JSON quarter, and the passes'
        JPEG luma total equals an in-process decode of the same bytes."""
        import json

        from schemasaurus_spark.operators.jpeg import decode_jpeg_luma
        from schemasaurus_spark.schema.batch import _pointer
        from schemasaurus_spark.schema.walker import new_validator

        job = self.job
        part = self.spark.read.parquet(self.quarter_files()[0])
        viol = job.violations(job.validated(part))
        sample_ids = [
            r.doc_id
            for r in viol.select("doc_id").distinct().orderBy("doc_id").limit(20).collect()
        ]
        self.expect(len(sample_ids) > 0, "no invalid docs in the walker sample")
        col = {}
        for r in viol.where(F.col("doc_id").isin(sample_ids)).collect():
            col.setdefault(r.doc_id, []).append((r.keyword, r.json_pointer))
        validate = new_validator(DOCUMENT_SCHEMA)
        walk = {}
        for r in documents_as_json(part.where(F.col("doc_id").isin(sample_ids))).collect():
            res = validate(json.loads(r.doc_json))
            walk.setdefault(r.doc_id, []).extend((e["code"], _pointer(e["path"])) for e in res["errors"])
        for d in sample_ids:
            # a duplicated id holds both rows' violations under one key
            self.expect(
                sorted(col.get(d, [])) == sorted(walk.get(d, [])),
                f"walker and column backend disagree on {d}: {walk.get(d)} vs {col.get(d)}",
            )

        media = self.spark.read.parquet(self.media_path).select("payload").collect()
        luma = sum(int(decode_jpeg_luma(bytes(r.payload)).sum()) for r in media)
        for p in passes:
            self.expect(p["luma"] == luma, f"pass luma total {p['luma']} != in-process decode {luma}")

    def traced_extras(self) -> dict:
        import json
        import time

        from schemasaurus_spark.operators.jpeg import decode_jpeg_luma
        from schemasaurus_spark.schema.walker import new_validator

        out = super().traced_extras()
        compile_s = []
        for _ in range(20):
            t0 = time.perf_counter()
            validate = new_validator(DOCUMENT_SCHEMA)
            compile_s.append(time.perf_counter() - t0)
        out["walker.compile_s"] = median(compile_s)
        sample = [
            json.loads(r.doc_json)
            for r in self.spark.read.parquet(self.json_path).orderBy("doc_id").limit(2000).collect()
        ]
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            for d in sample:
                validate(d)
            rates.append(len(sample) / (time.perf_counter() - t0))
        out["walker.docs_per_s_1t"] = median(rates)
        rates = []
        for r in self.spark.read.parquet(self.media_path).orderBy("media_ref").limit(3).collect():
            t0 = time.perf_counter()
            luma = decode_jpeg_luma(bytes(r.payload))
            rates.append(luma.size / (time.perf_counter() - t0) / 1e6)
        out["jpeg.decode_mpix_per_s_1t"] = median(rates)
        return out

    def layers(self, passes: list[dict]) -> dict:
        m = super().layers(passes)
        for leg in CLEAN_LEGS:
            m[f"{leg}_s"] = median(p["legs"][leg] for p in passes)
        m["media.mpix_per_s"] = self.n_images * IMG_SIDE * IMG_SIDE / 1e6 / m["media.jpeg_features_s"]
        m["validation_job.violation_rows"] = median(p["violation_rows"] for p in passes)
        m["validation_job.invalid_doc_share"] = median(
            p["verdicts"]["n_invalid"] / p["verdicts"]["n_docs"] for p in passes
        )
        m["uniqueness.task_skew"] = median(
            task_skew(self.tracer.stages_of(p["leg_spans"]["uniqueness.duplicate_keys"]))
            for p in passes
        )
        return m


class DirtyResume(Workload):
    """Resumable validation over a violation-dense corpus with an injected
    crash halfway, a resume, and a no-op resume."""

    n_docs = 16_000
    n_files = 16
    files_per_unit = 8

    def setup(self) -> None:
        gen = generate_documents(self.spark, self.n_docs, seed=self.seed, partitions=self.n_files)
        perturb(gen, self.seed).write.mode("overwrite").parquet(self.docs_path)
        self.corpus_bytes = sum(os.path.getsize(f) for f in parquet_files(self.docs_path))
        self.rv = ResumableValidation(
            files_per_unit=self.files_per_unit, snapshot_spec=SNAP_SPEC, snapshot_prep=snap_prep
        )
        self.n_units = self.n_files // self.files_per_unit
        self.half = self.n_units // 2

    def run_pass(self) -> dict:
        t, spark = self.tracer, self.spark
        out = os.path.join(self.work, "resume_out")
        shutil.rmtree(out, ignore_errors=True)
        rec = {"legs": {}}
        with t.span("pass") as span:
            with t.span("runstate.crash_leg") as crash:
                try:
                    self.rv.run(spark, self.docs_path, out, fail_after_units=self.half)
                    self.failures.append("injected failure did not fire")
                except RuntimeError as e:
                    self.expect("injected failure" in str(e), f"crash leg raised {e!r}")
            n_before = len(os.listdir(os.path.join(out, "manifests")))
            with t.span("runstate.resume_leg") as resume:
                summary = self.rv.run(spark, self.docs_path, out)
            with t.span("runstate.noop_resume") as noop:
                again = self.rv.run(spark, self.docs_path, out)
            self.verdict_leg(rec)
        rec["span"] = span
        rec["crash_span"], rec["resume_span"] = crash, resume
        for s in (crash, resume, noop):
            rec["legs"][s["name"]] = Tracer.wall(s)
        rec["main_s"] = Tracer.wall(crash) + Tracer.wall(resume)
        rec["docs"] = summary["totals"]["n_docs"]
        rec["units"] = summary["n_units"]
        rec["redone"] = n_before + summary["n_processed"] - summary["n_units"]
        rec["out"] = out
        rec["totals"] = summary["totals"]
        v = rec["verdicts"]
        rec["fp"] = fingerprint_py([summary, again["totals"], v])
        self.expect(summary["n_units"] == self.n_units, f"{summary['n_units']} units, not {self.n_units}")
        self.expect(n_before == self.half, f"{n_before} units manifested before the crash, not {self.half}")
        self.expect(summary["n_skipped"] == self.half, f"resume skipped {summary['n_skipped']}, not {self.half}")
        self.expect(again["n_processed"] == 0, f"no-op resume processed {again['n_processed']} units")
        self.expect(
            (summary["totals"]["n_docs"], summary["totals"]["n_invalid_docs"], summary["totals"]["n_violations"])
            == (v["n_docs"], v["n_invalid"], v["n_viol"]),
            f"resumed totals {summary['totals']} != single-shot {v}",
        )
        self.last = rec
        return rec

    def final_checks(self, passes: list[dict]) -> None:
        rows = violations_table(self.spark, self.last["out"]).count()
        self.expect(
            rows == self.last["totals"]["n_violations"],
            f"violations table has {rows} rows, manifests say {self.last['totals']['n_violations']}",
        )
        self.expect(
            self.last["totals"]["n_invalid_docs"] > self.n_docs // 2,
            "perturbed corpus is not violation-dense",
        )

    def traced_extras(self) -> dict:
        out = super().traced_extras()
        t = self.tracer
        walls, rows = [], []
        for _ in range(2):
            with t.span("validation_job.violations") as s:
                docs = self.spark.read.parquet(self.docs_path)
                rows.append(sink(self.job.violations(self.job.validated(docs)))["rows"])
            walls.append(Tracer.wall(s))
        out["validation_job.violations_s"] = median(walls)
        out["validation_job.violation_rows"] = median(rows)
        return out

    def layers(self, passes: list[dict]) -> dict:
        t = self.tracer
        m = super().layers(passes)
        for leg in ("runstate.crash_leg", "runstate.resume_leg", "runstate.noop_resume"):
            m[f"{leg}_s"] = median(p["legs"][leg] for p in passes)
        idle, jobs, amp = [], [], []
        for p in passes:
            st = t.stages_of(p["crash_span"]) + t.stages_of(p["resume_span"])
            tot = stage_totals(st)
            idle.append(1 - tot["executorRunTime"] / 1000 / (p["main_s"] * CORES))
            jobs.append((t.jobs_of(p["crash_span"]) + t.jobs_of(p["resume_span"])) / p["units"])
            amp.append(tot["inputBytes"] / self.corpus_bytes)
        m["runstate.idle_core_share"] = median(idle)
        m["runstate.units"] = median(p["units"] for p in passes)
        m["runstate.jobs_per_unit"] = median(jobs)
        m["runstate.read_amplification"] = median(amp)
        m["runstate.redone_units"] = median(p["redone"] for p in passes)
        m["validation_job.invalid_doc_share"] = median(
            p["verdicts"]["n_invalid"] / p["verdicts"]["n_docs"] for p in passes
        )
        return m


def perturb(docs, seed: int):
    """Violation-dense variant of generator output: upper-case 30% of
    doc_ids (pattern), 10% of span kinds (enum), negate 10% of offsets
    (minimum)."""

    def pct(salt, *cols):
        return F.abs(F.xxhash64(F.lit(seed), F.lit(salt), *cols)) % 100

    did = F.col("doc_id")
    return docs.select(
        F.when(pct(1, did) < 30, F.upper(did)).otherwise(did).alias("doc_id"),
        F.transform(
            "spans",
            lambda s, k: F.struct(
                F.when(pct(2, did, k) < 10, F.upper(s["kind"])).otherwise(s["kind"]).alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                F.when(pct(3, did, k) < 10, -s["offset"]).otherwise(s["offset"]).alias("offset"),
            ),
        ).alias("spans"),
    )


IMG_SIDE = 256


def photographic(seed: int, idx: int) -> np.ndarray:
    """Gradient plus noise: dense AC content, unlike block-constant fixtures."""
    rng = np.random.default_rng([seed, idx])
    yy, xx = np.mgrid[0:IMG_SIDE, 0:IMG_SIDE]
    fy, fx = 15 + idx % 13, 11 + idx % 7
    return (
        128 + 60 * np.sin(yy / fy) + 50 * np.cos(xx / fx) + rng.normal(0, 18, yy.shape)
    ).clip(0, 255).astype(np.uint8)


def jpeg_media(spark, n: int, seed: int):
    """Media table of ``n`` photographic JPEGs, encoded on the executors."""

    def encode(batches):
        import pandas as pd

        from schemasaurus_spark.operators.jpeg import encode_jpeg

        for pdf in batches:
            rows = [
                (f"media://jpg/{int(i)}", "image", encode_jpeg(photographic(seed, int(i))),
                 {"codec": "jpeg"})
                for i in pdf["id"]
            ]
            yield pd.DataFrame(rows, columns=["media_ref", "media_kind", "payload", "meta"])

    return spark.range(0, n, 1, CORES).mapInPandas(encode, MEDIA_SCHEMA)


# clean_pass legs, each reported as the per-layer metric "<leg>_s"
CLEAN_LEGS = (
    "validation_job.violations",
    "stats.column_stats",
    "uniqueness.duplicate_keys",
    "referential.dangling",
    "snapshot.drift",
    "batch.validate",
    "batch.normalize",
    "media.jpeg_features",
)

# every per-layer metric, with its unit; a workload reports 0 for a layer it
# does not run
LAYER_METRICS = {
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "columns.plan_s": "s",
    "columns.count_s": "s",
    "columns.scaling_eff": "ratio",
    "validation_job.violations_s": "s",
    "validation_job.violation_rows": "count",
    "validation_job.invalid_doc_share": "ratio",
    "stats.column_stats_s": "s",
    "uniqueness.duplicate_keys_s": "s",
    "uniqueness.task_skew": "ratio",
    "referential.dangling_s": "s",
    "snapshot.drift_s": "s",
    "runstate.crash_leg_s": "s",
    "runstate.resume_leg_s": "s",
    "runstate.noop_resume_s": "s",
    "runstate.idle_core_share": "ratio",
    "runstate.units": "count",
    "runstate.jobs_per_unit": "count",
    "runstate.read_amplification": "ratio",
    "runstate.redone_units": "count",
    "batch.validate_s": "s",
    "batch.normalize_s": "s",
    "walker.compile_s": "s",
    "walker.docs_per_s_1t": "1/s",
    "media.jpeg_features_s": "s",
    "media.mpix_per_s": "Mpix/s",
    "jpeg.decode_mpix_per_s_1t": "Mpix/s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.task_skew": "ratio",
    "spark.idle_core_share": "ratio",
    "trace.overhead_share": "ratio",
}

WORKLOADS = {"clean_pass": CleanPass, "dirty_resume": DirtyResume}
