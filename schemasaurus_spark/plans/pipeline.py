"""End-to-end training-corpus curation pipeline.

Composes the engine's operators into the job a large-scale training-data
pipeline actually runs over a raw document corpus:

    1. schema validation  — keep only docs passing the draft-4 schema
                            (columns backend: vectorized predicates)
    2. quality filter     — composite length/punctuation/stopword score
    3. exact dedup        — one doc (min id) per normalized-text fingerprint
    4. near-dup dedup     — MinHash+LSH pairs -> connected components ->
                            drop non-canonical cluster members
    5. stratified sample  — deterministic md5-bucket downsampling per stratum

Scale shape: stages 1-3 and 5 are single-scan filters / one
map-side-combined shuffle each, and stage 4 — the only expensive stage —
runs over the ALREADY filtered+exact-deduped corpus, so the banded LSH
self-join sees the smallest possible input.  Every stage is lazily
composed; nothing is collected driver-side.  ``run_with_counts`` forces one
count per stage boundary for observability (each count is a cheap
aggregate over the lazily shared plan prefix) — production runs that don't
need stage counts call ``run`` and pay for exactly one job.

The whole pipeline is deterministic and engine-portable (md5-derived
hashing end to end), which is what makes the ``doc_training_corpus``
contract query SQL-oracle-able: DuckDB reproduces every stage bit-for-bit.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from schemasaurus_spark.operators.dedup import (
    dedup_by_components,
    dedup_exact,
    minhash_near_duplicates,
    pin_scope,
)
from schemasaurus_spark.operators.decontam import decontaminate
from schemasaurus_spark.operators.mixing import mix_sources
from schemasaurus_spark.operators.repetition import filter_repetitive
from schemasaurus_spark.operators.sampling import (
    assign_splits,
    quota_cap,
    stratified_sample,
)
from schemasaurus_spark.operators.substring_dedup import remove_duplicate_passages
from schemasaurus_spark.operators.text import quality_score
from schemasaurus_spark.schema.columns import ColumnValidator


@dataclass
class CorpusPipeline:
    """Config for the curation run; every knob mirrors an operator arg.

    Two optional stages (both OFF by default, preserving the oracled
    five-stage ``doc_training_corpus`` contract) slot in between exact
    dedup and the LSH stage — the cheapest point: the corpus is already
    shrunk by the single-scan filters, and every doc they remove is one
    the expensive banded self-join never sees:

    * ``repetition_thresholds=(max_top_bigram_frac, max_dup_longgram_frac)``
      drops Gopher-rule repetitious docs (operators/repetition.py);
    * ``benchmark=<DataFrame>`` drops docs sharing a ``decontam_window``-
      token n-gram with the held-out eval set (operators/decontam.py);
    * ``license_allow={'none', 'public_domain', ...}`` keeps only docs
      whose most-restrictive-wins usage-rights class
      (operators/compliance.py) is in the allowed set — rights
      segregation belongs BEFORE the expensive dedup join for the same
      shrink-first reason.

    A third optional stage, ``mix_weights`` (+ ``mix_budget_docs`` or
    ``mix_budget_factor``), runs LAST — mixture assembly over the final
    curated corpus (operators/mixing.py): per-source rates derived from
    the target weights, upsampled copies tagged with an ``epoch`` column.
    It must run after dedup/sampling (mixing first would hand the LSH
    stage duplicate epochs of the same text).
    """

    schema: dict
    quality_min: float = 0.0
    minhash_threshold: float = 0.5
    sample_fractions: dict = field(default_factory=dict)
    sample_default: float = 1.0
    sample_seed: int = 0
    strata_col: str = "lang"
    text_col: str = "text"
    id_col: str = "doc_id"
    license_allow: set | None = None
    repetition_thresholds: tuple | None = None
    repetition_long_n: int = 5
    benchmark: DataFrame | None = None
    decontam_window: int = 13
    mix_weights: dict | None = None
    mix_budget_docs: int | None = None
    mix_budget_factor: float | None = None
    mix_source_col: str = "source"
    mix_seed: int = 0
    passage_removal_window: int | None = None
    passage_min_count: int = 2
    passage_min_tokens: int = 1
    quota_group_col: str | None = None
    quota_cap_docs: int | None = None
    quota_seed: int = 0
    split_fractions: dict | None = None
    split_seed: int = 0

    def valid_docs(self, docs: DataFrame) -> DataFrame:
        v = ColumnValidator(self.schema).counted(docs)
        return v.where(F.col("valid")).drop("valid", "n_violations")

    def quality_docs(self, docs: DataFrame) -> DataFrame:
        q = docs.withColumn("quality", quality_score(F.col(self.text_col)))
        return q.where(F.col("quality") >= F.lit(self.quality_min))

    def exact_deduped(self, docs: DataFrame) -> DataFrame:
        return dedup_exact(docs, self.text_col, self.id_col)

    def optional_filtered(self, docs: DataFrame) -> DataFrame:
        """The opt-in stages (no-op with default config)."""
        if self.license_allow is not None:
            from schemasaurus_spark.operators.compliance import license_class

            # bare column expression — the gate fuses into the same scan
            # as the other single-pass filters (no join, no second scan)
            docs = docs.where(
                license_class(self.text_col).isin(*sorted(self.license_allow))
            )
        if self.repetition_thresholds is not None:
            max_bg, max_lg = self.repetition_thresholds
            docs = filter_repetitive(
                docs, max_bg, max_lg, self.text_col, self.id_col,
                long_n=self.repetition_long_n,
            )
        if self.benchmark is not None:
            docs = decontaminate(
                docs, self.benchmark, self.text_col, self.id_col,
                window=self.decontam_window,
            )
        return docs

    def near_deduped(self, docs: DataFrame) -> DataFrame:
        # pin_scope bounds the lifetime of the 4-5 intermediates the LSH
        # stage persists: connected components inside dedup_by_components
        # localCheckpoints the pair graph EAGERLY during plan construction,
        # so by the time this returns, the returned plan references only
        # the checkpointed label blocks — the pins are safe to free here
        # instead of leaking into the session's LRU cache
        with pin_scope():
            pairs = minhash_near_duplicates(
                docs, self.text_col, self.id_col, threshold=self.minhash_threshold
            )
            return dedup_by_components(docs, pairs, self.id_col)

    def passage_cleaned(self, docs: DataFrame) -> DataFrame:
        """Optional stage 4b (``passage_removal_window`` opts in): rewrite
        surviving docs with duplicated passages deleted (exact substring
        dedup, operators/substring_dedup.py), dropping docs left with
        fewer than ``passage_min_tokens`` tokens.  Runs AFTER near-dedup
        on purpose: removal rewrites the text, and rewriting before LSH
        would change the MinHash signatures the dedup contract is pinned
        on; after dedup it sees the smallest corpus."""
        if self.passage_removal_window is None:
            return docs
        cleaned = remove_duplicate_passages(
            docs,
            self.text_col,
            self.id_col,
            window=self.passage_removal_window,
            min_count=self.passage_min_count,
        )
        kept = cleaned.where(
            (F.col("n_tokens") - F.col("n_removed")) >= F.lit(self.passage_min_tokens)
        ).select(self.id_col, "clean_text")
        return (
            docs.join(kept, self.id_col)
            .withColumn(self.text_col, F.col("clean_text"))
            .drop("clean_text")
        )

    def quota_capped(self, docs: DataFrame) -> DataFrame:
        """Optional stage 4c (``quota_group_col``+``quota_cap_docs`` opt
        in): bound any one group's (domain/source) share of the curated
        corpus via the skew-safe deterministic cap
        (operators/sampling.quota_cap).  Runs after dedup — capping first
        would let near-duplicates consume a group's quota — and before
        sampling/mixing, which rebalance the already-capped corpus."""
        if self.quota_group_col is None or self.quota_cap_docs is None:
            return docs
        return quota_cap(
            docs,
            self.quota_group_col,
            self.quota_cap_docs,
            key_col=self.id_col,
            seed=self.quota_seed,
        )

    def sampled(self, docs: DataFrame) -> DataFrame:
        if not self.sample_fractions and self.sample_default >= 1.0:
            return docs
        return stratified_sample(
            docs,
            self.sample_fractions,
            strata_col=self.strata_col,
            key_col=self.id_col,
            default_fraction=self.sample_default,
            seed=self.sample_seed,
        )

    def mixed(self, docs: DataFrame) -> DataFrame:
        if self.mix_weights is None:
            return docs
        return mix_sources(
            docs,
            self.mix_weights,
            source_col=self.mix_source_col,
            key_col=self.id_col,
            budget_docs=self.mix_budget_docs,
            budget_factor=self.mix_budget_factor,
            seed=self.mix_seed,
        )

    def labeled(self, docs: DataFrame) -> DataFrame:
        """Optional terminal stage (``split_fractions`` opts in):
        train/val/test labels keyed on the doc id (sampling.assign_splits)
        — a pure projection, so it adds nothing to the plan's shuffle
        count.  Keyed on id, an upsampled doc's every epoch lands in the
        SAME split (no eval leakage through mixture repeats)."""
        if self.split_fractions is None:
            return docs
        return assign_splits(
            docs, self.split_fractions, key_col=self.id_col, seed=self.split_seed
        )

    def run(self, docs: DataFrame) -> DataFrame:
        """The curated corpus as a composed plan.

        Stages 1-3 and 5 compose lazily; stage 4 (near-dedup) is NOT lazy:
        building it runs the MinHash+LSH and connected-components jobs
        eagerly (the component labeling is iterative and localCheckpointed),
        so calling ``run`` already executes those jobs.  The returned frame
        re-derives stages 1-3 lazily on the caller's action and anti-joins
        the (already materialized) cluster-loser list."""
        out = self.quality_docs(self.valid_docs(docs))
        out = self.optional_filtered(self.exact_deduped(out))
        out = self.passage_cleaned(self.near_deduped(out))
        out = self.mixed(self.sampled(self.quota_capped(out)))
        return self.labeled(out)

    def run_with_counts(self, docs: DataFrame) -> tuple[DataFrame, dict]:
        """Curated corpus + per-stage survivor counts (the no-silent-drops
        report: every row lost between raw input and final corpus is
        attributed to a stage).

        Cost shape: the raw input is scanned ONCE — the input count rides
        the validation count as an Observation, the validated frame is
        persisted, and every later stage (quality, exact dedup, the whole
        LSH/components stage, sampling, and all their counts) reads from
        that cache.  Boundary caches are unpersisted before returning, so
        no pinned frames outlive the call; the caller's final action
        recomputes stages 1-3 from raw (its one scan)."""
        obs = Observation()
        observed = docs.observe(obs, F.count(F.lit(1)).alias("n_input"))
        valid = self.valid_docs(observed).persist(StorageLevel.MEMORY_AND_DISK)
        exact = None
        pinned_filtered = None
        pinned_deduped = None
        try:
            counts = {"input": 0}
            counts["after_validation"] = valid.count()  # the one raw scan
            counts["input"] = int(obs.get["n_input"])
            quality = self.quality_docs(valid)
            counts["after_quality"] = quality.count()
            exact = self.exact_deduped(quality).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            counts["after_exact_dedup"] = exact.count()
            filtered = self.optional_filtered(exact)
            if filtered is not exact:  # an optional stage is on
                # persist this boundary like the others: the repetition
                # (doc, n-gram) shuffle / decontam hash-join would
                # otherwise be re-executed by every downstream action
                # (the count here, the eager LSH jobs, and two more counts)
                pinned_filtered = filtered.persist(StorageLevel.MEMORY_AND_DISK)
                filtered = pinned_filtered
                counts["after_optional_filters"] = filtered.count()
            deduped = self.near_deduped(filtered)
            counts["after_near_dedup"] = deduped.count()
            if self.passage_removal_window is not None:
                # the removal scans its input twice (span derivation +
                # cleaned join), so pin this boundary like the others
                pinned_deduped = deduped.persist(StorageLevel.MEMORY_AND_DISK)
                deduped = self.passage_cleaned(pinned_deduped)
                counts["after_passage_removal"] = deduped.count()
            if self.quota_group_col is not None and self.quota_cap_docs is not None:
                deduped = self.quota_capped(deduped)
                counts["after_quota_cap"] = deduped.count()
            out = self.sampled(deduped)
            counts["after_sampling"] = out.count()
            if self.mix_weights is not None:
                out = self.mixed(out)
                counts["after_mixing"] = out.count()
            out = self.labeled(out)  # pure projection: no count boundary
        finally:
            valid.unpersist()
            if exact is not None:
                exact.unpersist()
            if pinned_filtered is not None:
                pinned_filtered.unpersist()
            if pinned_deduped is not None:
                pinned_deduped.unpersist()
        return out, counts
