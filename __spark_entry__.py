"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Queries map 1:1 to SURVEY.md §2 operators.  EVERY query has a DuckDB
oracle — none are rows-only:

* §2B keyword checks  -> ``doc_validation_violations`` (flat table) and
  the ``northrule_*`` span-walk queries (the generated interleaved table
  is materialized to parquet so the span validation/verdicts/sequence/
  referential checks are plain SQL over unnested spans).
* §2D data-quality    -> column stats, category counts, length
  histogram, uniqueness, duplicate keys + salted example rows,
  referential anti-join, drift inputs (quantiles).
* training-data ops   -> exact dedup, text profile, language ID,
  fingerprinting, MinHash near-dup (md5-derived universal hashing —
  the oracle rebuilds signatures bit-for-bit), SimHash near-dup
  (md5 token hashes + HUGEINT majority-vote mirror), embedding cosine
  top-k and LSH ANN (literal hyperplane constants in SQL), multimodal
  feature plumbing (deterministic stub kernel mirrored in SQL).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from schemasaurus_spark.operators.dedup import (
    exact_duplicate_groups,
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from schemasaurus_spark.operators.media import extract_image_features, synth_media_table
from schemasaurus_spark.operators.referential import dangling_media_refs, dangling_refs
from schemasaurus_spark.operators.similarity import brute_force_topk, lsh_topk
from schemasaurus_spark.operators.stats import category_counts, column_stats
from schemasaurus_spark.operators.text import fingerprint, token_count
from schemasaurus_spark.operators.uniqueness import duplicate_keys, uniqueness_report
from schemasaurus_spark.plans.validation_job import ValidationJob
from schemasaurus_spark.schema.columns import validate_dataframe
from schemasaurus_spark.sources.generator import (
    generate_documents,
    generate_media_catalog,
)

# ---------------------------------------------------------------------------
# flagship: draft-4 validation of the flat testdata documents table.
# Constraints are chosen so real rows violate them (lang 'zh' outside the
# enum, source 'src10'..'src19' off-pattern, texts longer than 300 chars).
# ---------------------------------------------------------------------------

FLAT_DOC_SCHEMA: dict = {
    "type": "object",
    "properties": {
        "doc_id": {"type": "integer", "required": True, "minimum": 0},
        "text": {"type": "string", "required": True, "minLength": 1, "maxLength": 300},
        "lang": {"type": "string", "enum": ["en", "de", "fr", "es"]},
        "source": {"type": "string", "pattern": "^src[0-9]$"},
        "n_chars": {"type": "integer", "minimum": 0, "maximum": 300},
    },
}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def doc_validation_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2B keyword checks compiled to native Columns; violations as rows."""
    validated = validate_dataframe(_docs(spark, sf_dir), FLAT_DOC_SCHEMA)
    return (
        validated.where(~F.col("valid"))
        .select("doc_id", F.explode("errors").alias("err"))
        .select(
            "doc_id",
            F.col("err.code").alias("code"),
            F.col("err.path").alias("json_pointer"),
            F.col("err.value").alias("value"),
            F.col("err.arg").alias("arg"),
        )
    )


_VALIDATION_ORACLE = """
SELECT doc_id, 'enum' AS code, '/lang' AS json_pointer,
       lang AS value, '["en","de","fr","es"]' AS arg
FROM documents WHERE lang IS NOT NULL AND lang NOT IN ('en','de','fr','es')
UNION ALL
SELECT doc_id, 'pattern', '/source', source, '^src[0-9]$'
FROM documents WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]$')
UNION ALL
SELECT doc_id, 'maxLength', '/text', text, '300'
FROM documents WHERE text IS NOT NULL AND length(text) > 300
UNION ALL
SELECT doc_id, 'minLength', '/text', text, '1'
FROM documents WHERE text IS NOT NULL AND length(text) < 1
UNION ALL
SELECT doc_id, 'maximum', '/n_chars', CAST(n_chars AS VARCHAR), '300'
FROM documents WHERE n_chars IS NOT NULL AND n_chars > 300
UNION ALL
SELECT doc_id, 'minimum', '/n_chars', CAST(n_chars AS VARCHAR), '0'
FROM documents WHERE n_chars IS NOT NULL AND n_chars < 0
UNION ALL
SELECT doc_id, 'minimum', '/doc_id', CAST(doc_id AS VARCHAR), '0'
FROM documents WHERE doc_id IS NOT NULL AND doc_id < 0
"""


# ---------------------------------------------------------------------------
# schema-evolution impact: validate under TWO schema versions in one scan
# (schema/migration.py).  V2 tightens maxLength/maximum 300 -> 250 (breaks
# the 42 sf0.01 docs in the (250, 300] band) and widens the lang enum with
# 'zh' (forgives the 75 zh docs) — every transition cell is non-vacuous.
# ---------------------------------------------------------------------------

FLAT_DOC_SCHEMA_V2: dict = {
    "type": "object",
    "properties": {
        "doc_id": {"type": "integer", "required": True, "minimum": 0},
        "text": {"type": "string", "required": True, "minLength": 1, "maxLength": 250},
        "lang": {"type": "string", "enum": ["en", "de", "fr", "es", "zh"]},
        "source": {"type": "string", "pattern": "^src[0-9]$"},
        "n_chars": {"type": "integer", "minimum": 0, "maximum": 250},
    },
}


def doc_schema_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(valid_old, valid_new, n_docs) transition matrix, both verdicts from
    ONE corpus scan (plan asserted in tests/test_migration.py)."""
    from schemasaurus_spark.schema.migration import migration_matrix

    return migration_matrix(_docs(spark, sf_dir), FLAT_DOC_SCHEMA, FLAT_DOC_SCHEMA_V2)


def doc_migration_breaking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-schema violation rows for docs the migration regresses."""
    from schemasaurus_spark.schema.migration import breaking_violations

    return breaking_violations(_docs(spark, sf_dir), FLAT_DOC_SCHEMA, FLAT_DOC_SCHEMA_V2)


# validity predicates replicating the Column backend's semantics: required
# fields must be non-null; optional fields are checked only when present
_VALID_OLD_SQL = """(
  doc_id IS NOT NULL AND doc_id >= 0
  AND text IS NOT NULL AND length(text) >= 1 AND length(text) <= 300
  AND (lang IS NULL OR lang IN ('en','de','fr','es'))
  AND (source IS NULL OR regexp_matches(source, '^src[0-9]$'))
  AND (n_chars IS NULL OR (n_chars >= 0 AND n_chars <= 300))
)"""

_VALID_NEW_SQL = """(
  doc_id IS NOT NULL AND doc_id >= 0
  AND text IS NOT NULL AND length(text) >= 1 AND length(text) <= 250
  AND (lang IS NULL OR lang IN ('en','de','fr','es','zh'))
  AND (source IS NULL OR regexp_matches(source, '^src[0-9]$'))
  AND (n_chars IS NULL OR (n_chars >= 0 AND n_chars <= 250))
)"""

_MIGRATION_MATRIX_ORACLE = f"""
SELECT {_VALID_OLD_SQL} AS valid_old, {_VALID_NEW_SQL} AS valid_new,
       count(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""

_MIGRATION_BREAKING_ORACLE = f"""
WITH regressed AS (
  SELECT * FROM documents WHERE {_VALID_OLD_SQL} AND NOT {_VALID_NEW_SQL}
)
SELECT doc_id, 'maxLength' AS code, '/text' AS json_pointer,
       text AS value, '250' AS arg
FROM regressed WHERE text IS NOT NULL AND length(text) > 250
UNION ALL
SELECT doc_id, 'minLength', '/text', text, '1'
FROM regressed WHERE text IS NOT NULL AND length(text) < 1
UNION ALL
SELECT doc_id, 'enum', '/lang', lang, '["en","de","fr","es","zh"]'
FROM regressed WHERE lang IS NOT NULL AND lang NOT IN ('en','de','fr','es','zh')
UNION ALL
SELECT doc_id, 'pattern', '/source', source, '^src[0-9]$'
FROM regressed WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]$')
UNION ALL
SELECT doc_id, 'maximum', '/n_chars', CAST(n_chars AS VARCHAR), '250'
FROM regressed WHERE n_chars IS NOT NULL AND n_chars > 250
UNION ALL
SELECT doc_id, 'minimum', '/n_chars', CAST(n_chars AS VARCHAR), '0'
FROM regressed WHERE n_chars IS NOT NULL AND n_chars < 0
UNION ALL
SELECT doc_id, 'minimum', '/doc_id', CAST(doc_id AS VARCHAR), '0'
FROM regressed WHERE doc_id IS NOT NULL AND doc_id < 0
"""


# ---------------------------------------------------------------------------
# §2D column stats / counts / histogram / uniqueness / referential
# ---------------------------------------------------------------------------

_STAT_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def doc_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return column_stats(_docs(spark, sf_dir), _STAT_COLS, approx=False)


_STATS_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", count(*) AS n,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS null_rate,
       count(DISTINCT {c}) AS "distinct",
       CAST(min({c}) AS VARCHAR) AS min, CAST(max({c}) AS VARCHAR) AS max
FROM documents"""
    for c in _STAT_COLS
)


def doc_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return category_counts(_docs(spark, sf_dir), "lang")


def event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return category_counts(_table(spark, sf_dir, "events"), "event_type")


# histogram bucket formula written once and used verbatim by both engines
# (width_bucket semantics: x<lo -> 0, x>=hi -> nb+1, else equi-width bucket)
_BUCKET_EXPR = (
    "CASE WHEN n_chars < 0 THEN 0 WHEN n_chars >= 500 THEN 11 "
    "ELSE CAST(FLOOR(n_chars * 10.0 / 500.0) AS INTEGER) + 1 END"
)


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .where(F.col("n_chars").isNotNull())
        .selectExpr(f"{_BUCKET_EXPR} AS bucket")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_HISTOGRAM_ORACLE = f"""
SELECT {_BUCKET_EXPR} AS bucket, count(*) AS cnt
FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
"""


def doc_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return uniqueness_report(_docs(spark, sf_dir), "doc_id")


_UNIQUENESS_ORACLE = """
WITH d AS (
  SELECT doc_id, count(*) AS cnt FROM documents GROUP BY doc_id HAVING count(*) > 1
)
SELECT (SELECT count(*) FROM documents) AS n_rows,
       (SELECT count(DISTINCT doc_id) FROM documents) AS n_keys,
       (SELECT count(*) FROM d) AS dup_keys,
       (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM d) AS dup_rows
"""


def lineitem_dup_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase duplicate-key detection (every multi-line order)."""
    return duplicate_keys(_table(spark, sf_dir, "lineitem"), "l_orderkey")


_DUPKEYS_ORACLE = """
SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
"""


def lineitem_dup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase example-row collection per duplicate key — the
    operator where salting genuinely bounds reduce-side payload (phase 1
    caps each (key, salt) reducer at `limit` examples; see uniqueness.py
    module note for the count-path measurement that dropped the salt
    there)."""
    from schemasaurus_spark.operators.uniqueness import duplicate_key_rows

    return duplicate_key_rows(
        _table(spark, sf_dir, "lineitem"), "l_orderkey", "l_linenumber"
    ).select(
        "l_orderkey", "cnt", F.array_join("example_rows", ",").alias("example_rows")
    )


_DUPROWS_ORACLE = """
SELECT l_orderkey, count(*) AS cnt,
       array_to_string(list_slice(list_sort(list(l_linenumber)), 1, 5), ',') AS example_rows
FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
"""


def orders_dangling_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast LEFT ANTI referential check (orders -> customer)."""
    return dangling_refs(
        _table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
        "o_custkey",
        _table(spark, sf_dir, "customer"),
        "c_custkey",
    )


_DANGLING_ORACLE = """
SELECT o_custkey, o_orderkey FROM orders o
WHERE o_custkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
"""


# ---------------------------------------------------------------------------
# training-data ops: dedup / text analysis / fingerprinting
# ---------------------------------------------------------------------------


def doc_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup grouping over the documents table PLUS planted duplicates.

    The testdata corpus happens to contain no byte-identical texts, which
    made this oracle row vacuous (round-3 verdict nit: 0 rows proves only
    schema).  Every doc_id divisible by 100 is re-added under doc_id +
    10_000_000 with whitespace-mangled text — same normalized fingerprint,
    different raw bytes — so the groups, counts, and min-id choice are all
    exercised non-vacuously, deterministically, in both engines."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    planted = docs.where(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit("  "), F.regexp_replace("text", " ", "  "), F.lit(" ")).alias(
            "text"
        ),
    )
    base = docs.select("doc_id", "text").unionByName(planted)
    return exact_duplicate_groups(base).select(
        "fingerprint", "n_docs", F.element_at("doc_ids", 1).alias("min_doc_id")
    )


_DUPGROUPS_ORACLE = r"""
WITH base AS (
    SELECT doc_id, text FROM documents WHERE text IS NOT NULL
    UNION ALL
    SELECT doc_id + 10000000 AS doc_id,
           '  ' || regexp_replace(text, ' ', '  ', 'g') || ' ' AS text
    FROM documents WHERE text IS NOT NULL AND doc_id % 100 = 0
)
SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
       count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM base GROUP BY 1 HAVING count(*) > 1
"""


def doc_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts, punctuation counts, dedup fingerprint — exact integers
    only so the cross-engine hash compare is float-free."""
    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count(t).cast("long").alias("n_tokens"),
        F.length(F.regexp_replace(t, r"[A-Za-z0-9 \t\n\x0B\f\r]", "")).cast("long").alias("punct_chars"),
        F.length(t).cast("long").alias("len_chars"),
        fingerprint(t).alias("fingerprint"),
    )


_TEXT_PROFILE_ORACLE = r"""
SELECT doc_id,
       CASE WHEN text IS NULL OR trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
       CAST(length(regexp_replace(text, '[A-Za-z0-9 \t\n\x0B\f\r]', '', 'g')) AS BIGINT) AS punct_chars,
       CAST(length(text) AS BIGINT) AS len_chars,
       md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
FROM documents
"""


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic (length / punctuation / stopword terms)."""
    from schemasaurus_spark.operators.text import quality_score

    return _docs(spark, sf_dir).select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    )


_QUALITY_ORACLE = r"""
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN text IS NULL OR trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
         CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9 \t\n\x0B\f\r]', '', 'g')) AS DOUBLE)
                   / length(text) END AS pr,
         CASE WHEN text IS NULL OR trim(text) = '' THEN 0.0
              ELSE CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x IN ('the','and','of','to','is','in','that','with'))) AS DOUBLE)
                   / n_tokens END AS sr
  FROM documents
)
SELECT doc_id,
       CASE WHEN text IS NULL THEN 0.0 ELSE
         round((least(length(text) / 500.0, 1.0)
                + (1.0 - least(pr * 4, 1.0))
                + least(sr * 5, 1.0)) / 3.0, 4)
       END AS quality
FROM base
"""


_STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "es": ["el", "la", "los", "y", "es", "en", "por", "que"],
    "fr": ["le", "la", "les", "et", "est", "dans", "pour", "que"],
}


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (integer votes -> exact cross-engine)."""
    from schemasaurus_spark.operators.text import with_lang_id

    return with_lang_id(_docs(spark, sf_dir)).select("doc_id", "lang_guess")


def _votes_sql(words: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return (
        r"len(list_filter(string_split_regex(lower(text), '\s+'),"
        f" x -> x IN ({inlist})))"
    )


_LANG_ID_ORACLE = f"""
WITH v AS (
  SELECT doc_id,
         {_votes_sql(_STOPWORDS["de"])} AS vde,
         {_votes_sql(_STOPWORDS["en"])} AS ven,
         {_votes_sql(_STOPWORDS["es"])} AS ves,
         {_votes_sql(_STOPWORDS["fr"])} AS vfr
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id, 0, 0, 0, 0 FROM documents WHERE text IS NULL
)
SELECT doc_id,
       CASE WHEN greatest(vde, ven, ves, vfr) <= 0 THEN 'und'
            WHEN vde = greatest(vde, ven, ves, vfr) THEN 'de'
            WHEN ven = greatest(vde, ven, ves, vfr) THEN 'en'
            WHEN ves = greatest(vde, ven, ves, vfr) THEN 'es'
            ELSE 'fr' END AS lang_guess
FROM v
"""


NORMALIZE_SCHEMA: dict = {
    "properties": {
        "doc_id": {"type": "string"},  # bigint -> JS toString
        "lang": {"default": "und"},  # null -> default
        "n_chars": {"type": "boolean"},  # number -> JS truthiness
        "text": {"type": "string"},
    }
    # 'source' is undeclared -> removed (normalizer.js additionalProperty)
}


def doc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2C normalizer transforms compiled to one typed projection."""
    from schemasaurus_spark.schema.normalize_columns import normalize_dataframe

    return normalize_dataframe(_docs(spark, sf_dir), NORMALIZE_SCHEMA)


_NORMALIZE_ORACLE = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       coalesce(lang, 'und') AS lang,
       n_chars <> 0 AS n_chars,
       text
FROM documents
"""


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------


def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 8 probe vectors (double-precision both sides)."""
    emb = _table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probes = emb.where(F.col("vec_id") < 8)
    return brute_force_topk(emb, probes, k=5)


_TOPK_ORACLE = """
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(p.v, c.v) AS sim
  FROM emb p JOIN emb c ON p.vec_id <> c.vec_id
  WHERE p.vec_id < 8
),
ranked AS (
  SELECT probe_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT probe_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       round(sim, 6) AS similarity
FROM ranked WHERE rank <= 5
"""


def _oracle_embedding_count() -> int:
    """Corpus size of the oracle-side embeddings table (sf0.01 unless
    overridden) — the SQL builders derive the SAME plane count from it
    that the Spark operators derive from their runtime ``df.count()``, so
    the data-driven LSH geometry matches bit-for-bit at the correctness
    scale factor."""
    import duckdb

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        return duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{sf_dir}/embeddings.parquet')"
        ).fetchone()[0]
    except Exception:
        return 500  # the generated sf0.01 embeddings row count


def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k with a corpus-size-derived plane
    count (``derive_n_planes`` — buckets grow with n, per-probe work
    stays constant).  The hyperplanes are deterministic literal arrays
    (splitmix64-derived), so the oracle derives the same plane count from
    the same corpus count and injects the same plane constants,
    reproducing the bucketing, radius-1 multiprobe and within-bucket
    cosine ranking in SQL; recall vs brute force is additionally asserted
    in pytest."""
    emb = _table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probes = emb.where(F.col("vec_id") < 8)
    return lsh_topk(emb, probes, dim=64, k=5)


def _ann_oracle_sql() -> str:
    from schemasaurus_spark.operators.similarity import (
        TOPK_TARGET_BUCKET,
        _hyperplane,
        derive_n_planes,
    )

    n_planes = derive_n_planes(_oracle_embedding_count(), TOPK_TARGET_BUCKET)
    plane_rows = ",\n    ".join(
        "({}, [{}])".format(p, ", ".join(repr(v) for v in _hyperplane(64, p)))
        for p in range(n_planes)
    )
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
planes(pid, pv) AS (VALUES
    {plane_rows}
),
-- sign-bit bucket, msb = plane 0 (matches the fold bucket*2 + bit)
bucketed AS (
  SELECT e.vec_id, e.v,
         CAST(sum(CASE WHEN list_dot_product(e.v, p.pv) > 0
                       THEN CAST(1 AS BIGINT) << ({n_planes} - 1 - p.pid) ELSE 0 END) AS BIGINT) AS bucket
  FROM emb e, planes p
  GROUP BY e.vec_id, e.v
),
probes AS (
  SELECT vec_id AS probe_id, v AS pvec,
         CASE WHEN t.b = -1 THEN bucket ELSE xor(bucket, CAST(1 AS BIGINT) << t.b) END AS bucket
  FROM bucketed, generate_series(-1, {n_planes - 1}) AS t(b)
  WHERE vec_id < 8
),
scored AS (
  SELECT DISTINCT p.probe_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(p.pvec, c.v) AS sim
  FROM probes p JOIN bucketed c ON p.bucket = c.bucket
  WHERE p.probe_id <> c.vec_id
),
ranked AS (
  SELECT probe_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT probe_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       round(sim, 6) AS similarity
FROM ranked WHERE rank <= 5
"""


def event_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming windowed-aggregation transform
    (``streaming/window_stream.windowed_counts``) run in batch mode over
    the events table — tumbling 10-minute event-time windows, per-type
    counts + value sums.  The batch and stream paths share this exact
    expression (watermark is a no-op in batch); the stream's
    late-data/watermark semantics are pytest-covered
    (test_streaming.py), while THIS oracle pins the window bucketing and
    aggregate arithmetic."""
    from schemasaurus_spark.streaming.window_stream import windowed_counts

    return windowed_counts(_table(spark, sf_dir, "events"))


_WINDOWED_COUNTS_ORACLE = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
       time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS window_end,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


def event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization of the events table (8-hour
    inactivity gap): per-user activity bursts with start/end/count/value
    rollups.  The engine path (operators/sessionize.py) is one window
    pass + one rollup over a single user-keyed shuffle; a second,
    independent implementation via ``F.session_window`` is asserted
    row-identical in test_streaming.py, and THIS oracle pins the
    gaps-and-islands arithmetic (strict > gap opens a session — the
    empirically-verified session_window merge rule) in SQL."""
    from schemasaurus_spark.operators.sessionize import session_stats

    return session_stats(_table(spark, sf_dir, "events"), gap_seconds=28800)


_SESSIONIZATION_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, value, event_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
), flagged AS (
  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 28800 * 1000000::BIGINT
                 THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sess AS (
  SELECT *, CAST(sum(is_new) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM sess
GROUP BY user_id, session_seq
"""


def event_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: every non-error event joined to the
    most recent at-or-before 'error' event of the same user (the
    classic "state as of this row" join Spark lacks).  Runs the
    SKEW-BOUNDED plan (operators/asof.py ``asof_join_bucketed``: final
    window partitions by (user, day-bucket), carry-ins derived from a
    bucket-granularity running window over the per-bucket-latest
    aggregate) so the 100 TB path itself is what the oracle checks;
    the simple union-window form is parity-tested in test_asof.py.
    Oracle: DuckDB's native ASOF LEFT JOIN with the same max-event_id
    tie rule.  Nullable numerics cast to double on both sides so the
    pandas null representation agrees."""
    from schemasaurus_spark.operators.asof import asof_join_bucketed

    ev = _table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") != "error").select(
        "event_id", "user_id", "ts"
    )
    right = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_id")
    )
    out = asof_join_bucketed(
        left,
        right,
        on="user_id",
        bucket_seconds=86400,
        right_cols=["error_id", "ts"],
        tiebreak="error_id",
        suffix="_e",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("error_id_e").cast("double").alias("error_id"),
        F.col("ts_e").alias("error_ts"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("ts_e").cast("timestamp"))
        )
        .cast("double")
        .alias("us_since_error"),
    )


_ASOF_ORACLE = """
WITH lefts AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type <> 'error'
), rights AS (
  SELECT user_id, ts, event_id AS error_id FROM events WHERE event_type = 'error'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
)
SELECT l.event_id, l.user_id, l.ts,
       CAST(r.error_id AS DOUBLE) AS error_id,
       r.ts AS error_ts,
       CAST(epoch_us(l.ts) - epoch_us(r.ts) AS DOUBLE) AS us_since_error
FROM lefts l ASOF LEFT JOIN rights r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def event_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment at scale: events rolled up per deterministic
    maintenance window (20 windows, 33 h apart, 2-21 h long, formula-
    derived from the fixed 2024-01-01 corpus epoch).  The theta-join
    ``ts BETWEEN w_start AND w_end`` is planned as a bucketed EQUI-join
    (operators/rangejoin.py: intervals explode to 6 h buckets, points
    map to one bucket, exact refinement after — each pair exactly once,
    the big side never expands); the oracle is the plain inequality
    join.  Value sums are exact cent integers, immune to float
    summation order."""
    from schemasaurus_spark.operators.rangejoin import range_join

    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC
    hour_us = 3_600_000_000
    ev = _table(spark, sf_dir, "events").select("event_id", "ts", "value")
    start = F.lit(base_us) + F.col("id") * F.lit(33 * hour_us)
    wins = spark.range(20).select(
        F.col("id").alias("window_id"),
        # cast to NTZ (lossless under the UTC session tz) so the BETWEEN
        # compares like types with the parquet TIMESTAMP_NTZ ts column
        F.timestamp_micros(start).cast("timestamp_ntz").alias("w_start"),
        F.timestamp_micros(start + ((F.col("id") * 7) % 20 + 2) * F.lit(hour_us))
        .cast("timestamp_ntz")
        .alias("w_end"),
    )
    joined = range_join(
        ev,
        wins,
        point_col="ts",
        start_col="w_start",
        end_col="w_end",
        bucket_width=6 * 3600,
        broadcast_intervals=True,
    )
    return joined.groupBy("window_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        F.min("event_id").alias("first_event"),
    )


_RANGE_JOIN_ORACLE = """
WITH wins AS (
  SELECT i AS window_id,
         make_timestamp(1704067200000000 + i * 118800000000) AS w_start,
         make_timestamp(1704067200000000 + i * 118800000000
                        + ((i * 7) % 20 + 2) * 3600000000) AS w_end
  FROM (SELECT unnest(generate_series(0, 19)) AS i)
)
SELECT w.window_id,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
       min(e.event_id) AS first_event
FROM events e JOIN wins w ON e.ts >= w.w_start AND e.ts <= w.w_end
GROUP BY w.window_id
"""


def event_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join (rangejoin.interval_join): two
    deterministic per-type activity-interval sets derived from events
    (A: every 41st event open for 1-5 h; B: every 37th+3 open for
    0.5-3.5 h) joined on type + time overlap.  Both sides explode to
    2 h buckets and equi-join; each overlapping pair is charged to the
    bucket of max(start) — exactly once, no distinct (rangejoin.py).
    Everything runs in exact micros-integers (engine-portable), the
    oracle is the plain inequality join."""
    from schemasaurus_spark.operators.rangejoin import interval_join

    hour_us = 3_600_000_000
    ev = _table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    a = ev.where(F.col("event_id") % 41 == 0).select(
        F.col("event_id").alias("a_id"),
        "event_type",
        us.alias("a_start"),
        (us + (F.col("event_id") % 5 + 1) * F.lit(hour_us)).alias("a_end"),
    )
    b = ev.where(F.col("event_id") % 37 == 3).select(
        F.col("event_id").alias("b_id"),
        "event_type",
        us.alias("b_start"),
        (us + (F.col("event_id") % 7 + 1) * F.lit(hour_us // 2)).alias("b_end"),
    )
    joined = interval_join(
        a, b,
        left_start="a_start", left_end="a_end",
        right_start="b_start", right_end="b_end",
        bucket_width=2 * 3600 * 1_000_000,  # numeric micros domain
        keys=["event_type"],
    )
    return joined.select(
        "a_id", "b_id", "event_type",
        (F.least("a_end", "b_end") - F.greatest("a_start", "b_start")).alias(
            "overlap_us"
        ),
    )


_INTERVAL_OVERLAP_ORACLE = """
WITH a AS (
  SELECT event_id AS a_id, event_type, epoch_us(ts) AS a_start,
         epoch_us(ts) + (event_id % 5 + 1) * 3600000000 AS a_end
  FROM events WHERE event_id % 41 = 0 AND ts IS NOT NULL
),
b AS (
  SELECT event_id AS b_id, event_type, epoch_us(ts) AS b_start,
         epoch_us(ts) + (event_id % 7 + 1) * 1800000000 AS b_end
  FROM events WHERE event_id % 37 = 3 AND ts IS NOT NULL
)
SELECT a_id, b_id, a.event_type,
       least(a_end, b_end) - greatest(a_start, b_start) AS overlap_us
FROM a JOIN b ON a.event_type = b.event_type
            AND a_start <= b_end AND b_start <= a_end
"""


def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN top-k — the sublinear scale path (n_list ≈ sqrt(n)
    coarse cells, probes scan their 4 nearest lists ⇒ expected
    4·sqrt(n) candidates per probe vs brute force's n).

    The coarse quantizer is a deterministic md5-ordered sample of corpus
    vectors (k-means, 0 Lloyd iterations — zero float math in selection),
    so the oracle rebuilds the identical index in SQL: same centroid
    rows, same nearest-centroid assignment, same probe lists, same
    within-list cosine ranking.  Lloyd refinement is pytest-covered
    separately (its float averaging is not bit-portable across engines)."""
    from schemasaurus_spark.operators.similarity import build_ivf_index, ivf_topk

    emb = _table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probes = emb.where(F.col("vec_id") < 8)
    index = build_ivf_index(emb, dim=64)
    return ivf_topk(emb, probes, index, k=5, n_probe=4)


def _ivf_oracle_sql() -> str:
    from schemasaurus_spark.operators.similarity import derive_n_list

    n_list = derive_n_list(_oracle_embedding_count())
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
),
-- deterministic md5-ordered sample = the Spark index's centroid rows
cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS list_id, v
  FROM emb
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {n_list}
),
-- nearest-centroid assignment (ties to the smallest list id)
assigned AS (
  SELECT e.vec_id, e.v, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.list_id ASC) AS rn
  FROM emb e, cents c
),
corpus AS (SELECT vec_id, v, list_id FROM assigned WHERE rn = 1),
probe_lists AS (
  SELECT e.vec_id AS probe_id, e.v AS pv, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.list_id ASC) AS rn
  FROM emb e, cents c
  WHERE e.vec_id < 8
),
scored AS (
  SELECT p.probe_id, x.vec_id AS neighbor_id,
         list_cosine_similarity(p.pv, x.v) AS sim
  FROM (SELECT * FROM probe_lists WHERE rn <= 4) p
  JOIN corpus x USING (list_id)
  WHERE p.probe_id <> x.vec_id
),
ranked AS (
  SELECT probe_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT probe_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       round(sim, 6) AS similarity
FROM ranked WHERE rank <= 5
"""


def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k — the memory-compression tier of
    the ANN ladder (64-dim float64 → 8 one-byte codes per vector; query
    scores candidates with 8 LUT adds, never touching raw vectors).

    Codebooks are the deterministic md5-ordered ks-vector sample SLICED
    per subspace (shared-sample init, 0 Lloyd iterations — zero float
    math in selection), so the oracle rebuilds the identical codebooks,
    codes, and LUTs in SQL.  Lloyd refinement and the IVFADC composition
    are pytest-covered (float averaging is not bit-portable)."""
    from schemasaurus_spark.operators.pq import build_pq_codebook, pq_topk

    emb = _table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probes = emb.where(F.col("vec_id") < 8)
    cb = build_pq_codebook(emb, dim=64, m=8, ks=16)
    return pq_topk(emb, probes, cb, k=5)


_PQ_ORACLE = """
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
),
-- deterministic md5-ordered sample = the Spark codebook's source vectors
cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code, v
  FROM emb
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
),
-- sliced per subspace: codeword (mi, code) with its |c|^2/2 constant
cw AS (
  SELECT mi, code, v[mi*8+1 : mi*8+8] AS c,
         list_dot_product(v[mi*8+1 : mi*8+8], v[mi*8+1 : mi*8+8]) / 2 AS cchalf
  FROM cents, (SELECT unnest(range(8)) AS mi)
),
-- encode: per (vector, subspace) the argmax of dot(x_mi, c) - |c|^2/2
-- (= argmin squared L2), ties to the smallest code
enc AS (
  SELECT e.vec_id, w.mi, w.code,
         row_number() OVER (
           PARTITION BY e.vec_id, w.mi
           ORDER BY list_dot_product(e.v[w.mi*8+1 : w.mi*8+8], w.c) - w.cchalf DESC,
                    w.code ASC) AS rn
  FROM emb e, cw w
),
codes AS (SELECT vec_id, mi, code FROM enc WHERE rn = 1),
-- per-probe LUT: dot of each probe subvector with each codeword
lut AS (
  SELECT p.vec_id AS probe_id, w.mi, w.code,
         list_dot_product(p.v[w.mi*8+1 : w.mi*8+8], w.c) AS dp
  FROM emb p, cw w
  WHERE p.vec_id < 8
),
-- ADC score: the m-term sum of LUT lookups along the candidate's codes
scored AS (
  SELECT l.probe_id, c.vec_id AS neighbor_id,
         list_sum(list(l.dp ORDER BY l.mi)) AS score
  FROM codes c JOIN lut l ON l.mi = c.mi AND l.code = c.code
  WHERE l.probe_id <> c.vec_id
  GROUP BY l.probe_id, c.vec_id
),
ranked AS (
  SELECT probe_id, neighbor_id, score,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT probe_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       round(score, 6) AS adc_score
FROM ranked WHERE rank <= 5
"""


def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the standard billion-scale ANN shape, oracled end to end:
    the IVF coarse quantizer prunes each probe to its 4 nearest inverted
    lists and PQ codes score the survivors (n_probe·n/n_list candidates
    at m one-byte-code adds each; raw vectors never read at query time).
    Both index constructions are the deterministic md5-ordered sample,
    so ONE SQL query rebuilds the coarse centroids, the list assignment,
    the codebooks, the codes, the probe LUTs and the ADC ranking."""
    from schemasaurus_spark.operators.pq import build_pq_codebook, ivfpq_topk
    from schemasaurus_spark.operators.similarity import build_ivf_index

    emb = _table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probes = emb.where(F.col("vec_id") < 8)
    index = build_ivf_index(emb, dim=64)
    cb = build_pq_codebook(emb, dim=64, m=8, ks=16)
    return ivfpq_topk(emb, probes, index, cb, k=5, n_probe=4)


def _ivfpq_oracle_sql() -> str:
    from schemasaurus_spark.operators.similarity import derive_n_list

    n_list = derive_n_list(_oracle_embedding_count())
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
),
ordered AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS pos, v
  FROM emb
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
),
-- IVF coarse centroids: first n_list of the md5-ordered sample
cents AS (SELECT pos AS list_id, v FROM ordered WHERE pos < {n_list}),
-- PQ codebook sources: first 16 of the SAME ordered sample
pqsrc AS (SELECT pos AS code, v FROM ordered WHERE pos < 16),
cw AS (
  SELECT mi, code, v[mi*8+1 : mi*8+8] AS c,
         list_dot_product(v[mi*8+1 : mi*8+8], v[mi*8+1 : mi*8+8]) / 2 AS cchalf
  FROM pqsrc, (SELECT unnest(range(8)) AS mi)
),
-- coarse assignment (ties to the smallest list id)
assigned AS (
  SELECT e.vec_id, e.v, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.list_id ASC) AS rn
  FROM emb e, cents c
),
corpus AS (SELECT vec_id, v, list_id FROM assigned WHERE rn = 1),
-- PQ encode every corpus vector
enc AS (
  SELECT e.vec_id, w.mi, w.code,
         row_number() OVER (
           PARTITION BY e.vec_id, w.mi
           ORDER BY list_dot_product(e.v[w.mi*8+1 : w.mi*8+8], w.c) - w.cchalf DESC,
                    w.code ASC) AS rn
  FROM emb e, cw w
),
codes AS (SELECT vec_id, mi, code FROM enc WHERE rn = 1),
-- each probe's 4 nearest lists
probe_lists AS (
  SELECT e.vec_id AS probe_id, e.v AS pv, c.list_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.list_id ASC) AS rn
  FROM emb e, cents c
  WHERE e.vec_id < 8
),
-- per-probe ADC LUT
lut AS (
  SELECT p.vec_id AS probe_id, w.mi, w.code,
         list_dot_product(p.v[w.mi*8+1 : w.mi*8+8], w.c) AS dp
  FROM emb p, cw w
  WHERE p.vec_id < 8
),
-- candidates: corpus rows in the probed lists, scored from codes alone
scored AS (
  SELECT pl.probe_id, x.vec_id AS neighbor_id,
         list_sum(list(l.dp ORDER BY l.mi)) AS score
  FROM (SELECT * FROM probe_lists WHERE rn <= 4) pl
  JOIN corpus x USING (list_id)
  JOIN codes c ON c.vec_id = x.vec_id
  JOIN lut l ON l.probe_id = pl.probe_id AND l.mi = c.mi AND l.code = c.code
  WHERE pl.probe_id <> x.vec_id
  GROUP BY pl.probe_id, x.vec_id
),
ranked AS (
  SELECT probe_id, neighbor_id, score,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT probe_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       round(score, 6) AS adc_score
FROM ranked WHERE rank <= 5
"""


def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table hyperplane LSH
    (corpus-size-derived plane count, 2 independent tables, exact-vector
    pre-collapse, capped + reported buckets — the scale-safe design).
    The oracle mirrors the UNCOLLAPSED, uncapped pipeline with the same
    derived plane count and plane constants (identical vectors share
    every bucket and score exactly 1.0, so collapse + expand is
    output-identical; the cap never triggers at the oracle scale)."""
    from schemasaurus_spark.operators.similarity import embedding_near_duplicates

    emb = _table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return embedding_near_duplicates(emb, dim=64, threshold=0.3)


def _embedding_neardup_oracle_sql() -> str:
    from schemasaurus_spark.operators.similarity import (
        NEARDUP_TARGET_BUCKET,
        _hyperplane,
        derive_n_planes,
        table_seed,
    )

    n_planes = derive_n_planes(_oracle_embedding_count(), NEARDUP_TARGET_BUCKET)
    n_tables = 2
    plane_rows = ",\n    ".join(
        "({}, {}, [{}])".format(
            t, p, ", ".join(repr(v) for v in _hyperplane(64, p, table_seed(42, t)))
        )
        for t in range(n_tables)
        for p in range(n_planes)
    )
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
),
planes(tid, pid, pv) AS (VALUES
    {plane_rows}
),
-- per-table sign-bit bucket, msb = plane 0 (matches the fold bucket*2+bit)
bucketed AS (
  SELECT e.vec_id, e.v, p.tid,
         CAST(sum(CASE WHEN list_dot_product(e.v, p.pv) > 0
                       THEN CAST(1 AS BIGINT) << ({n_planes} - 1 - p.pid) ELSE 0 END) AS BIGINT) AS bucket
  FROM emb e, planes p
  GROUP BY e.vec_id, e.v, p.tid
)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS similarity
FROM bucketed a JOIN bucketed b ON a.tid = b.tid AND a.bucket = b.bucket
WHERE a.vec_id < b.vec_id
  AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
"""


def embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination: corpus vectors within cosine 0.3 of any
    held-out benchmark vector (vec_id % 10 == 0 split).  Broadcast-exact
    method — the benchmark broadcasts, the corpus never shuffles, cosines
    run JVM-side (similarity.embedding_contamination_pairs); the LSH
    bucketed method is the larger-benchmark path (pytest-covered).
    Zero-norm vectors excluded on both sides, mirrored in the oracle."""
    from schemasaurus_spark.operators.similarity import (
        embedding_contamination_pairs,
    )

    emb = _table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    bench = emb.where(F.col("vec_id") % 10 == 0)
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    return embedding_contamination_pairs(corpus, bench, threshold=0.3)


_EMB_DECONTAM_ORACLE = """
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
)
SELECT c.vec_id AS corpus_id, b.vec_id AS benchmark_id,
       round(list_cosine_similarity(c.v, b.v), 6) AS cosine
FROM emb c JOIN emb b ON b.vec_id % 10 = 0 AND c.vec_id % 10 <> 0
WHERE round(list_cosine_similarity(c.v, b.v), 6) >= 0.3
"""


def embedding_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup CLUSTERING: the multi-table hyperplane
    LSH pair generation of ``embedding_near_dups`` fed through the same
    alternating large-star/small-star connected-components operator the
    MinHash path uses — semantic dedup (transitively-connected
    embedding neighborhoods collapse to one canonical vector), the
    embedding twin of ``doc_dup_components``.  The oracle nests the
    bit-exact pair statement as a CTE under the recursive reachability."""
    from schemasaurus_spark.operators.dedup import duplicate_components
    from schemasaurus_spark.operators.similarity import embedding_near_duplicates

    emb = _table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pairs = embedding_near_duplicates(emb, dim=64, threshold=0.3)
    return duplicate_components(pairs).select(
        F.col("id").alias("vec_id"), "comp_id", "comp_size", "is_canonical"
    )


def _embedding_components_oracle_sql() -> str:
    return f"""
WITH RECURSIVE
epairs AS ({_embedding_neardup_oracle_sql()}),
und AS (
  SELECT id_a AS u, id_b AS v FROM epairs
  UNION
  SELECT id_b AS u, id_a AS v FROM epairs
),
reach(id, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und) AS n(u)
  UNION
  SELECT und.u, reach.r FROM und JOIN reach ON reach.id = und.v
),
comp AS (SELECT id AS vec_id, min(r) AS comp_id FROM reach GROUP BY id)
SELECT vec_id, comp_id,
       count(*) OVER (PARTITION BY comp_id) AS comp_size,
       (vec_id = comp_id) AS is_canonical
FROM comp
"""


_SAMPLE_FRACTIONS = {"en": 0.2, "fr": 0.5}
_SAMPLE_DEFAULT = 0.75
_SAMPLE_SEED = 7


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling of the documents corpus.

    Hash-bucket Bernoulli keyed on doc_id (sampling.py): reproducible
    across runs/parallelism/engines, one filtered scan, zero shuffles —
    the curation step that rebalances over-represented strata at corpus
    scale.  The md5-bucket scheme makes the exact kept-row set
    SQL-expressible."""
    from schemasaurus_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir),
        _SAMPLE_FRACTIONS,
        strata_col="lang",
        key_col="doc_id",
        default_fraction=_SAMPLE_DEFAULT,
        seed=_SAMPLE_SEED,
    ).select("doc_id", "lang")


def _stratified_oracle_sql() -> str:
    from schemasaurus_spark.operators.sampling import _keep_threshold

    whens = " ".join(
        f"WHEN '{v}' THEN {_keep_threshold(f)}"
        for v, f in sorted(_SAMPLE_FRACTIONS.items())
    )
    return f"""
SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substr(md5(doc_id || ':{_SAMPLE_SEED}'), 1, 4)) AS INTEGER)
      < CASE lang {whens} ELSE {_keep_threshold(_SAMPLE_DEFAULT)} END
"""


def doc_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release audit between two corpus versions (operators/diff.py): the
    'new' version is synthesized in-plan — doc_id%17 rows removed,
    doc_id%13 texts edited, doc_id%11 docs re-added under shifted ids —
    and corpus_diff classifies added/removed/changed off (key,
    fingerprint) projections, so the full-width rows never reach the
    join.  The oracle does NOT replay the md5 fingerprint: it compares
    the columns directly (IS DISTINCT FROM), independently checking the
    fingerprint's faithfulness."""
    from schemasaurus_spark.operators.diff import corpus_diff

    old = _docs(spark, sf_dir)
    kept = old.where(F.col("doc_id") % 17 != 0)
    edited = kept.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
        ).otherwise(F.col("text")),
    )
    added = old.where(F.col("doc_id") % 11 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return corpus_diff(old, edited.unionByName(added))


_CORPUS_DIFF_ORACLE = """
WITH old AS (SELECT * FROM documents),
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN text || ' [edited]' ELSE text END AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 1000000, text, lang, source, n_chars
  FROM documents WHERE doc_id % 11 = 0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN (o.text IS DISTINCT FROM n.text)
              OR (o.lang IS DISTINCT FROM n.lang)
              OR (o.source IS DISTINCT FROM n.source)
              OR (o.n_chars IS DISTINCT FROM n.n_chars) THEN 'changed'
       END AS change
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
WHERE (CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN (o.text IS DISTINCT FROM n.text)
              OR (o.lang IS DISTINCT FROM n.lang)
              OR (o.source IS DISTINCT FROM n.source)
              OR (o.n_chars IS DISTINCT FROM n.n_chars) THEN 'changed'
       END) IS NOT NULL
"""


def doc_quality_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(source, lang) quality profile in one pass (stats.corpus_rollup):
    per-source, per-lang, per-(source,lang) and corpus-total doc counts +
    char-length sums/averages, disambiguated by grouping_id.  One scan,
    map-side partial aggregation of every grouping set — the curation
    dashboard query that would otherwise be four separate groupBys."""
    from schemasaurus_spark.operators.stats import corpus_rollup

    return corpus_rollup(
        _docs(spark, sf_dir), ["source", "lang"], cube=True
    ).select("gid", "source", "lang", "n_docs", "n_texts", "total_measure", "avg_measure")


_QUALITY_CUBE_ORACLE = """
SELECT GROUPING_ID(source, lang) AS gid, source, lang,
       count(*) AS n_docs,
       count(text) AS n_texts,
       CAST(sum(n_chars) AS BIGINT) AS total_measure,
       round(avg(n_chars), 6) AS avg_measure
FROM documents
GROUP BY CUBE(source, lang)
"""


def doc_latest_revision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog resolution: each doc expands to 1-3 synthetic
    revisions (rev = 0..doc_id%3, op = delete when (doc_id+rev)%7 = 0),
    then cdc.latest_revisions picks the max-rev survivor per key via a
    map-side-combinable max_by aggregate — no per-key window sort, so a
    hot key's revision history collapses before the shuffle.  The oracle
    states the same semantics as the naive row_number window."""
    from schemasaurus_spark.operators.cdc import latest_revisions

    docs = _docs(spark, sf_dir)
    changelog = docs.selectExpr(
        "doc_id",
        "explode(sequence(0, CAST(doc_id % 3 AS INT))) AS rev",
        "text",
    ).selectExpr(
        "doc_id",
        "rev",
        "CASE WHEN (doc_id + rev) % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op",
        "concat(text, ' [rev ', CAST(rev AS STRING), ']') AS text",
    )
    return latest_revisions(changelog, op_col="op").select("doc_id", "rev", "text")


_LATEST_REVISION_ORACLE = """
WITH revs AS (
  SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS rev, text
  FROM documents
),
changelog AS (
  SELECT doc_id, rev,
         CASE WHEN (doc_id + rev) % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op,
         text || ' [rev ' || CAST(rev AS VARCHAR) || ']' AS text
  FROM revs
)
SELECT doc_id, rev, text FROM (
  SELECT doc_id, rev, op, text,
         row_number() OVER (PARTITION BY doc_id ORDER BY rev DESC) AS rn
  FROM changelog) q
WHERE rn = 1 AND op <> 'delete'
"""


def doc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history from the same synthetic changelog as
    doc_latest_revision (operators/cdc.py scd2_intervals): every upsert
    revision becomes a validity interval [valid_from, valid_to) closed by
    the key's NEXT revision — deletes close the interval before them but
    emit no row (tombstones), so a key whose final op is a delete has no
    current row.  ONE window (hash exchange on doc_id + partition-local
    sort, lead(1) streams without buffering history); the oracle states
    the identical lead-window semantics."""
    from schemasaurus_spark.operators.cdc import scd2_intervals

    docs = _docs(spark, sf_dir)
    changelog = docs.selectExpr(
        "doc_id",
        "explode(sequence(0, CAST(doc_id % 3 AS INT))) AS rev",
        "text",
    ).selectExpr(
        "doc_id",
        "rev",
        "CASE WHEN (doc_id + rev) % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op",
        "concat(text, ' [rev ', CAST(rev AS STRING), ']') AS text",
    )
    return scd2_intervals(changelog, op_col="op").select(
        "doc_id", "valid_from", "valid_to", "is_current", "text"
    )


_SCD2_HISTORY_ORACLE = """
WITH revs AS (
  SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS rev, text
  FROM documents
),
changelog AS (
  SELECT doc_id, rev,
         CASE WHEN (doc_id + rev) % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op,
         text || ' [rev ' || CAST(rev AS VARCHAR) || ']' AS text
  FROM revs
),
intervals AS (
  SELECT doc_id, op, text, rev AS valid_from,
         lead(rev) OVER (PARTITION BY doc_id ORDER BY rev) AS valid_to
  FROM changelog
)
SELECT doc_id, valid_from, valid_to, (valid_to IS NULL) AS is_current, text
FROM intervals WHERE op <> 'delete'
"""


def doc_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping (bound any one domain's share of the
    corpus): deterministically the 10 smallest-hash docs of each source.

    The operator (sampling.quota_cap) never sorts a whole group — oversize
    groups are hash-prefiltered to ~slack*cap candidate rows before the
    row_number window, with an exact full-window fallback for the rare
    under-covered group — but the RESULT is exactly the window semantics,
    which is what the oracle states directly."""
    from schemasaurus_spark.operators.sampling import quota_cap

    return quota_cap(
        _docs(spark, sf_dir), "source", 10, key_col="doc_id", seed=0
    ).select("source", "doc_id")


_QUOTA_CAP_ORACLE = """
SELECT source, doc_id FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':quota:0'), doc_id) AS rn
  FROM documents) t
WHERE rn <= 10
"""


_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def doc_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (sampling.assign_splits):
    pure md5-bucket projection, zero shuffles, stable under reruns /
    repartitioning / corpus growth — a doc's split never changes when new
    docs arrive, which is what makes yesterday's held-out set still held
    out tomorrow."""
    from schemasaurus_spark.operators.sampling import assign_splits

    return assign_splits(_docs(spark, sf_dir), _SPLIT_FRACTIONS, seed=0).select(
        "doc_id", "split"
    )


def _split_assignment_oracle_sql() -> str:
    from schemasaurus_spark.operators.sampling import _keep_threshold

    items = list(_SPLIT_FRACTIONS.items())
    cum, whens = 0.0, []
    for name, frac in items[:-1]:
        cum += frac
        whens.append(f"WHEN b < {_keep_threshold(cum)} THEN '{name}'")
    return f"""
SELECT doc_id,
       CASE {' '.join(whens)} ELSE '{items[-1][0]}' END AS split
FROM (
  SELECT doc_id,
         CAST(('0x' || substr(md5(doc_id || ':split:0'), 1, 4)) AS INTEGER) AS b
  FROM documents) t
"""


_MIX_WEIGHTS = {"src0": 0.45, "src1": 0.25, "src2": 0.2, "src3": 0.1}
_MIX_FACTOR = 0.8
_MIX_SEED = 0


def doc_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-weighted source mixing with deterministic upsampling.

    Rates are derived IN-PLAN from the observed per-source counts
    (``rate = budget * weight / n_source``; budget = 0.8x the corpus), so
    over-weighted sources are REPEATED ``floor(rate)`` times plus a
    deterministic fractional epoch — the mixture-assembly step of a
    training pipeline (operators/mixing.py).  The md5-bucket scheme and
    pure IEEE-double rate arithmetic make the exact epoch-tagged row set
    SQL-expressible."""
    from schemasaurus_spark.operators.mixing import mix_sources

    return mix_sources(
        _docs(spark, sf_dir).select("doc_id", "source"),
        _MIX_WEIGHTS,
        budget_factor=_MIX_FACTOR,
        seed=_MIX_SEED,
    ).select("doc_id", "source", "epoch")


def _mix_ctes(weights: dict, factor: float, seed: int, source_table: str) -> str:
    """Mixing as a reusable CTE block ending in ``mix_cop(doc_id, source,
    n_copies)`` — used standalone over ``documents`` and composed over the
    curated-pipeline CTE in the mixed-corpus oracle."""
    whens = " ".join(
        f"WHEN '{v}' THEN CAST({w!r} AS DOUBLE)" for v, w in sorted(weights.items())
    )
    return f"""mix_counts AS (SELECT source, count(*) AS n FROM {source_table} GROUP BY source),
mix_tot AS (SELECT sum(n) AS total FROM mix_counts),
mix_base AS (
  SELECT d.doc_id, d.source,
         (CAST({factor!r} AS DOUBLE) * CAST(t.total AS DOUBLE))
           * (CASE d.source {whens} ELSE CAST(0.0 AS DOUBLE) END)
           / CAST(c.n AS DOUBLE) AS rate,
         CAST(('0x' || substr(md5(d.doc_id || ':mix:{seed}'), 1, 4)) AS INTEGER) AS bucket
  FROM {source_table} d JOIN mix_counts c USING (source) CROSS JOIN mix_tot t
),
mix_cop AS (
  SELECT doc_id, source,
         CAST(floor(rate) AS BIGINT)
           + (CASE WHEN bucket < floor((rate - floor(rate)) * 65536.0) THEN 1 ELSE 0 END) AS n_copies
  FROM mix_base
)"""


_MIX_SELECT = """SELECT doc_id, source, CAST(unnest(range(n_copies)) AS BIGINT) AS epoch
FROM mix_cop WHERE n_copies > 0"""


def _source_mix_oracle_sql() -> str:
    return f"""
WITH {_mix_ctes(_MIX_WEIGHTS, _MIX_FACTOR, _MIX_SEED, "documents")}
{_MIX_SELECT}
"""


_VOCAB_K = 50


def doc_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus vocabulary with term + document frequencies.

    Two-level skew-safe aggregation (hot tokens collapse to one row per
    document before the token-level shuffle) + TakeOrdered top-k with a
    deterministic (tf desc, token asc) tie-break — the tokenizer-fitting
    / stopword-derivation pass of a training pipeline
    (operators/vocab.py)."""
    from schemasaurus_spark.operators.vocab import vocab_topk

    return vocab_topk(_docs(spark, sf_dir).select("doc_id", "text"), _VOCAB_K)


_VOCAB_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
per_doc AS (
  SELECT token, doc_id, count(*) AS c
  FROM (SELECT doc_id, unnest(t) AS token FROM toks)
  GROUP BY token, doc_id
),
stats AS (SELECT token, sum(c) AS tf, count(*) AS df_docs FROM per_doc GROUP BY token)
SELECT CAST(row_number() OVER (ORDER BY tf DESC, token) AS INT) AS rank,
       token, CAST(tf AS BIGINT) AS tf, CAST(df_docs AS BIGINT) AS df_docs
FROM stats ORDER BY tf DESC, token LIMIT {_VOCAB_K}
"""


def doc_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF distinctive terms (vocab.distinctive_terms):
    group-level idf quantized once to the int64 micro grid — identical
    floor(ln(n/df)*1e6 + 0.5) parenthesization in both engines — so the
    score and the (score desc, token asc) rank are exact integers."""
    from schemasaurus_spark.operators.vocab import distinctive_terms

    return distinctive_terms(
        _docs(spark, sf_dir).select("doc_id", "text", "source"), k=10
    )


_DISTINCTIVE_ORACLE = r"""
WITH toks AS (
  SELECT source AS "group", unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> '' AND source IS NOT NULL
),
tf AS (SELECT "group", token, count(*) AS tf FROM toks GROUP BY 1, 2),
dfg AS (SELECT token, count(*) AS df_groups FROM tf GROUP BY 1),
ng AS (SELECT count(DISTINCT "group") AS n FROM tf),
scored AS (
  SELECT tf."group", tf.token, tf.tf, dfg.df_groups,
         tf.tf * CAST(floor(ln(CAST(ng.n AS DOUBLE) / CAST(dfg.df_groups AS DOUBLE))
                            * 1000000.0 + 0.5) AS BIGINT) AS score_micro
  FROM tf JOIN dfg USING (token), ng
)
SELECT "group", rank, token, CAST(tf AS BIGINT) AS tf,
       CAST(df_groups AS BIGINT) AS df_groups, score_micro
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY "group"
                                    ORDER BY score_micro DESC, token ASC) AS INT) AS rank
  FROM scored
)
WHERE rank <= 10
"""


def doc_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty over the shared tokenization (vocab.novelty_profile):
    fraction of a doc's distinct tokens that appear in NO other document —
    the boilerplate-vs-new-material ranking signal dedup can't give.  Two
    skew-safe aggregations + one vocabulary join (Zipf-bounded build
    side); distinct-token semantics so repeats can't fake novelty."""
    from schemasaurus_spark.operators.vocab import novelty_profile

    return novelty_profile(_docs(spark, sf_dir))


_NOVELTY_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
per_doc AS (
  SELECT DISTINCT doc_id, token
  FROM (SELECT doc_id, unnest(t) AS token FROM toks)
),
dfreq AS (SELECT token, count(*) AS df_docs FROM per_doc GROUP BY token)
SELECT p.doc_id,
       CAST(count(*) AS BIGINT) AS n_distinct_tokens,
       CAST(sum(CASE WHEN d.df_docs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(CAST(sum(CASE WHEN d.df_docs = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty
FROM per_doc p JOIN dfreq d USING (token)
GROUP BY p.doc_id
"""


def doc_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional documents<->embedding-store coverage audit
    (operators/coverage.py): one thin-row union + ONE key shuffle (no
    full-outer join, no per-side distinct pass) reduced to a single
    verdict row — row counts, distinct-key counts, shared/one-sided
    keys, NULL-key rows, and per-direction coverage rates."""
    from schemasaurus_spark.operators.coverage import coverage_report

    return coverage_report(
        _docs(spark, sf_dir),
        _table(spark, sf_dir, "embeddings"),
        "doc_id",
        right_key="vec_id",
    )


_COVERAGE_ORACLE = """
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS key, 1 AS lc, 0 AS rc FROM documents
  UNION ALL
  SELECT CAST(vec_id AS VARCHAR), 0, 1 FROM embeddings
),
pk AS (SELECT key, sum(lc) AS lc, sum(rc) AS rc FROM t GROUP BY key),
m AS (
  SELECT
    CAST(coalesce(sum(lc), 0) AS BIGINT) AS n_left,
    CAST(coalesce(sum(rc), 0) AS BIGINT) AS n_right,
    CAST(count(CASE WHEN key IS NOT NULL AND lc > 0 THEN 1 END) AS BIGINT)
      AS n_left_keys,
    CAST(count(CASE WHEN key IS NOT NULL AND rc > 0 THEN 1 END) AS BIGINT)
      AS n_right_keys,
    CAST(count(CASE WHEN key IS NOT NULL AND lc > 0 AND rc > 0 THEN 1 END)
      AS BIGINT) AS n_shared_keys,
    CAST(count(CASE WHEN key IS NOT NULL AND lc > 0 AND rc = 0 THEN 1 END)
      AS BIGINT) AS n_left_only_keys,
    CAST(count(CASE WHEN key IS NOT NULL AND lc = 0 AND rc > 0 THEN 1 END)
      AS BIGINT) AS n_right_only_keys,
    CAST(coalesce(sum(CASE WHEN key IS NULL THEN lc END), 0) AS BIGINT)
      AS n_left_null_rows,
    CAST(coalesce(sum(CASE WHEN key IS NULL THEN rc END), 0) AS BIGINT)
      AS n_right_null_rows
  FROM pk)
SELECT m.*,
       CASE WHEN n_left_keys > 0
            THEN CAST(n_shared_keys AS DOUBLE) / n_left_keys END
         AS left_coverage,
       CASE WHEN n_right_keys > 0
            THEN CAST(n_shared_keys AS DOUBLE) / n_right_keys END
         AS right_coverage
FROM m
"""


def doc_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rule gate (operators/quality_gate.py): the
    corpus-level counterpart of the reference's per-document schema walk —
    8 rules (row counts, null rates, cardinalities, bounds, means,
    uniqueness-as-a-ratio) evaluated in ONE map-side-combinable aggregate
    scan, duplicate metric references deduped, NULL metrics failing
    closed.  Thresholds are rate/ratio-based so the suite's verdicts are
    identical at every scale factor; two rules fail by design so both
    branches of the gate are exercised."""
    from schemasaurus_spark.operators.quality_gate import QualityRule, quality_gate

    rules = [
        QualityRule("rows_min", "row_count", "ge", 100),
        QualityRule("text_not_null", "null_rate", "le", 0.0, column="text"),
        QualityRule(
            "lang_card", "distinct_count", "between", 3, column="lang", threshold_hi=10
        ),
        QualityRule("doc_id_unique", "distinct_ratio", "ge", 1.0, column="doc_id"),
        QualityRule("n_chars_min", "min", "ge", 0, column="n_chars"),
        QualityRule("n_chars_mean_cap", "mean", "le", 200, column="n_chars"),
        QualityRule("source_card_cap", "distinct_count", "le", 10, column="source"),
        QualityRule("text_len_cap", "max_length", "le", 4096, column="text"),
    ]
    return quality_gate(_docs(spark, sf_dir), rules)


_GATE_ORACLE = """
WITH m AS (
  SELECT CAST(count(*) AS DOUBLE) AS rc,
         CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS text_nr,
         CAST(count(DISTINCT lang) AS DOUBLE) AS lang_dc,
         CAST(count(DISTINCT doc_id) AS DOUBLE) / count(*) AS did_dr,
         CAST(min(n_chars) AS DOUBLE) AS nc_min,
         CAST(sum(n_chars) AS DOUBLE) / count(n_chars) AS nc_mean,
         CAST(count(DISTINCT source) AS DOUBLE) AS src_dc,
         CAST(max(length(text)) AS DOUBLE) AS tx_maxlen
  FROM documents)
SELECT 'rows_min' AS rule_id, CAST(NULL AS VARCHAR) AS "column",
       'row_count' AS metric, 'ge' AS op, CAST(100 AS DOUBLE) AS threshold,
       CAST(NULL AS DOUBLE) AS threshold_hi, rc AS value,
       coalesce(rc >= 100.0, FALSE) AS passed FROM m
UNION ALL
SELECT 'text_not_null', 'text', 'null_rate', 'le', CAST(0 AS DOUBLE),
       CAST(NULL AS DOUBLE), text_nr, coalesce(text_nr <= 0.0, FALSE) FROM m
UNION ALL
SELECT 'lang_card', 'lang', 'distinct_count', 'between', CAST(3 AS DOUBLE),
       CAST(10 AS DOUBLE), lang_dc,
       coalesce(lang_dc >= 3.0 AND lang_dc <= 10.0, FALSE) FROM m
UNION ALL
SELECT 'doc_id_unique', 'doc_id', 'distinct_ratio', 'ge', CAST(1 AS DOUBLE),
       CAST(NULL AS DOUBLE), did_dr, coalesce(did_dr >= 1.0, FALSE) FROM m
UNION ALL
SELECT 'n_chars_min', 'n_chars', 'min', 'ge', CAST(0 AS DOUBLE),
       CAST(NULL AS DOUBLE), nc_min, coalesce(nc_min >= 0.0, FALSE) FROM m
UNION ALL
SELECT 'n_chars_mean_cap', 'n_chars', 'mean', 'le', CAST(200 AS DOUBLE),
       CAST(NULL AS DOUBLE), nc_mean, coalesce(nc_mean <= 200.0, FALSE) FROM m
UNION ALL
SELECT 'source_card_cap', 'source', 'distinct_count', 'le', CAST(10 AS DOUBLE),
       CAST(NULL AS DOUBLE), src_dc, coalesce(src_dc <= 10.0, FALSE) FROM m
UNION ALL
SELECT 'text_len_cap', 'text', 'max_length', 'le', CAST(4096 AS DOUBLE),
       CAST(NULL AS DOUBLE), tx_maxlen, coalesce(tx_maxlen <= 4096.0, FALSE) FROM m
"""


_CHUNK_WINDOW, _CHUNK_OVERLAP = 32, 8
_CHUNK_STRIDE = _CHUNK_WINDOW - _CHUNK_OVERLAP


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window document chunking (the splitter step of training /
    retrieval pipelines): sliding 32-token windows advancing by 24, so
    consecutive chunks share 8 tokens of context.  One scan, JVM-side
    sequence/slice projections, no shuffle (operators/chunking.py)."""
    from schemasaurus_spark.operators.chunking import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir).select("doc_id", "text"),
        window=_CHUNK_WINDOW,
        overlap=_CHUNK_OVERLAP,
    )


_CHUNK_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
chunks AS (
  SELECT doc_id, t,
         unnest(generate_series(0, CAST(floor((len(t) - 1) / {_CHUNK_STRIDE}) AS BIGINT))) AS chunk_id
  FROM toks
),
pieces AS (
  SELECT doc_id, chunk_id,
         list_slice(t, chunk_id * {_CHUNK_STRIDE} + 1,
                    chunk_id * {_CHUNK_STRIDE} + {_CHUNK_WINDOW}) AS piece
  FROM chunks
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * {_CHUNK_STRIDE} AS BIGINT) AS start_tok,
       CAST(len(piece) AS BIGINT) AS n_tok,
       array_to_string(piece, ' ') AS chunk_text
FROM pieces
"""


def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-aware quality score: mean log-probability of each
    document under a char-trigram LM fitted on the corpus itself
    (operators/lm.py — CCNet-style perplexity filtering without an
    external model).  Model table is bounded by charset^3 regardless of
    corpus size, so scoring is one scan + broadcast join."""
    from schemasaurus_spark.operators.lm import lm_quality_score

    return lm_quality_score(_docs(spark, sf_dir).select("doc_id", "text"))


_LM_ORACLE = r"""
WITH norm AS (
  SELECT doc_id, lower(trim(text)) AS t FROM documents
  WHERE text IS NOT NULL AND length(lower(trim(text))) >= 3
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, length(t) - 2), i -> substr(t, i, 3))) AS gram
  FROM norm
),
model AS (SELECT gram, count(*) AS cnt FROM grams GROUP BY gram),
tot AS (SELECT sum(cnt) AS total FROM model)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       round(avg(ln(CAST(m.cnt AS DOUBLE) / CAST(t.total AS DOUBLE))), 6) AS avg_logp
FROM grams g JOIN model m USING (gram) CROSS JOIN tot t
GROUP BY g.doc_id
"""


def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs.

    Signatures use md5-derived universal hashing (dedup.py scheme note), so
    the ENTIRE pipeline — shingles, 32 permutation minhashes, 8-band
    blocking, candidate join, exact-Jaccard verify — is reproduced
    bit-for-bit by the DuckDB oracle below.  The oracle mirrors the
    uncollapsed pipeline; the exact-dup pre-collapse + re-expansion in the
    operator is semantics-preserving (identical fingerprints imply
    identical shingle sets; proven by test_lsh_exact_dup_collapse_and_
    expand), and the testdata corpus has no oversize buckets, so the
    bucket cap does not fire."""
    return minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.5)


def _minhash_sig_ctes(source: str = "documents") -> str:
    """CTE chain ending in ``sig(doc_id, sig, dsh)`` + ``bandrows(doc_id,
    band, bhash)`` — the signature/banding prefix shared by the pair
    oracle (below) and the incremental batch-vs-corpus oracle (which pairs
    bandrows ACROSS a split instead of within it)."""
    from schemasaurus_spark.operators.dedup import MINHASH_P, minhash_params

    sig_terms = ",\n         ".join(
        f"list_min(list_transform(hh, h -> ({a}*h + {b}) % {MINHASH_P}))"
        for a, b in minhash_params(32)
    )
    bhash = ", ".join(f"CAST(sig[4*t.b+{i}] AS VARCHAR)" for i in range(1, 5))
    return f"""norm AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
  FROM {source} WHERE text IS NOT NULL
),
sh AS (
  SELECT doc_id,
         CASE WHEN length(t) < 5 THEN [t]
              ELSE list_transform(generate_series(1, length(t) - 4), i -> substr(t, i, 5))
         END AS shingles
  FROM norm
),
hs AS (
  SELECT doc_id,
         list_transform(shingles, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {MINHASH_P}) AS hh,
         list_distinct(shingles) AS dsh
  FROM sh
),
sig AS (
  SELECT doc_id,
         [{sig_terms}] AS sig,
         dsh
  FROM hs
),
bandrows AS (
  SELECT doc_id, t.b AS band, concat_ws(',', {bhash}) AS bhash
  FROM sig, generate_series(0, 7) AS t(b)
)"""


def _minhash_pair_ctes(source: str = "documents") -> str:
    """CTE chain ending in ``scored(id_a, id_b, jaccard)`` — shared by the
    pair oracle, the connected-components oracle, and the training-corpus
    pipeline oracle (which feeds it a filtered CTE instead of the raw
    table)."""
    return f"""{_minhash_sig_ctes(source)},
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM bandrows a JOIN bandrows c ON a.band = c.band AND a.bhash = c.bhash
  WHERE a.doc_id < c.doc_id
),
scored AS (
  SELECT id_a, id_b,
         round(CAST(len(list_intersect(x.dsh, y.dsh)) AS DOUBLE)
               / (len(x.dsh) + len(y.dsh) - len(list_intersect(x.dsh, y.dsh))), 6) AS jaccard
  FROM cands
  JOIN sig x ON x.doc_id = cands.id_a
  JOIN sig y ON y.doc_id = cands.id_b
)"""


def _minhash_oracle_sql() -> str:
    return (
        f"WITH {_minhash_pair_ctes()}\n"
        "SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5"
    )


def doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (daily-ingest) near-dedup: a 20% md5-split "new batch"
    against the LSH band index of the other 80% "historical corpus" —
    cross pairs only, never a corpus self-join.  The split is
    deterministic (doc_id mod 5) so the oracle reproduces it exactly; the
    operator path exercises minhash_band_index + the batch-vs-index
    equi-join + the semi-join-pruned exact-Jaccard verify
    (dedup.incremental_near_duplicates)."""
    from schemasaurus_spark.operators.dedup import incremental_near_duplicates

    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    return incremental_near_duplicates(batch, corpus, threshold=0.5)


def _incremental_dedup_oracle_sql() -> str:
    return f"""WITH {_minhash_sig_ctes()},
cross_cands AS (
  SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
  FROM bandrows b JOIN bandrows c ON b.band = c.band AND b.bhash = c.bhash
  WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
),
cross_scored AS (
  SELECT batch_id, corpus_id,
         round(CAST(len(list_intersect(x.dsh, y.dsh)) AS DOUBLE)
               / (len(x.dsh) + len(y.dsh) - len(list_intersect(x.dsh, y.dsh))), 6) AS jaccard
  FROM cross_cands
  JOIN sig x ON x.doc_id = cross_cands.batch_id
  JOIN sig y ON y.doc_id = cross_cands.corpus_id
)
SELECT batch_id, corpus_id, jaccard FROM cross_scored WHERE jaccard >= 0.5"""


_BM25_TERMS = ["table", "window", "hash", "customer"]


def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (operators/retrieval.py): top-10 docs per
    probe term with tf/dl/df side-channels, rank, and the rounded score.
    One corpus pass, query-term-filtered explode (the exchange carries
    only matches), broadcast stats/df joins, WindowGroupLimit top-k; the
    oracle is generated from the SAME constants via bm25_oracle_sql so
    the float arithmetic is bit-identical (module docstring)."""
    from schemasaurus_spark.operators.retrieval import bm25_topk_per_term

    return bm25_topk_per_term(_docs(spark, sf_dir), _BM25_TERMS, k=10)


def _bm25_oracle_sql() -> str:
    from schemasaurus_spark.operators.retrieval import bm25_oracle_sql

    return bm25_oracle_sql(_BM25_TERMS, k=10)


def doc_bloom_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered EXACT novelty check (operators/bloom.py): which
    docs of an ingest batch are not already in the corpus.  The batch is
    a doc_id%5 slice of the table with every 5th slice member rewritten
    to planted-novel text — so BOTH branches are non-vacuous: ~80% of the
    batch is present in the corpus (flows through the bloom 'maybe' +
    exact-verify path), ~20% is genuinely novel (mostly rejected by the
    bloom outright).  The result provably equals the plain anti-join the
    oracle replays (NOT EXISTS); the bloom only removes the corpus
    shuffle (build = zero-shuffle treeAggregate of per-partition bitmaps,
    verify = broadcast semi-join, corpus scanned map-side only)."""
    from schemasaurus_spark.operators.bloom import bloom_novel_docs

    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(
            (F.col("doc_id") % 25 == 0) & F.col("text").isNotNull(),
            F.concat(
                F.lit("novel "), F.col("doc_id").cast("string"), F.lit(" "), F.col("text")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return bloom_novel_docs(batch, docs, n_bits=1 << 20, n_hashes=5)


_BLOOM_NOVELTY_ORACLE = r"""
WITH b AS (
  SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN doc_id % 25 = 0 AND text IS NOT NULL
              THEN concat('novel ', CAST(doc_id AS VARCHAR), ' ', text)
              ELSE text END AS text
  FROM documents WHERE doc_id % 5 = 0
),
bf AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
  FROM b
),
cf AS (
  SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
  FROM documents
)
SELECT doc_id, fingerprint FROM bf
WHERE NOT EXISTS (SELECT 1 FROM cf WHERE cf.fingerprint = bf.fingerprint)
"""


def doc_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (the no-approximation tier of
    the dedup family: MinHash estimates this number; this computes it).
    Shared-shingle join, so only pairs with at least one common 8-gram are
    ever scored — selective shingles keep the join sparse; LSH is the
    scale path when they aren't.  Output is integers only (intersection /
    union sizes); the threshold compares in exact integer arithmetic, so
    the cross-engine hash never touches a rounded double."""
    from schemasaurus_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), shingle_k=8, min_jaccard=0.8
    ).select("id_a", "id_b", "n_common", "n_union")


_NGRAM_JACCARD_ORACLE = r"""
WITH norm AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
  FROM documents WHERE text IS NOT NULL
),
sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN length(t) < 8 THEN [t]
                ELSE list_transform(generate_series(1, length(t) - 7), i -> substr(t, i, 8))
           END
         ) AS dsh
  FROM norm
),
e AS (SELECT doc_id, unnest(dsh) AS s FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sized AS (
  SELECT id_a, id_b, n_common,
         len(x.dsh) + len(y.dsh) - n_common AS n_union
  FROM common
  JOIN sh x ON x.doc_id = common.id_a
  JOIN sh y ON y.doc_id = common.id_b
)
SELECT id_a, id_b, n_common, n_union FROM sized
WHERE n_common >= 0.8 * n_union
"""


def doc_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash pairs -> connected components ->
    (doc_id, comp_id, comp_size, is_canonical).

    The grouping step a training pipeline runs after pair generation:
    transitively-connected near-dups become one cluster, the minimum
    member id is the cluster id AND the canonical-document choice
    (deterministic, engine-portable).  Components run alternating
    large-star/small-star (dedup.py): O(log n) rounds of keyed
    groupBy-min + one-row-per-key joins, no neighbor-list collection —
    the same pair graph at 10^12 docs clusters without a hot reducer.
    The oracle reproduces the full chain in SQL: the bit-exact MinHash
    pair CTEs feed a recursive reachability CTE whose min-reachable-id
    equals the component minimum."""
    from schemasaurus_spark.operators.dedup import (
        duplicate_components,
        minhash_near_duplicates,
    )

    pairs = minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.5)
    return duplicate_components(pairs).select(
        F.col("id").alias("doc_id"), "comp_id", "comp_size", "is_canonical"
    )


def _components_oracle_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_pair_ctes()},
pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.5),
und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(id, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und) AS n(u)
  UNION
  SELECT und.u, reach.r FROM und JOIN reach ON reach.id = und.v
),
comp AS (SELECT id AS doc_id, min(r) AS comp_id FROM reach GROUP BY id)
SELECT doc_id, comp_id,
       count(*) OVER (PARTITION BY comp_id) AS comp_size,
       (doc_id = comp_id) AS is_canonical
FROM comp
"""


def doc_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental component maintenance: the MinHash pair graph split into a
    'historical' half (both endpoints even doc_ids -> clustered into an
    assignment up front) and an 'ingest' half (every pair touching an odd
    doc_id), merged by ``incremental_components`` — endpoint-root lookup +
    root-level reduced CC + broadcast relabel, the assignment streamed and
    never shuffled (dedup.py).  The min-id labeling makes the incremental
    answer provably bit-identical to re-clustering the union graph, so the
    oracle is the SAME recursive reachability CTE as doc_dup_components:
    the incremental path must reproduce the from-scratch labels."""
    from schemasaurus_spark.operators.dedup import (
        connected_components,
        incremental_components,
        minhash_near_duplicates,
    )

    pairs = minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.5)
    pairs = pairs.localCheckpoint(eager=True)  # two branches below; LSH runs once
    even = (F.col("id_a") % 2 == 0) & (F.col("id_b") % 2 == 0)
    assignment = connected_components(pairs.where(even)).localCheckpoint(eager=True)
    merged = incremental_components(assignment, pairs.where(~even))
    return merged.select(F.col("id").alias("doc_id"), "comp_id")


def _incremental_components_oracle_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_pair_ctes()},
pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.5),
und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(id, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und) AS n(u)
  UNION
  SELECT und.u, reach.r FROM und JOIN reach ON reach.id = und.v
)
SELECT id AS doc_id, min(r) AS comp_id FROM reach GROUP BY id
"""


_TC_QUALITY_MIN = 0.35
_TC_FRACTIONS = {"en": 0.6, "de": 0.4}
_TC_DEFAULT = 0.8
_TC_SEED = 11


def doc_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline (plans/pipeline.py): validate ->
    quality filter -> exact dedup -> MinHash-components near-dedup ->
    stratified sample, as ONE lazy plan.

    Every stage is deterministic and md5-derived, so the oracle replays
    the entire pipeline in SQL: the violation + quality CTEs filter the
    corpus, a window keeps min-id per fingerprint, the (source-
    parameterized) MinHash pair CTEs + recursive reachability drop
    non-canonical cluster members, and the md5-bucket CASE applies the
    stratified thresholds.  A drift anywhere in the five stages — or in
    their COMPOSITION ORDER — breaks the hash."""
    from schemasaurus_spark.plans.pipeline import CorpusPipeline

    pipe = CorpusPipeline(
        schema=FLAT_DOC_SCHEMA,
        quality_min=_TC_QUALITY_MIN,
        minhash_threshold=0.5,
        sample_fractions=_TC_FRACTIONS,
        sample_default=_TC_DEFAULT,
        sample_seed=_TC_SEED,
    )
    return pipe.run(_docs(spark, sf_dir)).select("doc_id", "lang", "quality")


def _training_corpus_oracle_sql() -> str:
    ctes, where = _training_corpus_ctes()
    return f"""
WITH RECURSIVE
{ctes}
SELECT doc_id, lang, quality FROM survivors
WHERE {where}
"""


def _training_corpus_ctes() -> tuple[str, str]:
    """The five-stage pipeline as a reusable (CTE block, sampling WHERE
    clause) pair — shared by the five-stage oracle and the mixed-corpus
    oracle that composes mixture assembly on top of it."""
    from schemasaurus_spark.operators.sampling import _keep_threshold

    whens = " ".join(
        f"WHEN '{v}' THEN {_keep_threshold(f)}"
        for v, f in sorted(_TC_FRACTIONS.items())
    )
    where = f"""CAST(('0x' || substr(md5(doc_id || ':{_TC_SEED}'), 1, 4)) AS INTEGER)
      < CASE lang {whens} ELSE {_keep_threshold(_TC_DEFAULT)} END"""
    ctes = f"""viol AS ({_VALIDATION_ORACLE}),
qual AS ({_QUALITY_ORACLE}),
valid_docs AS (
  SELECT d.* FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM viol)
),
good AS (
  SELECT v.*, q.quality FROM valid_docs v JOIN qual q USING (doc_id)
  WHERE q.quality >= {_TC_QUALITY_MIN}
),
exact_kept AS (
  SELECT * EXCLUDE (keep_id) FROM (
    SELECT g.*,
           min(doc_id) OVER (
             PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
           ) AS keep_id
    FROM good g)
  WHERE doc_id = keep_id
),
{_minhash_pair_ctes(source="exact_kept")},
pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.5),
und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(id, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und) AS n(u)
  UNION
  SELECT und.u, reach.r FROM und JOIN reach ON reach.id = und.v
),
comp AS (SELECT id AS doc_id, min(r) AS comp_id FROM reach GROUP BY id),
losers AS (SELECT doc_id FROM comp WHERE doc_id <> comp_id),
survivors AS (
  SELECT * FROM exact_kept WHERE doc_id NOT IN (SELECT doc_id FROM losers)
)"""
    return ctes, where


_MIXC_WEIGHTS = {"src0": 0.4, "src2": 0.35, "src5": 0.25}
_MIXC_FACTOR = 1.5


def doc_mixed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SIX-stage composed pipeline: the full five-stage curation of
    ``doc_training_corpus`` plus target-weighted mixture assembly over
    the curated survivors (rates derived from the CURATED counts, with
    upsampling — budget 1.5x the curated corpus across three target
    sources).  The oracle wraps the five-stage CTE chain as a ``curated``
    set and replays the mixing arithmetic on top, so a drift in ANY stage
    or in the composition order breaks the hash."""
    from schemasaurus_spark.plans.pipeline import CorpusPipeline

    pipe = CorpusPipeline(
        schema=FLAT_DOC_SCHEMA,
        quality_min=_TC_QUALITY_MIN,
        minhash_threshold=0.5,
        sample_fractions=_TC_FRACTIONS,
        sample_default=_TC_DEFAULT,
        sample_seed=_TC_SEED,
        mix_weights=_MIXC_WEIGHTS,
        mix_budget_factor=_MIXC_FACTOR,
    )
    return pipe.run(_docs(spark, sf_dir)).select("doc_id", "source", "epoch")


def _mixed_corpus_oracle_sql() -> str:
    ctes, where = _training_corpus_ctes()
    return f"""
WITH RECURSIVE
{ctes},
curated AS (SELECT doc_id, source FROM survivors WHERE {where}),
{_mix_ctes(_MIXC_WEIGHTS, _MIXC_FACTOR, 0, "curated")}
{_MIX_SELECT}
"""


def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-radius pairs.

    Radius 3 -> 4x16-bit bands (derived inside the operator; pigeonhole
    guarantees every pair within the radius shares an intact band — no
    silent recall loss).  Token hashes are md5-derived, so the oracle
    rebuilds the 64-bit majority-vote signatures with HUGEINT arithmetic
    and mirrors banding + Hamming filtering in SQL.  Like the MinHash
    oracle it mirrors the uncollapsed pipeline (identical fingerprints
    imply identical token sequences, so collapse+expand is semantics-
    preserving; the test corpus has no exact dups or oversize buckets)."""
    return simhash_near_duplicates(_docs(spark, sf_dir), max_hamming=3)


def _simhash_oracle_sql() -> str:
    # 64 per-bit majority votes; bit b of the signature is 1 when the sum of
    # (+1 / -1) over token-hash bits is positive — exactly the UDF's numpy
    # accumulation.  usig is the unsigned value; sig its two's-complement
    # BIGINT reinterpretation (matches Spark's LongType view).
    vote = (
        "CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h // {p}) % 2 = 1 "
        "THEN 1 ELSE -1 END)) > 0 THEN CAST('{p}' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END"
    )
    sig_sum = "\n       + ".join(vote.format(p=1 << b) for b in range(64))
    return f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
),
th AS (
  SELECT doc_id, list_transform(toks, t -> CAST(('0x' || substr(md5(t), 1, 16)) AS UBIGINT)) AS hs
  FROM tok
),
sigs AS (
  SELECT doc_id,
         CASE WHEN len(hs) = 0 THEN CAST(0 AS HUGEINT) ELSE
       {sig_sum}
         END AS usig
  FROM th
),
s2 AS (
  SELECT doc_id, usig,
         CAST(CASE WHEN usig >= CAST('9223372036854775808' AS HUGEINT)
                   THEN usig - CAST('18446744073709551616' AS HUGEINT)
                   ELSE usig END AS BIGINT) AS sig
  FROM sigs
),
bandrows AS (
  SELECT doc_id, bd.b AS band, CAST((usig // bd.dv) % 65536 AS BIGINT) AS bhash, sig
  FROM s2, (VALUES (0, CAST(1 AS HUGEINT)), (1, CAST(65536 AS HUGEINT)),
                   (2, CAST(4294967296 AS HUGEINT)), (3, CAST(281474976710656 AS HUGEINT))) AS bd(b, dv)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
         CAST(bit_count(xor(a.sig, c.sig)) AS INTEGER) AS hamming
  FROM bandrows a JOIN bandrows c ON a.band = c.band AND a.bhash = c.bhash
  WHERE a.doc_id < c.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
"""


def media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: mapInPandas feature extraction over opaque
    binary payloads.  The decode kernel is a declared deterministic stub
    (no image libs in this container) — which makes the whole pipeline,
    synth table included, SQL-expressible: the oracle rebuilds the sha256
    payload bytes and the stub's byte-sum luma from generate_series."""
    return extract_image_features(synth_media_table(spark, 200))


_MEDIA_FEATURES_ORACLE = """
WITH m AS (
  SELECT t.i AS id,
         'media://img/' || CAST(t.i AS VARCHAR) AS media_ref,
         sha256(concat('42', CAST(t.i AS VARCHAR))) AS hex
  FROM generate_series(0, 199) AS t(i)
),
s AS (
  SELECT id, media_ref,
         list_sum(list_transform(generate_series(1, 64), j -> ascii(substr(hex, j, 1)))) AS ssum
  FROM m
)
SELECT media_ref,
       CAST(id % 64 + 16 AS INTEGER) AS width,
       CAST(id % 48 + 16 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       round((ssum % 2560) / 10.0, 4) AS mean_luma
FROM s
"""


def media_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode path: executor-side PNG ENCODE of deterministic
    gradient pixels (pure zlib+numpy codec, operators/png.py) followed by
    the production DECODE kernel extracting dimensions + exact integer
    luma sum.  The oracle never touches the bytes — it recomputes the
    expected sums from the closed-form pixel formula in SQL, so a decoder
    bug (filter reconstruction, stride, channel order) hash-mismatches."""
    from schemasaurus_spark.operators.media import (
        extract_png_features,
        synth_png_media_table,
    )

    return extract_png_features(synth_png_media_table(spark, 200, seed=42))


def media_png_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image RESIZE path (operators/media.py resize_png_thumbnails):
    decode the synthetic PNGs with the production kernel, box-average
    4x-downsample in exact integer arithmetic (block sum DIV 16), emit
    per-image thumbnail luma sums.  The oracle never decodes — it
    enumerates every (thumb pixel, block offset) of the closed-form
    gradient in SQL and replays the same floor division, so a resize bug
    (block alignment, crop edge, channel order) hash-mismatches."""
    from schemasaurus_spark.operators.media import (
        resize_png_thumbnails,
        synth_png_media_table,
    )

    return resize_png_thumbnails(
        synth_png_media_table(spark, 200, seed=42), factor=4
    )


_MEDIA_PNG_THUMB_ORACLE = """
WITH dims AS (
  SELECT i AS id, CAST(i % 24 + 16 AS INT) AS w, CAST(i % 16 + 16 AS INT) AS h
  FROM range(0, 200) t(i)
),
d2 AS (SELECT id, w, h, w // 4 AS tw, h // 4 AS th FROM dims),
blocks AS (
  SELECT d.id, d.w, d.h, d.tw, d.th, y.y, x.x, c.c,
         SUM((d.id * 7 + (y.y * 4 + di.di) * 5 + (x.x * 4 + dj.dj) * 3
              + c.c * 11 + 42) % 256) // 16 AS tv
  FROM d2 d
  JOIN range(0, 8) y(y) ON y.y < d.th
  JOIN range(0, 10) x(x) ON x.x < d.tw
  JOIN range(0, 3) c(c) ON TRUE
  JOIN range(0, 4) di(di) ON TRUE
  JOIN range(0, 4) dj(dj) ON TRUE
  GROUP BY d.id, d.w, d.h, d.tw, d.th, y.y, x.x, c.c
)
SELECT 'media://png/' || CAST(id AS VARCHAR) AS media_ref,
       w AS width, h AS height, CAST(4 AS INT) AS factor,
       CAST(tw AS INT) AS thumb_w, CAST(th AS INT) AS thumb_h,
       CAST(SUM(tv) AS BIGINT) AS thumb_luma_sum
FROM blocks GROUP BY id, w, h, tw, th
"""


# pixel(id,i,j,c) = (id*7 + i*5 + j*3 + c*11 + 42) % 256 over h=id%16+16
# rows, w=id%24+16 cols, 3 channels — enumerated and summed in SQL
_MEDIA_PNG_ORACLE = """
WITH dims AS (
  SELECT t.i AS id,
         t.i % 24 + 16 AS w,
         t.i % 16 + 16 AS h
  FROM generate_series(0, 199) AS t(i)
),
px AS (
  SELECT d.id, d.w, d.h,
         CAST(sum((d.id*7 + i.v*5 + j.v*3 + c.v*11 + 42) % 256) AS BIGINT) AS luma_sum
  FROM dims d
  JOIN generate_series(0, 31) AS i(v) ON i.v < d.h
  JOIN generate_series(0, 39) AS j(v) ON j.v < d.w
  JOIN generate_series(0, 2) AS c(v) ON true
  GROUP BY d.id, d.w, d.h
)
SELECT 'media://png/' || CAST(id AS VARCHAR) AS media_ref,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       luma_sum,
       CAST(luma_sum AS DOUBLE) / (w * h * 3) AS mean_luma
FROM px
"""


def media_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode path (round-4, closes the audio stub): executor-
    side WAV ENCODE of deterministic closed-form PCM samples (stdlib
    ``wave`` codec, operators/wav.py) followed by the production DECODE
    kernel extracting rate/shape + exact int64 sample sums.  The oracle
    never touches the bytes — it recomputes the expected sums from the
    sample formula in SQL, so a decoder bug (endianness, interleave,
    channel count) hash-mismatches."""
    from schemasaurus_spark.operators.media import (
        extract_wav_features,
        synth_wav_media_table,
    )

    return extract_wav_features(synth_wav_media_table(spark, 200, seed=42))


# sample(id,t,c) = (id*31 + t*17 + c*7 + 42) % 65536 - 32768 over
# n = id%256+64 frames, ch = id%2+1 channels — enumerated and summed in SQL
_MEDIA_WAV_ORACLE = """
WITH dims AS (
  SELECT t.i AS id,
         t.i % 256 + 64 AS n,
         t.i % 2 + 1 AS ch,
         8000 + (t.i % 4) * 4000 AS rate
  FROM generate_series(0, 199) AS t(i)
),
s AS (
  SELECT d.id, d.n, d.ch, d.rate,
         CAST(sum((d.id*31 + t.v*17 + c.v*7 + 42) % 65536 - 32768) AS BIGINT)
             AS sample_sum,
         CAST(sum(abs((d.id*31 + t.v*17 + c.v*7 + 42) % 65536 - 32768)) AS BIGINT)
             AS abs_sum
  FROM dims d
  JOIN generate_series(0, 319) AS t(v) ON t.v < d.n
  JOIN generate_series(0, 1) AS c(v) ON c.v < d.ch
  GROUP BY d.id, d.n, d.ch, d.rate
)
SELECT 'media://wav/' || CAST(id AS VARCHAR) AS media_ref,
       CAST(rate AS INTEGER) AS sample_rate,
       CAST(ch AS INTEGER) AS n_channels,
       CAST(n AS BIGINT) AS n_samples,
       sample_sum,
       abs_sum,
       CAST(sample_sum AS DOUBLE) / (n * ch) AS mean_sample
FROM s
"""


def doc_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (Lee et al., ACL 2022): maximal token spans
    whose 8-token windows repeat anywhere in the corpus.  Engine keys
    windows by xxhash64 (thin int64 shuffle rows); the oracle replays the
    pipeline grouping by the RAW window string — no hashing — so it
    independently confirms the hashed plan's spans."""
    from schemasaurus_spark.operators.substring_dedup import (
        substring_duplicate_spans,
    )

    return substring_duplicate_spans(
        _docs(spark, sf_dir), window=8, min_count=2
    )


_SUBSTRING_DUP_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
win AS (
  SELECT toks.doc_id, u.i - 1 AS pos,
         array_to_string(t[u.i:u.i+7], ' ') AS wstr
  FROM toks
  JOIN generate_series(1, 512) AS u(i) ON u.i <= len(t) - 7
),
rep AS (SELECT wstr FROM win GROUP BY wstr HAVING count(*) >= 2),
cov AS (SELECT w.doc_id, w.pos FROM win w JOIN rep r ON w.wstr = r.wstr),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(max(pos + 8) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_isl
  FROM cov
),
isl2 AS (
  SELECT doc_id, pos, sum(new_isl) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 8 AS BIGINT) AS span_end,
       CAST(max(pos) + 8 - min(pos) AS BIGINT) AS n_tokens
FROM isl2 GROUP BY doc_id, island
"""


def doc_passage_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal step of exact substring dedup: every token inside a
    duplicated span is dropped and the cleaned corpus returned (Lee et
    al. 2022 'drop all copies' setting).  Oracle replays spans grouping
    by RAW window strings, expands them to covered positions, and
    re-joins the surviving tokens — fully hash-free."""
    from schemasaurus_spark.operators.substring_dedup import (
        remove_duplicate_passages,
    )

    return remove_duplicate_passages(_docs(spark, sf_dir), window=8, min_count=2)


_PASSAGE_REMOVAL_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
win AS (
  SELECT toks.doc_id, u.i - 1 AS pos,
         array_to_string(t[u.i:u.i+7], ' ') AS wstr
  FROM toks
  JOIN generate_series(1, 512) AS u(i) ON u.i <= len(t) - 7
),
rep AS (SELECT wstr FROM win GROUP BY wstr HAVING count(*) >= 2),
cov AS (SELECT w.doc_id, w.pos FROM win w JOIN rep r ON w.wstr = r.wstr),
covpos AS (
  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 7)) AS p FROM cov
),
tokpos AS (
  SELECT toks.doc_id, u.i - 1 AS p, t[u.i] AS tok
  FROM toks JOIN generate_series(1, 512) AS u(i) ON u.i <= len(t)
),
clean AS (
  SELECT tp.doc_id, tp.p, tp.tok
  FROM tokpos tp LEFT JOIN covpos c ON tp.doc_id = c.doc_id AND tp.p = c.p
  WHERE c.p IS NULL
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY p) AS clean_text
  FROM clean GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(a.clean_text, '') AS clean_text
FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
"""


def media_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs (operators/phash.py): REAL PNG
    decode → exact-integer aHash → pigeonhole-complete banded join →
    in-plan bit_count verify.  150 gradient images + 30 planted
    near-variants (same pixels +1 via seed 43) guarantee true positives;
    the oracle recomputes every hash from the closed-form pixel formula
    in pure SQL and brute-forces all pairs — a decoder, block-geometry,
    bit-order, or banding bug all hash-mismatch."""
    from schemasaurus_spark.operators.media import synth_png_media_table
    from schemasaurus_spark.operators.phash import phash_near_dups

    base = synth_png_media_table(spark, 150, seed=42)
    variants = synth_png_media_table(
        spark, 30, seed=43, ref_prefix="media://png-v/"
    )
    return phash_near_dups(base.unionByName(variants), max_hamming=4)


_MEDIA_PHASH_ORACLE = """
WITH imgs AS (
  SELECT 'media://png/' || CAST(t.i AS VARCHAR) AS media_ref, t.i AS id,
         42 AS cst, t.i % 24 + 16 AS w, t.i % 16 + 16 AS h
  FROM generate_series(0, 149) AS t(i)
  UNION ALL
  SELECT 'media://png-v/' || CAST(t.i AS VARCHAR), t.i, 43,
         t.i % 24 + 16, t.i % 16 + 16
  FROM generate_series(0, 29) AS t(i)
),
px AS (
  SELECT m.media_ref,
         (8 * i.v) // m.h AS bi, (8 * j.v) // m.w AS bj,
         (m.id*7 + i.v*5 + j.v*3 + m.cst) % 256
         + (m.id*7 + i.v*5 + j.v*3 + 11 + m.cst) % 256
         + (m.id*7 + i.v*5 + j.v*3 + 22 + m.cst) % 256 AS luma
  FROM imgs m
  JOIN generate_series(0, 31) AS i(v) ON i.v < m.h
  JOIN generate_series(0, 39) AS j(v) ON j.v < m.w
),
blocks AS (
  SELECT media_ref, bi, bj, sum(luma) AS bs, count(*) AS bn
  FROM px GROUP BY 1, 2, 3
),
tot AS (SELECT media_ref, sum(bs) AS total, sum(bn) AS npx FROM blocks GROUP BY 1),
bits AS (
  SELECT b.media_ref,
         CASE WHEN b.bs * t.npx >= t.total * b.bn THEN 1 ELSE 0 END AS bit,
         63 - (b.bi * 8 + b.bj) AS pos
  FROM blocks b JOIN tot t USING (media_ref)
),
hv AS (
  SELECT media_ref,
         sum(CAST(bit AS HUGEINT) * (CAST(1 AS HUGEINT) << CAST(pos AS INTEGER))) AS uh
  FROM bits GROUP BY media_ref
),
hash AS (
  SELECT media_ref,
         CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
                   THEN uh - (CAST(1 AS HUGEINT) << 64)
                   ELSE uh END AS BIGINT) AS v
  FROM hv
),
pairs AS (
  SELECT a.media_ref AS ref_a, b.media_ref AS ref_b,
         bit_count(xor(a.v, b.v)) AS hamming
  FROM hash a JOIN hash b ON a.media_ref < b.media_ref
)
SELECT ref_a, ref_b, CAST(hamming AS INTEGER) AS hamming
FROM pairs WHERE hamming <= 4
"""


def doc_pseudonymized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-time pseudonymization (privacy.pseudonymize): the ``source``
    identifier replaced by a keyed sha2 surrogate — deterministic per
    (secret, column, value) so joins and grouping survive, NULL-preserving,
    zero-shuffle JVM projection; the oracle replays the exact preimage."""
    from schemasaurus_spark.operators.privacy import pseudonymize

    docs = _docs(spark, sf_dir).select("doc_id", "source", "lang")
    return pseudonymize(docs, ["source"], secret="contract-key")


_PSEUDONYMIZE_ORACLE = """
SELECT doc_id,
       CASE WHEN source IS NOT NULL
            THEN substr(sha256('contract-key:source:' || source), 1, 32)
       END AS source,
       lang
FROM documents
"""


def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub stage: typed placeholder redaction + per-type counts.
    The raw generated corpus contains no PII, so the query plants
    deterministic emails/phones/IPs/SSNs for a doc_id subset IN THE QUERY
    (mirrored verbatim in the oracle) — the oracle row is non-vacuous and
    pins both the counting and the exact redacted strings."""
    from schemasaurus_spark.operators.pii import redact_pii

    d = _docs(spark, sf_dir)
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" reach me at user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com or 555-123-4567"),
            ),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" server 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".1 ssn 123-45-6789"),
            ),
        )
        .otherwise(F.lit("")),
    )
    return redact_pii(d.select("doc_id", planted.alias("text")))


_PII_ORACLE = r"""
WITH planted AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 7 = 0 THEN ' reach me at user' || CAST(doc_id AS VARCHAR)
                || '@mail.example.com or 555-123-4567'
           WHEN doc_id % 11 = 0 THEN ' server 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                || '.1 ssn 123-45-6789'
           ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
  CAST(coalesce(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')), 0) AS INTEGER) AS n_email,
  CAST(coalesce(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')), 0) AS INTEGER) AS n_ssn,
  CAST(coalesce(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')), 0) AS INTEGER) AS n_phone,
  CAST(coalesce(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')), 0) AS INTEGER) AS n_ipv4,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
      '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g'),
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g') AS text_redacted
FROM planted
"""


def doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing (concat-and-chunk batch prep): each
    doc's (shard, seq_id, seq_offset) under an 8-shard, 256-token-budget
    layout.  Both the shard and the order key are md5 of the doc id, so
    the assignment is reproducible at any parallelism and the oracle
    replays it with the same window cumsum in SQL."""
    from schemasaurus_spark.operators.packing import pack_documents

    return pack_documents(
        _docs(spark, sf_dir), budget=256, n_shards=8, seed=0
    )


_PACKING_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         md5(doc_id || ':0') AS k,
         CAST(('0x' || substr(md5(doc_id || '#0'), 1, 4)) AS INTEGER) % 8 AS shard
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
w AS (
  SELECT doc_id, n_tokens, shard,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY k
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
  FROM base
)
SELECT doc_id, n_tokens, CAST(shard AS INTEGER) AS shard,
       CAST(floor(s / 256) AS BIGINT) AS seq_id,
       CAST(s % 256 AS BIGINT) AS seq_offset
FROM w
"""


def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (n-gram overlap guard): a deterministic
    20% md5-bucket split of the documents table stands in for the held-out
    eval set; the remaining 80% is the training corpus.  Returns per-doc
    contamination evidence (window hits, distinct shared 8-grams, first
    hit offset).  Engine keys windows by xxhash64 and BROADCASTS the
    benchmark hash set (operators/decontam.py — the corpus side never
    shuffles its windows); the oracle replays the split and the join
    grouping by the RAW window string, no hashing."""
    from schemasaurus_spark.operators.decontam import contamination_report
    from schemasaurus_spark.operators.sampling import sample_bucket

    docs = _docs(spark, sf_dir)
    bucket = sample_bucket("doc_id", seed=7)
    benchmark = docs.where(bucket < F.lit(13107))
    corpus = docs.where(bucket >= F.lit(13107))
    return contamination_report(corpus, benchmark, window=8)


_DECONTAM_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\s+') AS t,
         CAST(('0x' || substr(md5(doc_id || ':7'), 1, 4)) AS INTEGER) AS bucket
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
win AS (
  SELECT doc_id, bucket, u.i - 1 AS pos,
         array_to_string(t[u.i:u.i+7], ' ') AS wstr
  FROM toks JOIN generate_series(1, 512) AS u(i) ON u.i <= len(t) - 7
),
bench AS (SELECT DISTINCT wstr FROM win WHERE bucket < 13107),
corp AS (SELECT doc_id, pos, wstr FROM win WHERE bucket >= 13107)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_window_hits,
       CAST(count(DISTINCT c.wstr) AS BIGINT) AS n_distinct_ngrams,
       CAST(min(c.pos) AS BIGINT) AS first_hit_pos
FROM corp c JOIN bench b ON c.wstr = b.wstr
GROUP BY c.doc_id
"""


def doc_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 A1):
    per-doc modal-bigram share + repeated-5-gram occurrence share —
    the filters that drop templated / keyword-stuffed documents.  Only
    shuffle is a map-side-combined (doc, n-gram) count; the modal bigram
    tie-breaks deterministically (max struct = lexicographically largest
    among max-count), which the oracle mirrors with ORDER BY cnt DESC,
    g DESC."""
    from schemasaurus_spark.operators.repetition import repetition_profile

    return repetition_profile(_docs(spark, sf_dir), long_n=5)


_REPETITION_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
bg AS (
  SELECT doc_id, array_to_string(t[u.i:u.i+1], ' ') AS g
  FROM toks JOIN generate_series(1, 512) AS u(i) ON u.i <= len(t) - 1
),
bgc AS (SELECT doc_id, g, count(*) AS cnt FROM bg GROUP BY doc_id, g),
bgr AS (
  SELECT doc_id, g, cnt,
         sum(cnt) OVER (PARTITION BY doc_id) AS total,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, g DESC) AS rn
  FROM bgc
),
bi AS (
  SELECT doc_id, CAST(total AS BIGINT) AS n_bigrams, g AS top_bigram,
         CAST(cnt AS BIGINT) AS top_bigram_count,
         CAST(cnt AS DOUBLE) / total AS top_bigram_frac
  FROM bgr WHERE rn = 1
),
lgrams AS (
  SELECT doc_id, array_to_string(t[u.i:u.i+4], ' ') AS g
  FROM toks JOIN generate_series(1, 512) AS u(i) ON u.i <= len(t) - 4
),
lgc AS (SELECT doc_id, g, count(*) AS cnt FROM lgrams GROUP BY doc_id, g),
lg AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_longgrams,
         CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
             / sum(cnt) AS dup_longgram_frac
  FROM lgc GROUP BY doc_id
)
SELECT bi.doc_id, bi.n_bigrams, bi.top_bigram, bi.top_bigram_count,
       bi.top_bigram_frac,
       coalesce(lg.n_longgrams, 0) AS n_longgrams,
       coalesce(lg.dup_longgram_frac, 0.0) AS dup_longgram_frac
FROM bi LEFT JOIN lg ON bi.doc_id = lg.doc_id
"""


def media_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode path (round-4, closes the image-codec stub):
    executor-side baseline-JPEG ENCODE of block-constant grayscale pixels
    (pure numpy T.81 codec, operators/jpeg.py) followed by the production
    DECODE kernel extracting dimensions + exact int64 luma sums.  Block-
    constant content round-trips EXACTLY (DC-only FDCT is integer with
    all-ones quant tables) while the bytes exercise the full marker /
    zigzag / DC-prediction / huffman / byte-stuffing / restart-marker
    machinery; the oracle recomputes the sums from the closed-form block
    formula in SQL, so a decoder bug hash-mismatches."""
    from schemasaurus_spark.operators.media import (
        extract_jpeg_features,
        synth_jpeg_media_table,
    )

    return extract_jpeg_features(synth_jpeg_media_table(spark, 200, seed=42))


# block(id,bi,bj) = (id*37 + bi*11 + bj*5 + 42) % 256 over hb=id%2+2 x
# wb=id%3+2 blocks of 64 px each — enumerated and summed in SQL
_MEDIA_JPEG_ORACLE = """
WITH dims AS (
  SELECT t.i AS id,
         t.i % 3 + 2 AS wb,
         t.i % 2 + 2 AS hb
  FROM generate_series(0, 199) AS t(i)
),
px AS (
  SELECT d.id, d.wb, d.hb,
         64 * CAST(sum((d.id*37 + bi.v*11 + bj.v*5 + 42) % 256) AS BIGINT)
             AS luma_sum
  FROM dims d
  JOIN generate_series(0, 3) AS bi(v) ON bi.v < d.hb
  JOIN generate_series(0, 4) AS bj(v) ON bj.v < d.wb
  GROUP BY d.id, d.wb, d.hb
)
SELECT 'media://jpg/' || CAST(id AS VARCHAR) AS media_ref,
       CAST(wb * 8 AS INTEGER) AS width,
       CAST(hb * 8 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS channels,
       luma_sum,
       CAST(luma_sum AS DOUBLE) / (wb * 8 * hb * 8) AS mean_luma
FROM px
"""


def media_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame-sampling path (round-4, closes the video stub for
    the MJPEG container): executor-side ENCODE of multi-frame MJPEG
    streams (concatenated baseline JPEGs), then the production kernel
    splits frames marker-aware and DECODES every 2nd frame.  The oracle
    recomputes each sampled frame's luma sum from the closed-form block
    formula in SQL."""
    from schemasaurus_spark.operators.media import (
        extract_mjpeg_frame_features,
        synth_mjpeg_media_table,
    )

    return extract_mjpeg_frame_features(
        synth_mjpeg_media_table(spark, 200, seed=42), every_n=2
    )


# frame block(id,f,bi,bj) = (id*37 + f*29 + bi*11 + bj*5 + 42) % 256;
# frames = id%3+2, sampled every 2nd (f in 0,2) — enumerated in SQL
_MEDIA_MJPEG_ORACLE = """
WITH dims AS (
  SELECT t.i AS id,
         t.i % 3 + 2 AS wb,
         t.i % 2 + 2 AS hb,
         t.i % 3 + 2 AS nf
  FROM generate_series(0, 199) AS t(i)
),
frames AS (
  SELECT d.*, f.v AS frame_idx
  FROM dims d
  JOIN generate_series(0, 4) AS f(v) ON f.v < d.nf AND f.v % 2 = 0
),
px AS (
  SELECT fr.id, fr.wb, fr.hb, fr.frame_idx,
         64 * CAST(sum((fr.id*37 + fr.frame_idx*29 + bi.v*11 + bj.v*5 + 42) % 256)
                   AS BIGINT) AS luma_sum
  FROM frames fr
  JOIN generate_series(0, 3) AS bi(v) ON bi.v < fr.hb
  JOIN generate_series(0, 4) AS bj(v) ON bj.v < fr.wb
  GROUP BY fr.id, fr.wb, fr.hb, fr.frame_idx
)
SELECT 'media://mjpeg/' || CAST(id AS VARCHAR) AS media_ref,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(wb * 8 AS INTEGER) AS width,
       CAST(hb * 8 AS INTEGER) AS height,
       luma_sum,
       CAST(luma_sum AS DOUBLE) / (wb * 8 * hb * 8) AS mean_luma
FROM px
"""


# ---------------------------------------------------------------------------
# north-rule engine over the interleaved documents table.  The deterministic
# generated table (n=2000, seed=7) is materialized to parquet once per
# process so the DuckDB oracles can read the *same bytes* the Spark queries
# read — which turns the span-walk validation, verdict aggregation, span
# sequence and referential check into plain SQL over unnested spans.
# ---------------------------------------------------------------------------

# Per-process materialization dir: the oracle SQL strings embed these paths
# and are built in the same process that runs the Spark queries, so a PID
# suffix keeps concurrent harness processes from overwriting each other's
# parquet mid-oracle (the content is deterministic, but a reader racing a
# rewrite sees partial files).
_NR_ORACLE_DIR = f"/tmp/schemasaurus_oracle/pid{os.getpid()}"
_NR_DOCS_PATH = f"{_NR_ORACLE_DIR}/northrule_docs_n2000_seed7"
_NR_CATALOG_PATH = f"{_NR_ORACLE_DIR}/media_catalog_seed7"
_nr_written = False


def _northrule_docs(spark: SparkSession) -> DataFrame:
    global _nr_written
    if not _nr_written:
        generate_documents(spark, n_docs=2000, seed=7).coalesce(4).write.mode(
            "overwrite"
        ).parquet(_NR_DOCS_PATH)
        generate_media_catalog(spark, seed=7).coalesce(1).write.mode(
            "overwrite"
        ).parquet(_NR_CATALOG_PATH)
        _nr_written = True
    return spark.read.parquet(_NR_DOCS_PATH)


def northrule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full span-walk validation, violation rows (north-rule contract).

    ``err_idx`` (position within the per-doc error array) is dropped from
    the contract projection — the remaining columns are exactly the
    north-rule output contract and are order-insensitively comparable."""
    job = ValidationJob()
    return job.violations(job.validated(_northrule_docs(spark))).drop("err_idx")


def northrule_schema_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution impact over the INTERLEAVED north-rule table: the
    flagship DOCUMENT_SCHEMA vs a v2 that tightens span text maxLength
    4096 -> 256 (105 generated spans exceed it) and drops the media_ref
    uri format (forgiving the 26 bad-URI docs — the one violation class
    the generated corpus fires) — both nested-walk validators compiled
    into ONE projection over one scan of the spans table
    (schema/migration.py); the oracle derives both verdicts from the
    count-mode violation mirror."""
    import copy

    from schemasaurus_spark.plans.validation_job import DOCUMENT_SCHEMA
    from schemasaurus_spark.schema.migration import migration_matrix

    v2 = copy.deepcopy(DOCUMENT_SCHEMA)
    span_props = v2["properties"]["spans"]["items"]["properties"]
    span_props["text"]["maxLength"] = 256
    del span_props["media_ref"]["format"]
    return migration_matrix(_northrule_docs(spark), DOCUMENT_SCHEMA, v2)


def _nr_migration_oracle_sql() -> str:
    # v2 count = v1 count with the uri-format term removed and the text
    # bound tightened; built by surgical substitution so the two mirrors
    # cannot drift apart
    uri_term = (
        "  + coalesce(len(list_filter(spans, s -> s.media_ref IS NOT NULL "
        f"AND NOT regexp_matches(s.media_ref, '{_NR_URI_RE}'))), 0)\n"
    )
    assert uri_term in _NR_VIOL_COUNT and "length(s.text) > 4096" in _NR_VIOL_COUNT
    v2_count = _NR_VIOL_COUNT.replace(uri_term, "").replace(
        "length(s.text) > 4096", "length(s.text) > 256"
    )
    return f"""
WITH docs AS (SELECT * FROM read_parquet('{_NR_DOCS_PATH}/*.parquet')),
per_row AS (
  SELECT ({_NR_VIOL_COUNT}) AS v1, ({v2_count}) AS v2 FROM docs
)
SELECT v1 = 0 AS valid_old, v2 = 0 AS valid_new, count(*) AS n_docs
FROM per_row GROUP BY 1, 2
"""


def northrule_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pass/fail verdict aggregation keyed by a *deterministic* bucket
    (last doc_id character) so the result is engine-comparable; the
    physical per-partition variant (spark_partition_id key, identical
    aggregation shape) is exercised by ValidationJob.verdicts in pytest
    and the scaling bench."""
    counted = ValidationJob().counted(_northrule_docs(spark))
    return (
        counted.select(
            F.substring("doc_id", -1, 1).alias("bucket"),
            "valid",
            "n_violations",
        )
        .groupBy("bucket")
        .agg(
            F.bool_and("valid").alias("pass"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((~F.col("valid")).cast("long")).alias("n_invalid_docs"),
            F.sum("n_violations").cast("long").alias("n_violations"),
        )
    )


def northrule_span_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row span-sequence invariant as flat rows (doc_id, order, kind,
    text, media_ref) — directly SQL-comparable."""
    return ValidationJob().span_sequence(_northrule_docs(spark))


def northrule_dangling_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dangling_media_refs(
        _northrule_docs(spark), generate_media_catalog(spark, seed=7)
    )


def northrule_interleave_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc interleave structure profile (operators/interleave.py):
    kind counts, modality switches, longest text/non-text runs, boundary
    kinds — ZERO shuffles (in-array folds, no explode+window).  Oracle
    replays with rn-partitioned gaps-and-islands windows — per PHYSICAL
    row, because the generated corpus contains duplicate doc_ids."""
    from schemasaurus_spark.operators.interleave import interleave_profile

    return interleave_profile(_northrule_docs(spark))


def northrule_caption_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-media-span caption-candidate mining (operators/captions.py):
    nearest preceding/following text span + the deterministic pick
    (following wins ties) — the multimodal pair-extraction stage.  ZERO
    shuffles engine-side (in-array nearest-text search + one generator);
    the oracle replays with rn-partitioned windows (per PHYSICAL row —
    duplicate doc_ids, interleave_profile's documented trap)."""
    from schemasaurus_spark.operators.captions import caption_contexts

    return caption_contexts(_northrule_docs(spark))


def _caption_oracle_sql() -> str:
    return f"""
WITH docs AS (
  SELECT *, row_number() OVER () AS rn
  FROM read_parquet('{_NR_DOCS_PATH}/*.parquet')
),
ex AS (
  SELECT rn, doc_id, unnest(spans) AS s, generate_subscripts(spans, 1) - 1 AS i
  FROM docs
),
sp AS (
  SELECT rn, doc_id, CAST(i AS INTEGER) AS i, s.kind AS kind, s.text AS text,
         s.media_ref AS media_ref
  FROM ex
),
ctx AS (
  SELECT *,
         max(CASE WHEN kind = 'text' THEN i END)
           OVER (PARTITION BY rn ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ti,
         min(CASE WHEN kind = 'text' THEN i END)
           OVER (PARTITION BY rn ORDER BY i
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ti
  FROM sp
),
media AS (
  SELECT *,
         CASE WHEN next_ti IS NOT NULL
                   AND (prev_ti IS NULL OR (next_ti - i) <= (i - prev_ti))
              THEN 'next'
              WHEN prev_ti IS NOT NULL THEN 'prev'
         END AS caption_src
  FROM ctx
  WHERE kind IN ('image', 'audio') AND media_ref IS NOT NULL
)
SELECT m.doc_id, m.i AS span_idx, m.kind, m.media_ref,
       CAST(m.prev_ti AS INTEGER) AS prev_text_idx,
       CAST(m.next_ti AS INTEGER) AS next_text_idx,
       m.caption_src,
       t.text AS caption,
       CAST(coalesce(length(t.text), 0) AS BIGINT) AS caption_len
FROM media m
LEFT JOIN sp t
  ON t.rn = m.rn
 AND t.i = CASE WHEN m.caption_src = 'next' THEN m.next_ti
                WHEN m.caption_src = 'prev' THEN m.prev_ti END
"""


def northrule_span_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-aware multimodal packing (packing.pack_spans): interleaved
    docs packed into 2048-token sequences with fixed media costs
    (image 576 / audio 128 / ref 1) plus whitespace text tokens — the
    batch-prep stage for multimodal pretraining.  Cost is one in-array
    fold; the only shuffle is the per-shard window cumsum; duplicate
    doc_ids stay deterministic via the (md5, cost) order key."""
    from schemasaurus_spark.operators.packing import pack_spans

    return pack_spans(_northrule_docs(spark), budget=2048, n_shards=8, seed=0)


def _span_packing_oracle_sql() -> str:
    return rf"""
WITH docs AS (
  SELECT *, row_number() OVER () AS rn
  FROM read_parquet('{_NR_DOCS_PATH}/*.parquet')
),
ex AS (SELECT rn, doc_id, unnest(spans) AS s FROM docs),
cost AS (
  SELECT rn, any_value(doc_id) AS doc_id,
         sum(CASE WHEN s.kind = 'text' THEN
               CASE WHEN s.text IS NULL OR trim(s.text) = '' THEN 0
                    ELSE len(string_split_regex(trim(s.text), '\s+')) END
             ELSE 0 END) AS n_text_tokens,
         sum(CASE s.kind WHEN 'image' THEN 576 WHEN 'audio' THEN 128
                         WHEN 'ref' THEN 1 ELSE 0 END) AS n_media_tokens
  FROM ex GROUP BY rn
),
base AS (
  SELECT doc_id, n_text_tokens + n_media_tokens AS n_tokens,
         n_text_tokens, n_media_tokens,
         md5(doc_id || ':sp:0') AS k,
         CAST(('0x' || substr(md5(doc_id || '#sp#0'), 1, 4)) AS INTEGER) % 8
           AS shard
  FROM cost WHERE n_text_tokens + n_media_tokens > 0
),
w AS (
  SELECT doc_id, n_tokens, n_text_tokens, n_media_tokens, shard,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY k, n_tokens
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
  FROM base
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_text_tokens AS BIGINT) AS n_text_tokens,
       CAST(n_media_tokens AS BIGINT) AS n_media_tokens,
       CAST(shard AS INTEGER) AS shard,
       CAST(floor(strt / 2048) AS BIGINT) AS seq_id,
       CAST(strt % 2048 AS BIGINT) AS seq_offset
FROM w
"""


def _interleave_oracle_sql() -> str:
    return f"""
WITH docs AS (
  SELECT *, row_number() OVER () AS rn
  FROM read_parquet('{_NR_DOCS_PATH}/*.parquet')
),
ex AS (
  SELECT rn, doc_id, unnest(spans) AS s, generate_subscripts(spans, 1) - 1 AS i
  FROM docs
),
sp AS (
  SELECT rn, doc_id, CAST(i AS INTEGER) AS i, s.kind AS kind,
         s.media_ref AS media_ref
  FROM ex
),
base AS (
  SELECT rn, any_value(doc_id) AS doc_id,
         count(*) AS n_spans,
         count(*) FILTER (kind = 'text')  AS n_text,
         count(*) FILTER (kind = 'image') AS n_image,
         count(*) FILTER (kind = 'audio') AS n_audio,
         count(*) FILTER (kind = 'ref')   AS n_ref,
         count(*) FILTER (media_ref IS NOT NULL) AS n_media_refs,
         arg_min(kind, i) AS first_kind,
         arg_max(kind, i) AS last_kind
  FROM sp GROUP BY rn
),
sw AS (
  SELECT rn, count(*) FILTER (prev IS NOT NULL AND prev <> kind) AS n_switches
  FROM (
    SELECT rn, kind, lag(kind) OVER (PARTITION BY rn ORDER BY i) AS prev
    FROM sp
  ) GROUP BY rn
),
isl AS (
  SELECT rn, (kind = 'text') AS is_text,
         i - row_number() OVER (PARTITION BY rn, (kind = 'text') ORDER BY i) AS island
  FROM sp
),
rl AS (SELECT rn, is_text, island, count(*) AS run_len FROM isl GROUP BY 1, 2, 3),
mx AS (
  SELECT rn,
         coalesce(max(run_len) FILTER (is_text), 0) AS max_text_run,
         coalesce(max(run_len) FILTER (NOT is_text), 0) AS max_nontext_run
  FROM rl GROUP BY rn
)
SELECT b.doc_id, b.n_spans, b.n_text, b.n_image, b.n_audio, b.n_ref,
       b.n_media_refs, coalesce(sw.n_switches, 0) AS n_switches,
       mx.max_text_run, mx.max_nontext_run, b.first_kind, b.last_kind
FROM base b JOIN sw USING (rn) JOIN mx USING (rn)
"""


_SI_DOCS_PATH = f"{_NR_ORACLE_DIR}/span_integrity_docs_n2000_seed11_faults13"
_si_written = False


def _span_integrity_docs(spark: SparkSession) -> DataFrame:
    """Interleaved docs with deterministically planted sequence faults
    (every fault class present, ~1/7 of docs left untouched) so each
    cross-span code is exercised non-vacuously; materialized once so the
    DuckDB oracle reads the byte-identical corpus."""
    global _si_written
    if not _si_written:
        from schemasaurus_spark.operators.span_integrity import plant_sequence_faults

        plant_sequence_faults(
            generate_documents(spark, n_docs=2000, seed=11), seed=13
        ).coalesce(4).write.mode("overwrite").parquet(_SI_DOCS_PATH)
        _si_written = True
    return spark.read.parquet(_SI_DOCS_PATH)


def northrule_span_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-span SEQUENCE constraints (operators/span_integrity.py) — the
    structural invariants of an interleaved document that no per-element
    keyword check can express: strictly increasing offsets, text-extent
    overlap, kind-conditional field requirements, media_ref/kind
    consistency.  One scan, zero shuffles (adjacent-span access via
    F.get inside the transform lambda, not explode+window)."""
    from schemasaurus_spark.operators.span_integrity import span_integrity_violations

    return span_integrity_violations(_span_integrity_docs(spark))


# Lag-window mirror of the sequence checks: adjacent-span context via
# lag() over (doc_id, i) — the row-relational restatement of the in-array
# F.get(spans, i-1) access the Spark plan uses.
_SI_ORACLE = f"""
WITH docs AS (
  -- rn: per-PHYSICAL-row window key — the corpus contains planted
  -- duplicate doc_ids whose spans differ, and the sequence checks are
  -- defined within one document row, not across copies sharing an id
  SELECT *, row_number() OVER () AS rn
  FROM read_parquet('{_SI_DOCS_PATH}/*.parquet')
),
ex AS (
  SELECT doc_id, rn, unnest(spans) AS s, generate_subscripts(spans, 1) - 1 AS i
  FROM docs
),
sp AS (
  SELECT doc_id, rn, CAST(i AS INTEGER) AS i, s.kind AS kind, s.text AS text,
         s.media_ref AS media_ref, s['offset'] AS "offset"
  FROM ex
),
w AS (
  SELECT sp.*, lag(kind) OVER win AS pkind, lag(text) OVER win AS ptext,
         lag("offset") OVER win AS poff
  FROM sp WINDOW win AS (PARTITION BY rn ORDER BY i)
)
SELECT doc_id, i AS span_idx, 'spanOrder' AS code,
       '/spans/' || i || '/offset' AS path,
       CAST("offset" AS VARCHAR) AS value, CAST(poff AS VARCHAR) AS arg
FROM w
WHERE i > 0 AND "offset" IS NOT NULL AND poff IS NOT NULL AND "offset" <= poff
UNION ALL
SELECT doc_id, i, 'spanOverlap', '/spans/' || i || '/offset',
       CAST("offset" AS VARCHAR), CAST(poff + length(ptext) AS VARCHAR)
FROM w
WHERE i > 0 AND "offset" IS NOT NULL AND poff IS NOT NULL AND "offset" > poff
  AND pkind = 'text' AND ptext IS NOT NULL AND poff + length(ptext) > "offset"
UNION ALL
SELECT doc_id, i, 'spanTextRequired', '/spans/' || i || '/text',
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM w WHERE kind = 'text' AND text IS NULL
UNION ALL
SELECT doc_id, i, 'spanTextForbidden', '/spans/' || i || '/text', text, kind
FROM w WHERE kind IS NOT NULL AND kind <> 'text' AND text IS NOT NULL
UNION ALL
SELECT doc_id, i, 'spanMediaRefRequired', '/spans/' || i || '/media_ref',
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM w WHERE kind IN ('image', 'audio') AND media_ref IS NULL
UNION ALL
SELECT doc_id, i, 'spanRefKindMismatch', '/spans/' || i || '/media_ref',
       media_ref, kind
FROM w WHERE (kind = 'image' AND media_ref LIKE 'media://aud/%')
          OR (kind = 'audio' AND media_ref LIKE 'media://img/%')
"""


# The DuckDB mirror of the compiled DOCUMENT_SCHEMA walk over the typed
# span struct.  Every branch the Column compiler can emit for this schema +
# table shape is expressed (most yield zero rows on the generated corpus by
# construction — only format.uri fires — but the SQL is the full contract,
# not a fit to the data).
_NR_URI_RE = r"^[a-zA-Z][a-zA-Z0-9+-.]*:[^\s]*$"
_NR_DOCID_RE = r"^[a-z0-9-]{4,64}$"

_NR_BASE = f"""
WITH docs AS (SELECT * FROM read_parquet('{_NR_DOCS_PATH}/*.parquet')),
ex AS (
  SELECT doc_id, unnest(spans) AS s, generate_subscripts(spans, 1) - 1 AS i
  FROM docs
),
sp AS (
  SELECT doc_id, CAST(i AS INTEGER) AS i, s.kind AS kind, s.text AS text,
         s.media_ref AS media_ref, s['offset'] AS "offset", CAST(to_json(s) AS VARCHAR) AS s_json
  FROM ex
)
"""

# per-row violation count: the count-mode compiler's integer analog, used by
# the verdict oracle (inline per row — doc_id is NOT unique, so joining
# violation rows back by doc_id would conflate duplicate-id rows)
_NR_VIOL_COUNT = f"""
  (CASE WHEN doc_id IS NULL THEN 2 ELSE 0 END)
  + (CASE WHEN doc_id IS NOT NULL AND NOT regexp_matches(doc_id, '{_NR_DOCID_RE}') THEN 1 ELSE 0 END)
  + (CASE WHEN spans IS NOT NULL AND len(spans) < 1 THEN 1 ELSE 0 END)
  + (CASE WHEN spans IS NOT NULL AND len(spans) > 1024 THEN 1 ELSE 0 END)
  + coalesce(len(list_filter(spans, s -> s.kind IS NULL)), 0) * 3
  + coalesce(len(list_filter(spans, s -> s.kind IS NOT NULL AND s.kind NOT IN ('text','image','audio','ref'))), 0)
  + coalesce(len(list_filter(spans, s -> s.text IS NOT NULL AND length(s.text) > 4096)), 0)
  + coalesce(len(list_filter(spans, s -> s.media_ref IS NOT NULL AND NOT regexp_matches(s.media_ref, '{_NR_URI_RE}'))), 0)
  + coalesce(len(list_filter(spans, s -> s['offset'] IS NOT NULL AND s['offset'] < 0)), 0)
"""

_NR_VIOLATIONS_ORACLE = f"""
{_NR_BASE}
-- root: doc_id required (v3 flag merged at root) + type string
SELECT doc_id, CAST(NULL AS INTEGER) AS span_idx, 'required' AS keyword, '' AS json_pointer,
       'required' AS code, 'is required' AS message, CAST(NULL AS VARCHAR) AS value, CAST(NULL AS VARCHAR) AS arg
FROM docs WHERE doc_id IS NULL
UNION ALL
SELECT doc_id, CAST(NULL AS INTEGER), 'string', '/doc_id', 'string', 'shall be a string',
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM docs WHERE doc_id IS NULL
UNION ALL
SELECT doc_id, CAST(NULL AS INTEGER), 'pattern', '/doc_id', 'pattern', 'shall match pattern %s',
       doc_id, '{_NR_DOCID_RE}'
FROM docs WHERE doc_id IS NOT NULL AND NOT regexp_matches(doc_id, '{_NR_DOCID_RE}')
UNION ALL
-- spans cardinality
SELECT doc_id, CAST(NULL AS INTEGER), 'minItems', '/spans', 'minItems', 'shall have at least %d items',
       CAST(to_json(spans) AS VARCHAR), CAST(NULL AS VARCHAR)
FROM docs WHERE spans IS NOT NULL AND len(spans) < 1
UNION ALL
SELECT doc_id, CAST(NULL AS INTEGER), 'maxItems', '/spans', 'maxItems', 'shall have no more %d items',
       CAST(to_json(spans) AS VARCHAR), CAST(NULL AS VARCHAR)
FROM docs WHERE spans IS NOT NULL AND len(spans) > 1024
UNION ALL
-- span element: kind required (v3 flag on the property) + its type/enum
SELECT doc_id, i, 'required', '/spans/' || i, 'required', 'is required', s_json, CAST(NULL AS VARCHAR)
FROM sp WHERE kind IS NULL
UNION ALL
SELECT doc_id, i, 'string', '/spans/' || i || '/kind', 'string', 'shall be a string',
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM sp WHERE kind IS NULL
UNION ALL
SELECT doc_id, i, 'enum', '/spans/' || i || '/kind', 'enum', 'shall be one of values %s',
       kind, '["text","image","audio","ref"]'
FROM sp WHERE kind IS NULL OR kind NOT IN ('text','image','audio','ref')
UNION ALL
-- span text bounds
SELECT doc_id, i, 'maxLength', '/spans/' || i || '/text', 'maxLength', 'shall have length no more than %d',
       text, '4096'
FROM sp WHERE text IS NOT NULL AND length(text) > 4096
UNION ALL
SELECT doc_id, i, 'minLength', '/spans/' || i || '/text', 'minLength', 'shall have length at least %d',
       text, '0'
FROM sp WHERE text IS NOT NULL AND length(text) < 0
UNION ALL
-- span media_ref uri format
SELECT doc_id, i, 'format.uri', '/spans/' || i || '/media_ref', 'format.uri', 'shall be valid URI',
       media_ref, 'shall be valid URI'
FROM sp WHERE media_ref IS NOT NULL AND NOT regexp_matches(media_ref, '{_NR_URI_RE}')
UNION ALL
-- span offset minimum
SELECT doc_id, i, 'minimum', '/spans/' || i || '/offset', 'minimum', 'shall be >= %d',
       CAST("offset" AS VARCHAR), '0'
FROM sp WHERE "offset" IS NOT NULL AND "offset" < 0
"""

_NR_VERDICTS_ORACLE = f"""
WITH docs AS (SELECT * FROM read_parquet('{_NR_DOCS_PATH}/*.parquet')),
per_row AS (
  SELECT doc_id, CAST(({_NR_VIOL_COUNT}) AS BIGINT) AS n_viol FROM docs
)
SELECT right(doc_id, 1) AS bucket,
       bool_and(n_viol = 0) AS "pass",
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_viol > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid_docs,
       CAST(sum(n_viol) AS BIGINT) AS n_violations
FROM per_row GROUP BY 1
"""

_NR_SPAN_SEQUENCE_ORACLE = f"""
{_NR_BASE}
SELECT doc_id, i AS "order", kind, text, media_ref FROM sp
"""

_NR_DANGLING_MEDIA_ORACLE = f"""
{_NR_BASE}
SELECT sp.doc_id, sp.i AS span_idx, sp.media_ref
FROM sp
WHERE sp.media_ref IS NOT NULL
  AND NOT EXISTS (
    SELECT 1 FROM read_parquet('{_NR_CATALOG_PATH}/*.parquet') c
    WHERE c.media_ref = sp.media_ref
  )
"""


# ---------------------------------------------------------------------------
# drift: chi-square homogeneity computed fully inside the engine
# (contingency counts are one map-side-combinable groupBy; the statistic is
# a handful of arithmetic expressions over the K-row count table)
# ---------------------------------------------------------------------------


def event_type_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square drift of the event_type distribution between two
    deterministic halves of the events table (even vs odd event_id — the
    stand-in for baseline snapshot vs current window).  Output: one row
    (chi2_statistic, dof, n_base, n_cur)."""
    ev = _table(spark, sf_dir, "events").select("event_id", "event_type")
    counts = ev.groupBy("event_type").agg(
        F.sum((F.col("event_id") % 2 == 0).cast("long")).alias("o1"),
        F.sum((F.col("event_id") % 2 == 1).cast("long")).alias("o2"),
    )
    tot = counts.agg(
        F.sum("o1").alias("n1"), F.sum("o2").alias("n2"),
        F.count(F.lit(1)).alias("k"),
    )
    j = counts.crossJoin(F.broadcast(tot))
    col_tot = F.col("o1") + F.col("o2")
    # expected counts in double from the first multiply: n1 * col_tot as
    # int64 silently overflows once both sides reach ~3e9 rows (the stated
    # web scale); double is exact below 2^53 and merely approximate above,
    # which a test statistic tolerates and a wrapped int64 does not
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    e1 = n1d * col_tot / (n1d + n2d)
    e2 = n2d * col_tot / (n1d + n2d)
    term = (
        F.when(e1 > 0, (F.col("o1") - e1) ** 2 / e1).otherwise(F.lit(0.0))
        + F.when(e2 > 0, (F.col("o2") - e2) ** 2 / e2).otherwise(F.lit(0.0))
    )
    return j.agg(
        F.round(F.sum(term), 6).alias("chi2_statistic"),
        (F.max("k") - 1).cast("long").alias("dof"),
        F.max("n1").alias("n_base"),
        F.max("n2").alias("n_cur"),
    )


_CHI2_ORACLE = """
WITH counts AS (
  SELECT event_type,
         CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS o1,
         CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o2
  FROM events GROUP BY event_type
),
tot AS (SELECT CAST(sum(o1) AS DOUBLE) AS n1, CAST(sum(o2) AS DOUBLE) AS n2,
               count(*) AS k FROM counts)
SELECT round(sum(
         CASE WHEN n1 * (o1 + o2) / (n1 + n2) > 0
              THEN pow(o1 - n1 * (o1 + o2) / (n1 + n2), 2) / (n1 * (o1 + o2) / (n1 + n2))
              ELSE 0.0 END
       + CASE WHEN n2 * (o1 + o2) / (n1 + n2) > 0
              THEN pow(o2 - n2 * (o1 + o2) / (n1 + n2), 2) / (n2 * (o1 + o2) / (n1 + n2))
              ELSE 0.0 END), 6) AS chi2_statistic,
       CAST(max(k) - 1 AS BIGINT) AS dof,
       CAST(max(n1) AS BIGINT) AS n_base,
       CAST(max(n2) AS BIGINT) AS n_cur
FROM counts, tot
"""


_PSI_LO, _PSI_WIDTH, _PSI_BINS = 0.0, 25.0, 20


def event_value_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the value distribution between the
    same two deterministic halves the chi-square/KS queries use (even vs
    odd event_id), over a frozen 20-bin grid with Laplace-smoothed
    proportions (drift.py psi_statistic).  The production drift metric
    alongside KS/chi² — same mergeable-histogram shape as snapshot.py's
    frozen grid (groupBy collapses to n_bins rows; empty bins contribute
    via a range join)."""
    from schemasaurus_spark.operators.drift import psi_statistic

    ev = _table(spark, sf_dir, "events").select("event_id", "value")
    return psi_statistic(
        ev, "value", F.col("event_id") % 2 == 0, _PSI_LO, _PSI_WIDTH, _PSI_BINS
    )


_PSI_ORACLE = f"""
WITH counts AS (
  SELECT CAST(least(greatest(floor((CAST(value AS DOUBLE) - {_PSI_LO!r}) / {_PSI_WIDTH!r}), 0), {_PSI_BINS - 1}) AS BIGINT) AS bin,
         CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
filled AS (
  SELECT coalesce(c.c1, 0) AS c1, coalesce(c.c2, 0) AS c2
  FROM range({_PSI_BINS}) g(bin) LEFT JOIN counts c ON c.bin = g.bin
),
tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM filled)
SELECT round(sum(
         ((CAST(c1 AS DOUBLE) + 0.5) / (CAST(n1 AS DOUBLE) + 0.5 * {float(_PSI_BINS)!r})
          - (CAST(c2 AS DOUBLE) + 0.5) / (CAST(n2 AS DOUBLE) + 0.5 * {float(_PSI_BINS)!r}))
         * ln(((CAST(c1 AS DOUBLE) + 0.5) / (CAST(n1 AS DOUBLE) + 0.5 * {float(_PSI_BINS)!r}))
              / ((CAST(c2 AS DOUBLE) + 0.5) / (CAST(n2 AS DOUBLE) + 0.5 * {float(_PSI_BINS)!r})))
       ), 6) AS psi,
       CAST(max(n1) AS BIGINT) AS n_base,
       CAST(max(n2) AS BIGINT) AS n_cur
FROM filled, tot
"""


def event_value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic of the value
    distribution between the same two deterministic halves the chi-square
    query uses (even vs odd event_id), computed fully in-engine:

        group by value (map-side-combined; rows shrink to |distinct|)
        -> cumulative counts over value order -> max |ECDF1 - ECDF2|.

    Scale note (declared design, like embedding_topk's brute force): the
    cumulative step is a global ordered window — a single-reducer sort over
    DISTINCT values, fine whenever value cardinality is bounded (here and
    for any quantized measure) and the exactness anchor for the drift
    family.  The unbounded-cardinality scale path is the mergeable binned
    KS in operators/snapshot.py (frozen grid, algebraic merge), whose
    statistic this query cross-checks at grid resolution."""
    from schemasaurus_spark.operators.drift import exact_ks_statistic

    ev = _table(spark, sf_dir, "events").select("event_id", "value")
    return exact_ks_statistic(ev, "value", F.col("event_id") % 2 == 0)


_KS_ORACLE = """
WITH counts AS (
  SELECT value,
         CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM events WHERE value IS NOT NULL GROUP BY value
),
cum AS (
  SELECT
    sum(c1) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
    sum(c2) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
  FROM counts
),
tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM counts)
SELECT round(max(abs(cum1 / CAST(n1 AS DOUBLE) - cum2 / CAST(n2 AS DOUBLE))), 6) AS ks_statistic,
       CAST(max(n1) AS BIGINT) AS n_base, CAST(max(n2) AS BIGINT) AS n_cur
FROM cum, tot
"""


# ---------------------------------------------------------------------------
# drift inputs: exact interpolated quantiles per category
# ---------------------------------------------------------------------------


def event_props_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-exact walker over a REAL semi-structured column: the
    events table's ``props`` JSON strings validate against an integer
    range schema through the Arrow-batch backend
    (schema/batch.validate_json_column — compile once per worker, batches
    stream through, no per-row Python round trips outside the fused
    kernel).  One row in 50 is truncated in-plan so the jsonParse
    violation path (malformed lines are first-class, never dropped) is
    exercised and oracled too."""
    from schemasaurus_spark.schema.batch import validate_json_column

    schema = {
        "type": "object",
        "properties": {
            "k": {"type": "integer", "required": True, "minimum": 10, "maximum": 80}
        },
    }
    ev = _table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "CASE WHEN event_id % 50 = 0 THEN substr(props, 1, length(props) - 1) "
        "ELSE props END AS props",
    )
    validated = validate_json_column(ev, schema, "props", keep=["event_id"])
    return (
        validated.select("event_id", F.explode("errors").alias("e"))
        .select(
            "event_id",
            F.col("e.code").alias("code"),
            F.col("e.path").alias("json_pointer"),
            F.col("e.value").alias("value"),
            F.col("e.arg").alias("arg"),
        )
    )


_EVENT_PROPS_ORACLE = """
WITH ev AS (
  SELECT event_id,
         CASE WHEN event_id % 50 = 0 THEN substr(props, 1, length(props) - 1)
              ELSE props END AS props
  FROM events
),
parsed AS (
  SELECT event_id, props,
         CAST(json_extract(props, '$.k') AS INTEGER) AS k
  FROM ev WHERE event_id % 50 <> 0
)
SELECT event_id, 'jsonParse' AS code, '' AS json_pointer,
       props AS value, CAST(NULL AS VARCHAR) AS arg
FROM ev WHERE event_id % 50 = 0
UNION ALL
SELECT event_id, 'minimum', '/k', CAST(k AS VARCHAR), '10'
FROM parsed WHERE k < 10
UNION ALL
SELECT event_id, 'maximum', '/k', CAST(k AS VARCHAR), '80'
FROM parsed WHERE k > 80
"""


def event_props_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-exact NORMALIZER over the props JSON column
    (schema/batch.BatchNormalizer): integer k coerces to string
    ([type=string] toString coercion), a missing "tag" key takes its
    schema default, and the output re-serializes in reference key order
    (original keys first, defaulted keys appended) — all reproduced
    byte-for-byte by SQL string construction in the oracle.  The same
    1-in-50 in-plan truncation exercises the malformed-line path:
    normalized is NULL, the row is never dropped."""
    from schemasaurus_spark.schema.batch import BatchNormalizer

    schema = {
        "type": "object",
        "properties": {
            "k": {"type": "string"},
            "tag": {"type": "string", "default": "backfill"},
        },
    }
    ev = _table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "CASE WHEN event_id % 50 = 0 THEN substr(props, 1, length(props) - 1) "
        "ELSE props END AS props",
    )
    return BatchNormalizer(schema).apply_json(ev, "props", keep=["event_id"])


_EVENT_PROPS_NORM_ORACLE = """
WITH ev AS (
  SELECT event_id,
         CASE WHEN event_id % 50 = 0 THEN substr(props, 1, length(props) - 1)
              ELSE props END AS props
  FROM events
)
SELECT event_id,
       CASE WHEN event_id % 50 = 0 THEN CAST(NULL AS VARCHAR)
            ELSE '{"k":"' || CAST(CAST(json_extract(props, '$.k') AS INTEGER) AS VARCHAR)
                 || '","tag":"backfill"}'
       END AS normalized
FROM ev
"""


def doc_constraint_suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint suggestion (operators/suggest.py): one
    aggregate pass profiles every column, a second metadata-sized pass
    gathers domains ONLY for columns already known low-cardinality, and
    the suggestions (not_null / unique / completeness_ge / value_range /
    categorical_domain / max_length_le) come out as data.  text is
    NULLed 1-in-25 in-plan so the completeness branch and the
    unique-suppression-under-nulls branch are non-vacuous; the oracle
    reproduces the full conditional lexicon, not constants — every
    WHERE clause re-decides each suggestion from the same statistics."""
    from schemasaurus_spark.operators.suggest import suggest_constraints

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 25 = 0 THEN NULL ELSE text END AS text",
        "lang",
        "source",
        "n_chars",
    )
    return suggest_constraints(docs, categorical_max_distinct=20)


_SUGGEST_ORACLE = """
WITH base AS (
  SELECT doc_id, CASE WHEN doc_id % 25 = 0 THEN NULL ELSE text END AS text,
         lang, source, n_chars
  FROM documents
), s AS (
  SELECT count(*) AS n,
    count(doc_id) AS nn_id, count(DISTINCT doc_id) AS d_id,
    min(doc_id) AS min_id, max(doc_id) AS max_id,
    count(text) AS nn_tx, count(DISTINCT text) AS d_tx,
    max(length(text)) AS ml_tx,
    count(lang) AS nn_lg, count(DISTINCT lang) AS d_lg,
    max(length(lang)) AS ml_lg,
    count(source) AS nn_sr, count(DISTINCT source) AS d_sr,
    max(length(source)) AS ml_sr,
    count(n_chars) AS nn_nc, count(DISTINCT n_chars) AS d_nc,
    min(n_chars) AS min_nc, max(n_chars) AS max_nc
  FROM base
)
SELECT col_name, suggestion, arg FROM (
  SELECT 'doc_id' AS col_name, 'not_null' AS suggestion,
         CAST(NULL AS VARCHAR) AS arg
  FROM s WHERE n > 0 AND nn_id = n
  UNION ALL SELECT 'doc_id', 'unique', NULL FROM s
  WHERE n > 0 AND nn_id = n AND d_id = n
  UNION ALL SELECT 'doc_id', 'completeness_ge', CAST((100*nn_id)//n AS VARCHAR)
  FROM s WHERE nn_id > 0 AND nn_id < n
  UNION ALL SELECT 'doc_id', 'value_range',
         CAST(min_id AS VARCHAR) || '..' || CAST(max_id AS VARCHAR)
  FROM s WHERE nn_id > 0
  UNION ALL SELECT 'text', 'not_null', NULL FROM s WHERE n > 0 AND nn_tx = n
  UNION ALL SELECT 'text', 'unique', NULL FROM s
  WHERE n > 0 AND nn_tx = n AND d_tx = n
  UNION ALL SELECT 'text', 'completeness_ge', CAST((100*nn_tx)//n AS VARCHAR)
  FROM s WHERE nn_tx > 0 AND nn_tx < n
  UNION ALL SELECT 'text', 'max_length_le', CAST(ml_tx AS VARCHAR)
  FROM s WHERE nn_tx > 0
  UNION ALL SELECT 'text', 'categorical_domain',
         (SELECT string_agg(v, ',' ORDER BY v)
          FROM (SELECT DISTINCT text AS v FROM base WHERE text IS NOT NULL))
  FROM s WHERE nn_tx > 0 AND d_tx BETWEEN 1 AND 20
  UNION ALL SELECT 'lang', 'not_null', NULL FROM s WHERE n > 0 AND nn_lg = n
  UNION ALL SELECT 'lang', 'unique', NULL FROM s
  WHERE n > 0 AND nn_lg = n AND d_lg = n
  UNION ALL SELECT 'lang', 'completeness_ge', CAST((100*nn_lg)//n AS VARCHAR)
  FROM s WHERE nn_lg > 0 AND nn_lg < n
  UNION ALL SELECT 'lang', 'max_length_le', CAST(ml_lg AS VARCHAR)
  FROM s WHERE nn_lg > 0
  UNION ALL SELECT 'lang', 'categorical_domain',
         (SELECT string_agg(v, ',' ORDER BY v)
          FROM (SELECT DISTINCT lang AS v FROM base WHERE lang IS NOT NULL))
  FROM s WHERE nn_lg > 0 AND d_lg BETWEEN 1 AND 20
  UNION ALL SELECT 'source', 'not_null', NULL FROM s WHERE n > 0 AND nn_sr = n
  UNION ALL SELECT 'source', 'unique', NULL FROM s
  WHERE n > 0 AND nn_sr = n AND d_sr = n
  UNION ALL SELECT 'source', 'completeness_ge', CAST((100*nn_sr)//n AS VARCHAR)
  FROM s WHERE nn_sr > 0 AND nn_sr < n
  UNION ALL SELECT 'source', 'max_length_le', CAST(ml_sr AS VARCHAR)
  FROM s WHERE nn_sr > 0
  UNION ALL SELECT 'source', 'categorical_domain',
         (SELECT string_agg(v, ',' ORDER BY v)
          FROM (SELECT DISTINCT source AS v FROM base WHERE source IS NOT NULL))
  FROM s WHERE nn_sr > 0 AND d_sr BETWEEN 1 AND 20
  UNION ALL SELECT 'n_chars', 'not_null', NULL FROM s WHERE n > 0 AND nn_nc = n
  UNION ALL SELECT 'n_chars', 'unique', NULL FROM s
  WHERE n > 0 AND nn_nc = n AND d_nc = n
  UNION ALL SELECT 'n_chars', 'completeness_ge', CAST((100*nn_nc)//n AS VARCHAR)
  FROM s WHERE nn_nc > 0 AND nn_nc < n
  UNION ALL SELECT 'n_chars', 'value_range',
         CAST(min_nc AS VARCHAR) || '..' || CAST(max_nc AS VARCHAR)
  FROM s WHERE nn_nc > 0
) t
"""


def _editdist_titles(docs: DataFrame) -> DataFrame:
    """Shared planted-typo titles frame for the edit-distance contracts:
    first 24 chars of whitespace-collapsed text, plus a single-char
    substitution variant (id + 1000000) for every doc_id % 7 == 0."""
    base = docs.selectExpr(
        "doc_id AS id",
        "substring(regexp_replace(text, '\\\\s+', ' '), 1, 24) AS s",
    )
    variants = docs.where(F.col("doc_id") % 7 == 0).selectExpr(
        "doc_id + 1000000 AS id",
        "concat(substring(substring(regexp_replace(text, '\\\\s+', ' '), 1, 24), 1, 6),"
        " 'q',"
        " substring(substring(regexp_replace(text, '\\\\s+', ' '), 1, 24), 8)) AS s",
    )
    return base.unionByName(variants)


def doc_editdist_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join (operators/editdist.py): all title
    pairs within Levenshtein distance 2, EXACT — Ed-Join/AllPairs prefix
    filtering over (gram, occurrence#) with a broadcast short panel, so
    the oracle can stay the brute-force inequality join.  Titles are the
    first 24 chars of whitespace-collapsed text; docs with doc_id % 7 == 0
    get a planted single-substitution variant (id + 1000000) so true
    typo pairs exist at every scale."""
    from schemasaurus_spark.operators.editdist import edit_distance_pairs

    titles = _editdist_titles(_docs(spark, sf_dir))
    return edit_distance_pairs(titles, text_col="s", id_col="id", max_dist=2, q=2)


_EDITDIST_ORACLE = """
WITH t AS (
  SELECT doc_id AS id,
         substr(regexp_replace(text, '\\s+', ' ', 'g'), 1, 24) AS s
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         concat(substr(substr(regexp_replace(text, '\\s+', ' ', 'g'), 1, 24), 1, 6),
                'q',
                substr(substr(regexp_replace(text, '\\s+', ' ', 'g'), 1, 24), 8))
  FROM documents WHERE doc_id % 7 = 0
)
SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.s, b.s) AS dist
FROM t a JOIN t b
  ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 2
WHERE levenshtein(a.s, b.s) <= 2
"""


def event_props_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed-schema DRIFT between two corpus versions
    (schema/profile.schema_profile_drift): the shape counterpart of the
    value-distribution drift family — added/removed paths, added/vanished
    types per surviving path (the silent producer-migration signal), and
    per-document share shifts.  Baseline = even event_ids, current = odd,
    with the current-side JSON construction deliberately migrated (/u
    integer->string for one class, /tags dropped, /new_key introduced,
    /v number->integer), so every status branch is non-vacuous.  The
    oracle builds both profiles closed-form from the construction
    arithmetic and replays the drift join/window/status logic in SQL."""
    from schemasaurus_spark.schema.profile import (
        json_schema_profile,
        schema_profile_drift,
    )

    ev = _table(spark, sf_dir, "events").select("event_id")
    base = ev.where("event_id % 2 = 0").selectExpr(
        """CASE WHEN event_id % 6 = 0
             THEN concat('{"u": ', CAST(event_id AS STRING),
                         ', "v": 1.5, "tags": ["x", "y"]}')
             ELSE concat('{"u": ', CAST(event_id AS STRING), ', "old": "s"}')
           END AS j"""
    )
    cur = ev.where("event_id % 2 = 1").selectExpr(
        """CASE WHEN event_id % 6 = 1
             THEN concat('{"u": "', CAST(event_id AS STRING), '", "v": 2}')
           WHEN event_id % 6 = 3
             THEN concat('{"u": ', CAST(event_id AS STRING), ', "new_key": true}')
             ELSE concat('{"u": ', CAST(event_id AS STRING), ', "old": "s"}')
           END AS j"""
    )
    return schema_profile_drift(
        json_schema_profile(base, "j"), json_schema_profile(cur, "j")
    )


_SCHEMA_DRIFT_ORACLE = """
WITH n AS (
  SELECT CAST(sum(CASE WHEN event_id % 6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN event_id % 6 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN event_id % 6 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN event_id % 6 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN event_id % 6 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
         CAST(sum(CASE WHEN event_id % 6 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n5
  FROM events
),
pb AS (
  SELECT '' AS path, 'object' AS jtype, n0+n2+n4 AS n FROM n
  UNION ALL SELECT '/u', 'integer', n0+n2+n4 FROM n
  UNION ALL SELECT '/v', 'number', n0 FROM n
  UNION ALL SELECT '/tags', 'array', n0 FROM n
  UNION ALL SELECT '/tags[]', 'string', 2*n0 FROM n
  UNION ALL SELECT '/old', 'string', n2+n4 FROM n
),
pc AS (
  SELECT '' AS path, 'object' AS jtype, n1+n3+n5 AS n FROM n
  UNION ALL SELECT '/u', 'string', n1 FROM n
  UNION ALL SELECT '/u', 'integer', n3+n5 FROM n
  UNION ALL SELECT '/v', 'integer', n1 FROM n
  UNION ALL SELECT '/new_key', 'boolean', n3 FROM n
  UNION ALL SELECT '/old', 'string', n5 FROM n
),
j AS (
  SELECT coalesce(pb.path, pc.path) AS path,
         coalesce(pb.jtype, pc.jtype) AS jtype,
         coalesce(pb.n, 0) AS n_base, coalesce(pc.n, 0) AS n_cur
  FROM pb FULL OUTER JOIN pc ON pb.path = pc.path AND pb.jtype = pc.jtype
),
w AS (
  SELECT j.*,
         sum(n_base) OVER (PARTITION BY path) AS pb_tot,
         sum(n_cur) OVER (PARTITION BY path) AS pc_tot,
         (SELECT n FROM pb WHERE path = '') AS rb,
         (SELECT n FROM pc WHERE path = '') AS rc
  FROM j
)
SELECT path, jtype, n_base, n_cur,
  n_base / rb AS share_base,
  n_cur / rc AS share_cur,
  (n_cur / rc) - (n_base / rb) AS share_delta,
  CASE WHEN pb_tot = 0 THEN 'added_path'
       WHEN pc_tot = 0 THEN 'removed_path'
       WHEN n_base = 0 THEN 'added_type'
       WHEN n_cur = 0 THEN 'removed_type'
       ELSE 'common' END AS status
FROM w
"""


_FD_COLS = ["doc_id", "lang", "source", "lang_code"]


def doc_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery (operators/fd.py): every ordered
    column pair's (n_groups, n_violating, holds) in one pass per lhs
    column.  lang_code = upper(lang) plants a bijective FD pair
    (lang <-> lang_code both hold), doc_id is a key (determines all),
    lang -> source fails — holding, failing, and derived-column branches
    all non-vacuous.  Oracle re-decides each pair from the same NULL-
    tolerant arithmetic (count(DISTINCT rhs) per lhs group)."""
    from schemasaurus_spark.operators.fd import fd_profile

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", "lang", "source", "upper(lang) AS lang_code"
    )
    return fd_profile(docs, _FD_COLS)


def _fd_oracle_sql() -> str:
    blocks = []
    for lhs in _FD_COLS:
        for rhs in _FD_COLS:
            if rhs == lhs:
                continue
            blocks.append(
                f"SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,"
                f" count(*) AS n_groups,"
                f" CAST(coalesce(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END), 0)"
                f"   AS BIGINT) AS n_violating,"
                f" coalesce(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END), 0) = 0 AS holds"
                f" FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS c"
                f"       FROM base GROUP BY {lhs})"
            )
        union = "\nUNION ALL ".join(blocks)
    return (
        "WITH base AS (SELECT doc_id, lang, source, upper(lang) AS lang_code"
        " FROM documents)\n" + union
    )


def doc_skipping_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data-skipping evaluation (operators/skipping.py): per-file
    min/max/count stats for TWO candidate layouts — ingestion order
    (doc_id DIV 64) vs value-clustered (n_chars DIV 32) — plus the
    metadata pruning verdict and the exact matching-row count for the
    predicate n_chars BETWEEN 200 AND 300, all from ONE scan (each row
    explodes into every layout's file before the map-side-combined
    groupBy; the exchange is files-sized, never data-sized).  The output
    reads the layout decision directly: the clustered layout's kept
    files are exactly the buckets intersecting the range, while the
    ingest layout keeps nearly every file for the same predicate."""
    from schemasaurus_spark.operators.skipping import range_skipping_profile

    docs = _docs(spark, sf_dir)
    return range_skipping_profile(
        docs,
        {
            "ingest": F.expr("doc_id DIV 64"),
            "clustered": F.expr("n_chars DIV 32"),
        },
        "n_chars",
        200,
        300,
    )


_SKIPPING_PROFILE_ORACLE = """
WITH tagged AS (
  SELECT 'ingest' AS layout, doc_id // 64 AS file_id, n_chars AS v
  FROM documents
  UNION ALL
  SELECT 'clustered' AS layout, n_chars // 32 AS file_id, n_chars AS v
  FROM documents
),
maps AS (
  SELECT layout, file_id,
         CAST(count(*) AS BIGINT) AS n_rows,
         min(v) AS min_v, max(v) AS max_v,
         CAST(coalesce(sum(CASE WHEN v BETWEEN 200 AND 300 THEN 1 ELSE 0 END),
                       0) AS BIGINT) AS n_matching
  FROM tagged GROUP BY layout, file_id
)
SELECT layout, file_id, n_rows, min_v, max_v, n_matching,
       (min_v IS NULL OR max_v < 200 OR min_v > 300) AS prunable
FROM maps
"""


def doc_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering layout (operators/zorder.py): Morton-interleaved
    (doc_id, n_chars) at 8 bits/dim into 16 fixed-width buckets, reporting
    per-bucket row counts and per-dimension min/max — the data-skipping
    ranges a z-ordered file layout exposes to a scan planner.  Scaling is
    exact integer arithmetic off one broadcast min/max aggregate; the
    oracle rebuilds every Morton key bit-for-bit in SQL (shift/mask
    interleave generated from the same Python loop)."""
    from schemasaurus_spark.operators.zorder import zorder_layout

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return zorder_layout(docs, ["doc_id", "n_chars"], bits=8, n_buckets=16)


def _zorder_oracle_sql(bits: int = 8, n_buckets: int = 16) -> str:
    maxv = (1 << bits) - 1
    total = 1 << (bits * 2)
    width = -(-total // n_buckets)
    terms = []
    for j, s in enumerate(["s0", "s1"]):
        for b in range(bits):
            terms.append(f"((({s} >> {b}) & 1) << {b * 2 + j})")
    interleave = " | ".join(terms)
    return f"""
WITH s AS (
  SELECT CAST(min(doc_id) AS BIGINT) AS mn0, CAST(max(doc_id) AS BIGINT) AS mx0,
         CAST(min(n_chars) AS BIGINT) AS mn1, CAST(max(n_chars) AS BIGINT) AS mx1
  FROM documents
),
sc AS (
  SELECT d.doc_id, d.n_chars,
    CASE WHEN mx0 > mn0 THEN ((d.doc_id - mn0) * {maxv}) // (mx0 - mn0)
         ELSE 0 END AS s0,
    CASE WHEN mx1 > mn1 THEN ((d.n_chars - mn1) * {maxv}) // (mx1 - mn1)
         ELSE 0 END AS s1
  FROM documents d, s
),
zz AS (SELECT doc_id, n_chars, ({interleave}) AS zv FROM sc)
SELECT zv // {width} AS bucket, count(*) AS n_rows,
       min(doc_id) AS doc_id_min, max(doc_id) AS doc_id_max,
       min(n_chars) AS n_chars_min, max(n_chars) AS n_chars_max
FROM zz GROUP BY 1
"""


def doc_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters (operators/heavy.py) over the shared
    tokenization at k=32: per-partition state bounded at k-1 counters
    regardless of domain size, candidate union provably a superset of the
    true hitters (pigeonhole), broadcast-semi-join exact verify.  The
    oracle is the plain GROUP BY ... HAVING cnt*k > n the sketch path
    must equal exactly."""
    from schemasaurus_spark.operators.heavy import heavy_hitters
    from schemasaurus_spark.operators.tokenize import tokenized

    toks = tokenized(_docs(spark, sf_dir), "text", "doc_id").select(
        F.explode("_toks").alias("tok")
    )
    return heavy_hitters(toks, "tok", 32)


_HEAVY_ORACLE = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
tot AS (SELECT count(*) AS n FROM toks)
SELECT tok AS item, count(*) AS cnt
FROM toks, tot
GROUP BY tok, n
HAVING count(*) * 32 > n
"""


def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample (sampling.weighted_sample):
    sequential-Poisson priorities u/w over md5 fractions — inclusion
    probability ~ n_chars, identical row set across runs/partitionings/
    engines; TakeOrderedAndProject, never a corpus sort.  Oracle replays
    the exact two-division priority and the same ORDER BY ... LIMIT."""
    from schemasaurus_spark.operators.sampling import weighted_sample

    return weighted_sample(_docs(spark, sf_dir), 100, "n_chars")


_WEIGHTED_SAMPLE_ORACLE = """
SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT *,
    ((CAST(('0x' || substr(md5(doc_id || ':wsample:0'), 1, 15)) AS BIGINT) + 1)
     / 1152921504606846976.0) / n_chars AS pr
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
) ORDER BY pr, doc_id LIMIT 100
"""


def doc_dataset_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order/partitioning-invariant corpus checksum (diff.dataset_checksum):
    one (n_rows, checksum) row from exact decimal sums of 60-bit row
    fingerprints mod 2^60 — the O(1)-output release-equality primitive.
    The oracle rebuilds every fingerprint (fixed-width md5 segments) and
    the modular sum in SQL."""
    from schemasaurus_spark.operators.diff import dataset_checksum

    return dataset_checksum(
        _docs(spark, sf_dir), ["doc_id", "text", "lang", "source", "n_chars"]
    )


_CHECKSUM_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(coalesce(
    sum(CAST(('0x' || substr(fp, 1, 15)) AS BIGINT)) % 1152921504606846976,
    0) AS BIGINT) AS checksum
FROM (
  SELECT md5(concat(
    CASE WHEN doc_id IS NULL THEN '-' ELSE md5(CAST(doc_id AS VARCHAR)) END,
    CASE WHEN text IS NULL THEN '-' ELSE md5(text) END,
    CASE WHEN lang IS NULL THEN '-' ELSE md5(lang) END,
    CASE WHEN source IS NULL THEN '-' ELSE md5(source) END,
    CASE WHEN n_chars IS NULL THEN '-' ELSE md5(CAST(n_chars AS VARCHAR)) END
  )) AS fp FROM documents
)
"""


_CORR_COLS = ["doc_id", "n_chars", "text_len", "konst"]


def doc_corr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise Pearson profile (stats.correlation_profile): all
    sufficient statistics as exact decimal sums in ONE scan, r as one
    final IEEE formula — bit-identical across engines, unlike streaming
    F.corr.  text_len plants a near-1 pair (n_chars ~ length(text)),
    konst=7 exercises the zero-variance NULL-r branch."""
    from schemasaurus_spark.operators.stats import correlation_profile

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "n_chars",
        "CAST(length(text) AS BIGINT) AS text_len",
        "CAST(7 AS BIGINT) AS konst",
    )
    return correlation_profile(docs, _CORR_COLS)


def _corr_oracle_sql() -> str:
    blocks = []
    for i, x in enumerate(_CORR_COLS):
        for y in _CORR_COLS[i + 1 :]:
            blocks.append(f"""
SELECT '{x}' AS col_x, '{y}' AS col_y, CAST(n AS BIGINT) AS n,
  CASE WHEN sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) > 0
        AND sqrt(CAST(n*syy - sy*sy AS DOUBLE)) > 0
       THEN CAST(n*sxy - sx*sy AS DOUBLE)
            / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
               * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) END AS r
FROM (
  SELECT coalesce(count(*), 0) AS n,
         coalesce(sum({x}), 0) AS sx, coalesce(sum({y}), 0) AS sy,
         coalesce(sum({x}*{y}), 0) AS sxy,
         coalesce(sum({x}*{x}), 0) AS sxx, coalesce(sum({y}*{y}), 0) AS syy
  FROM base WHERE {x} IS NOT NULL AND {y} IS NOT NULL
)""")
    return (
        "WITH base AS (SELECT doc_id, n_chars,"
        " CAST(length(text) AS BIGINT) AS text_len,"
        " CAST(7 AS BIGINT) AS konst FROM documents)\n"
        + "\nUNION ALL".join(blocks)
    )


def event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Tukey-fence outliers (operators/outliers.py): exact
    interpolated quartiles per event_type (round-6 to absorb engine ulp
    drift — the same parity discipline as event_value_quartiles), fences
    broadcast back, rows outside flagged with side + violated bound.
    One corpus scan for fences, one map-side join + filter to flag."""
    from schemasaurus_spark.operators.outliers import iqr_outliers

    ev = _table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return iqr_outliers(ev, "value", ["event_type"])


_OUTLIERS_ORACLE = """
WITH f AS (
  SELECT event_type,
         round(quantile_cont(value, 0.25), 6) AS q1,
         round(quantile_cont(value, 0.75), 6) AS q3
  FROM events GROUP BY event_type
)
SELECT event_id, event_type, value,
  CASE WHEN value < q1 - 1.5*(q3-q1) THEN 'low'
       WHEN value > q3 + 1.5*(q3-q1) THEN 'high' END AS side,
  CASE WHEN value < q1 - 1.5*(q3-q1) THEN q1 - 1.5*(q3-q1)
       WHEN value > q3 + 1.5*(q3-q1) THEN q3 + 1.5*(q3-q1) END AS fence
FROM events JOIN f USING (event_type)
WHERE value < q1 - 1.5*(q3-q1) OR value > q3 + 1.5*(q3-q1)
"""


def doc_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit (sampling.split_leakage): the
    edit-distance near-dup pairs joined against the deterministic split
    assignment — pairs whose members straddle splits are the leak a
    per-document assignment cannot see.  Composes two already-oracled
    operators; the oracle replays the pair join + the md5 split formula
    end-to-end."""
    from schemasaurus_spark.operators.editdist import edit_distance_pairs
    from schemasaurus_spark.operators.sampling import assign_splits, split_leakage

    titles = _editdist_titles(_docs(spark, sf_dir))
    pairs = edit_distance_pairs(titles, text_col="s", id_col="id", max_dist=2, q=2)
    splits = assign_splits(titles, _SPLIT_FRACTIONS, key_col="id", seed=0).select(
        "id", "split"
    )
    return split_leakage(pairs, splits, key_col="id")


def _split_leakage_oracle_sql() -> str:
    from schemasaurus_spark.operators.sampling import _keep_threshold

    items = list(_SPLIT_FRACTIONS.items())
    cum, whens = 0.0, []
    for name, frac in items[:-1]:
        cum += frac
        whens.append(f"WHEN b < {_keep_threshold(cum)} THEN '{name}'")
    case = f"CASE {' '.join(whens)} ELSE '{items[-1][0]}' END"
    return f"""
WITH t AS (
  SELECT doc_id AS id,
         substr(regexp_replace(text, '\\s+', ' ', 'g'), 1, 24) AS s
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         concat(substr(substr(regexp_replace(text, '\\s+', ' ', 'g'), 1, 24), 1, 6),
                'q',
                substr(substr(regexp_replace(text, '\\s+', ' ', 'g'), 1, 24), 8))
  FROM documents WHERE doc_id % 7 = 0
),
p AS (
  SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.s, b.s) AS dist
  FROM t a JOIN t b
    ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 2
  WHERE levenshtein(a.s, b.s) <= 2
),
sp AS (
  SELECT id, {case} AS split FROM (
    SELECT id,
           CAST(('0x' || substr(md5(id || ':split:0'), 1, 4)) AS INTEGER) AS b
    FROM t)
)
SELECT p.id_a, p.id_b, p.dist, sa.split AS split_a, sb.split AS split_b
FROM p JOIN sp sa ON p.id_a = sa.id JOIN sp sb ON p.id_b = sb.id
WHERE sa.split <> sb.split
"""


_REG_V1 = {
    "type": "object",
    "properties": {"n_chars": {"type": "integer", "maximum": 300}},
}
_REG_V2 = {
    "type": "object",
    "properties": {
        "n_chars": {"type": "integer", "maximum": 200},
        "lang": {"type": "string", "enum": ["en", "de"]},
    },
}


def doc_versioned_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-schema routing (schema/registry.py): rows dispatch to
    their version's compiled validator inside ONE CASE expression — one
    scan, no per-version filter+union re-reads; unregistered versions
    fail closed with a schemaVersion error.  Versions assigned in-plan
    (doc_id%31==0 -> unknown '9'; else parity picks v1/v2 with different
    maxima + a v2-only enum), so every dispatch branch is non-vacuous;
    the oracle replays each version's keyword conditions under the same
    CASE."""
    from schemasaurus_spark.schema.registry import SchemaRegistry

    docs = _docs(spark, sf_dir).selectExpr(
        "*",
        "CASE WHEN doc_id % 31 = 0 THEN '9'"
        " WHEN doc_id % 2 = 0 THEN '1' ELSE '2' END AS schema_version",
    )
    out = SchemaRegistry({"1": _REG_V1, "2": _REG_V2}).validate(docs)
    return (
        out.where(~F.col("valid"))
        .select("doc_id", "schema_version", F.explode("errors").alias("err"))
        .select(
            "doc_id",
            F.col("schema_version").alias("version"),
            F.col("err.code").alias("code"),
            F.col("err.path").alias("json_pointer"),
            F.col("err.value").alias("value"),
        )
    )


_REGISTRY_ORACLE = """
WITH v AS (
  SELECT doc_id, lang, n_chars,
    CASE WHEN doc_id % 31 = 0 THEN '9'
         WHEN doc_id % 2 = 0 THEN '1' ELSE '2' END AS version
  FROM documents
)
SELECT doc_id, version, 'maximum' AS code, '/n_chars' AS json_pointer,
       CAST(n_chars AS VARCHAR) AS value
FROM v WHERE version = '1' AND n_chars > 300
UNION ALL
SELECT doc_id, version, 'maximum', '/n_chars', CAST(n_chars AS VARCHAR)
FROM v WHERE version = '2' AND n_chars > 200
UNION ALL
SELECT doc_id, version, 'enum', '/lang', lang
FROM v WHERE version = '2' AND lang NOT IN ('en', 'de')
UNION ALL
SELECT doc_id, version, 'schemaVersion', '', version
FROM v WHERE version = '9'
"""


def doc_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit (operators/privacy.py): k-anonymity + l-diversity
    over quasi-identifier columns (lang, source, length band) with a
    derived sensitive label — violating groups only, k-finding subsuming
    the l-finding.  One map-side-combinable groupBy; the oracle replays
    the same grouping + HAVING + subsumption CASE."""
    from schemasaurus_spark.operators.privacy import k_anonymity_report

    docs = _docs(spark, sf_dir).selectExpr(
        "lang",
        "source",
        "n_chars div 100 AS len_band",
        "CAST(doc_id % 4 AS STRING) AS grade",
    )
    return k_anonymity_report(
        docs, ["lang", "source", "len_band"], k=3, sensitive_col="grade", l=2
    )


_KANON_ORACLE = """
WITH base AS (
  SELECT lang, source, n_chars // 100 AS len_band,
         CAST(doc_id % 4 AS VARCHAR) AS grade
  FROM documents
),
g AS (
  SELECT lang, source, len_band,
         CAST(count(*) AS BIGINT) AS group_size,
         CAST(count(DISTINCT grade) AS BIGINT) AS distinct_sensitive
  FROM base GROUP BY lang, source, len_band
)
SELECT lang, source, len_band, group_size, distinct_sensitive,
  CASE WHEN group_size < 3 THEN 'k_anonymity'
       WHEN distinct_sensitive < 2 THEN 'l_diversity' END AS issue
FROM g WHERE group_size < 3 OR distinct_sensitive < 2
"""


def doc_k_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppression fix for k-anonymity (privacy.suppress_under_k): drop
    every row in an under-k quasi-identifier group, null-safe anti-join
    so NULL-valued groups are removed too; result k-anonymous by
    construction.  Oracle is the NOT EXISTS with IS NOT DISTINCT FROM."""
    from schemasaurus_spark.operators.privacy import suppress_under_k

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", "lang", "source", "n_chars div 100 AS len_band"
    )
    return suppress_under_k(docs, ["lang", "source", "len_band"], k=3)


_KSUPPRESS_ORACLE = """
WITH base AS (
  SELECT doc_id, lang, source, n_chars // 100 AS len_band FROM documents
),
g AS (
  SELECT lang, source, len_band FROM base
  GROUP BY lang, source, len_band HAVING count(*) < 3
)
SELECT b.doc_id, b.lang, b.source, b.len_band FROM base b
WHERE NOT EXISTS (
  SELECT 1 FROM g
  WHERE g.lang IS NOT DISTINCT FROM b.lang
    AND g.source IS NOT DISTINCT FROM b.source
    AND g.len_band IS NOT DISTINCT FROM b.len_band
)
"""


def doc_component_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware splits (sampling.component_splits): duplicate
    clusters hash on their connected-component id so whole clusters land
    in ONE split — the preventive form of the split-leakage audit
    (leakage over the result is zero by construction, pytest-pinned).
    Pairs come from the edit-distance join; the oracle replays pairs,
    recursive-CTE reachability, and the md5 split thresholds."""
    from schemasaurus_spark.operators.editdist import edit_distance_pairs
    from schemasaurus_spark.operators.sampling import component_splits

    titles = _editdist_titles(_docs(spark, sf_dir))
    pairs = edit_distance_pairs(titles, text_col="s", id_col="id", max_dist=2, q=2)
    out = component_splits(titles, pairs, _SPLIT_FRACTIONS, key_col="id", seed=0)
    return out.select("id", "comp_id", "split")


def _component_splits_oracle_sql() -> str:
    from schemasaurus_spark.operators.sampling import _keep_threshold

    items = list(_SPLIT_FRACTIONS.items())
    cum, whens = 0.0, []
    for name, frac in items[:-1]:
        cum += frac
        whens.append(f"WHEN bk < {_keep_threshold(cum)} THEN '{name}'")
    case = f"CASE {' '.join(whens)} ELSE '{items[-1][0]}' END"
    return f"""
WITH RECURSIVE t AS (
  SELECT doc_id AS id,
         substr(regexp_replace(text, '\\s+', ' ', 'g'), 1, 24) AS s
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         concat(substr(substr(regexp_replace(text, '\\s+', ' ', 'g'), 1, 24), 1, 6),
                'q',
                substr(substr(regexp_replace(text, '\\s+', ' ', 'g'), 1, 24), 8))
  FROM documents WHERE doc_id % 7 = 0
),
p AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM t a JOIN t b
    ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 2
  WHERE levenshtein(a.s, b.s) <= 2
),
und AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION
  SELECT id_b AS u, id_a AS v FROM p
),
reach(id, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und) AS n(u)
  UNION
  SELECT und.u, reach.r FROM und JOIN reach ON reach.id = und.v
),
comp AS (SELECT id, min(r) AS comp_id FROM reach GROUP BY id),
j AS (
  SELECT t.id, comp.comp_id,
         CAST(('0x' || substr(md5(
           CAST(coalesce(comp.comp_id, t.id) AS VARCHAR) || ':split:0'
         ), 1, 4)) AS INTEGER) AS bk
  FROM t LEFT JOIN comp ON t.id = comp.id
)
SELECT id, comp_id, {case} AS split FROM j
"""


def embedding_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized cosine top-5 (operators/quant.py): symmetric
    per-vector quantization (scales cancel out of cosine), exact int64
    dot products, one IEEE division per pair — a quarter of the float32
    bytes at query time.  The oracle rebuilds every quantized vector
    with the identical floor(x/m*127+0.5) expression and replays the
    integer dots in SQL."""
    from schemasaurus_spark.operators.quant import int8_topk

    emb = _table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = emb.where(F.col("vec_id") < 8)
    return int8_topk(emb, probes, k=5)


_INT8_TOPK_ORACLE = """
WITH m AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx,
         embedding
  FROM embeddings WHERE embedding IS NOT NULL
),
q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CASE WHEN mx > 0
           THEN CAST(floor(CAST(x AS DOUBLE) / mx * 127.0 + 0.5) AS BIGINT)
           ELSE 0 END) AS qv
  FROM m
),
n AS (
  SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS nrm FROM q
),
scored AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         CASE WHEN p.nrm > 0 AND c.nrm > 0
              THEN list_dot_product(p.qv, c.qv) / (p.nrm * c.nrm) END AS sim
  FROM n p JOIN n c ON p.vec_id <> c.vec_id
  WHERE p.vec_id < 8
),
ranked AS (
  SELECT probe_id, neighbor_id, sim,
         row_number() OVER (
           PARTITION BY probe_id
           ORDER BY sim DESC NULLS LAST, neighbor_id ASC) AS rank
  FROM scored
)
SELECT probe_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       round(sim, 6) AS similarity
FROM ranked WHERE rank <= 5
"""


def doc_markup_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus markup stripping (text.strip_markup): script/style
    blocks removed whole, tags dropped, core entities decoded LAST (a
    double-escaped &amp;lt; must stay literal), whitespace collapsed —
    pure lookaround-free regex projection so Java and RE2 agree.  HTML
    is planted in-plan around every third doc; the oracle replays the
    identical pattern chain in DuckDB (RE2)."""
    from schemasaurus_spark.operators.text import strip_markup

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        """CASE WHEN doc_id % 3 = 0 THEN concat(
             '<html><script>var x = "<b>";</script><p class="a">', text,
             '</p><style>p {}</style> &amp; &lt;tag&gt;</html>')
           ELSE text END AS text""",
    )
    return strip_markup(docs).select("doc_id", "n_tags", "clean_text")


_MARKUP_ORACLE = r"""
WITH built AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN concat(
      '<html><script>var x = "<b>";</script><p class="a">', text,
      '</p><style>p {}</style> &amp; &lt;tag&gt;</html>')
    ELSE text END AS t
  FROM documents
),
c1 AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(t, '(?s)<[^>]+>')) AS BIGINT) AS n_tags,
    regexp_replace(regexp_replace(regexp_replace(t,
      '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g'),
      '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g'),
      '(?s)<[^>]+>', ' ', 'g') AS s
  FROM built
)
SELECT doc_id, n_tags,
  trim(regexp_replace(
    replace(replace(replace(replace(replace(s,
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      '&amp;', '&'),
    '\s+', ' ', 'g')) AS clean_text
FROM c1
"""


def event_user_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile (operators/skew.py): the pre-flight check
    before a 10^12-row join — top-20 hottest user_ids with share,
    cumulative share, and the salt factor that flattens each to average
    key load.  One combinable groupBy + TakeOrdered; oracle replays the
    count/rank/running-share/ceil arithmetic with the same tie-break."""
    from schemasaurus_spark.operators.skew import skew_profile

    return skew_profile(_table(spark, sf_dir, "events"), "user_id", top_n=20)


_SKEW_ORACLE = """
WITH counts AS (
  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id
),
tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM counts
),
top AS (
  SELECT key, cnt FROM counts
  ORDER BY cnt DESC, key ASC NULLS LAST LIMIT 20
)
SELECT
  CAST(row_number() OVER (ORDER BY cnt DESC, key ASC NULLS LAST) AS INTEGER)
    AS rank,
  key, cnt,
  cnt / n_rows AS share,
  sum(cnt / n_rows) OVER (ORDER BY cnt DESC, key ASC NULLS LAST) AS cum_share,
  CAST(ceil(CAST(cnt * n_distinct AS DOUBLE) / n_rows) AS BIGINT)
    AS salt_factor
FROM top, tot
"""


_CONC_COLS = ["lang", "source", "konst"]


def doc_concentration_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-concentration profile (stats.category_concentration):
    max-share / Gini / entropy / normalized entropy per categorical
    column — the near-constant-vs-near-uniform signal cardinality alone
    can't give.  konst exercises the single-category branch (entropy
    +0.0 normalized from IEEE -0.0, norm_entropy NULL).  Counts are
    exact; the float folds are round-6 (the quartiles-family parity
    discipline), and the oracle applies the identical +0.0 / round-6
    chain."""
    from schemasaurus_spark.operators.stats import category_concentration

    docs = _docs(spark, sf_dir).selectExpr(
        "lang", "source", "'k' AS konst"
    )
    return category_concentration(docs, _CONC_COLS)


def _concentration_oracle_sql() -> str:
    blocks = []
    for c in _CONC_COLS:
        src = "'k' AS v" if c == "konst" else f"{c} AS v"
        blocks.append(f"""
SELECT '{c}' AS "column",
       CAST(coalesce(sum(_c), 0) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(max(_c / _n), 6) AS max_share,
       round(1 - sum((_c / _n) * (_c / _n)), 6) AS gini,
       round(-sum((_c / _n) * ln(_c / _n)) + 0.0, 6) AS entropy,
       CASE WHEN count(*) > 1
            THEN round(round(-sum((_c / _n) * ln(_c / _n)) + 0.0, 6)
                       / ln(CAST(count(*) AS DOUBLE)), 6) END AS norm_entropy
FROM (
  SELECT v, CAST(count(*) AS BIGINT) AS _c,
         sum(count(*)) OVER () AS _n
  FROM (SELECT {src} FROM documents) WHERE v IS NOT NULL GROUP BY v
)""")
    return "\nUNION ALL".join(blocks)


# shared between the Spark query and the DuckDB oracle: a varied JSON
# corpus built in-plan from events (string columns only, so the snippet is
# valid in both dialects).  class 2 is deliberately unterminated
# (malformed-JSON path), class 1 mis-types k as string, class 3 adds an
# undeclared key, class 5 mixes number+integer in one array.
_PROPS_JSON_CASE = """
CASE event_id % 7
  WHEN 0 THEN '{"k": ' || ks || ', "tags": ["' || event_type
              || '", "x"], "meta": {"src": "' || event_type
              || '", "lvl": ' || k3s || '}}'
  WHEN 1 THEN '{"k": "' || ks || '"}'
  WHEN 2 THEN '{"k": ' || ks
  WHEN 3 THEN '{"k": ' || ks || ', "extra": true}'
  WHEN 4 THEN '{"k": null}'
  WHEN 5 THEN '{"k": ' || ks || ', "vals": [1.5, ' || k5s || ']}'
  ELSE '{"k": ' || ks || '}'
END AS j
"""

_PROPS_DECLARED_SCHEMA = {
    "type": "object",
    "properties": {
        "k": {"type": "integer"},
        "tags": {"type": "array", "items": {"type": "string"}},
        "meta": {
            "type": "object",
            "properties": {"src": {"type": "string"}, "lvl": {"type": "integer"}},
        },
        "vals": {"type": "array", "items": {"type": "number"}},
    },
}


def event_props_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed-schema profile (schema inference) of a semi-structured
    column: per (JSON-pointer path, JSON type) occurrence counts via the
    Arrow-batch walk kernel with in-kernel pre-aggregation — the exchange
    carries per-batch counter rows, never per-JSON-node rows
    (schema/profile.json_schema_profile).  Input is a varied JSON corpus
    constructed in-plan from events (nested objects, arrays, a mis-typed
    key, a malformed 1-in-7 sliver), identically in both engines; the
    oracle re-derives every (path, type) count closed-form from the
    construction arithmetic — the same discipline as the PNG pixel-formula
    oracle."""
    from schemasaurus_spark.schema.profile import json_schema_profile

    ev = _table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "event_type",
        "CAST(CAST(get_json_object(props, '$.k') AS INT) AS STRING) AS ks",
        "CAST(CAST(get_json_object(props, '$.k') AS INT) % 3 AS STRING) AS k3s",
        "CAST(CAST(get_json_object(props, '$.k') AS INT) % 5 AS STRING) AS k5s",
    )
    built = ev.selectExpr(_PROPS_JSON_CASE)
    return json_schema_profile(built, "j")


_PROPS_PROFILE_COUNTS_CTE = """
WITH n AS (
  SELECT CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN event_id % 7 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN event_id % 7 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN event_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN event_id % 7 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
         CAST(sum(CASE WHEN event_id % 7 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n5,
         CAST(sum(CASE WHEN event_id % 7 = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n6
  FROM events
)
"""

_PROPS_PROFILE_ORACLE = _PROPS_PROFILE_COUNTS_CTE + """
SELECT path, jtype, n FROM (
  SELECT '' AS path, 'object' AS jtype, n0+n1+n3+n4+n5+n6 AS n FROM n
  UNION ALL SELECT '', 'malformed', n2 FROM n
  UNION ALL SELECT '/k', 'integer', n0+n3+n5+n6 FROM n
  UNION ALL SELECT '/k', 'string', n1 FROM n
  UNION ALL SELECT '/k', 'null', n4 FROM n
  UNION ALL SELECT '/tags', 'array', n0 FROM n
  UNION ALL SELECT '/tags[]', 'string', 2*n0 FROM n
  UNION ALL SELECT '/meta', 'object', n0 FROM n
  UNION ALL SELECT '/meta/src', 'string', n0 FROM n
  UNION ALL SELECT '/meta/lvl', 'integer', n0 FROM n
  UNION ALL SELECT '/extra', 'boolean', n3 FROM n
  UNION ALL SELECT '/vals', 'array', n5 FROM n
  UNION ALL SELECT '/vals[]', 'number', n5 FROM n
  UNION ALL SELECT '/vals[]', 'integer', n5 FROM n
) t WHERE n > 0
"""


def event_props_schema_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conformance diff of the observed profile against a DECLARED draft-4
    schema whose (path, allowed-types) inventory is enumerated by the same
    compiled schema iterator the validator uses (ghost walk — the
    reference's iterateSchema driving declaration discovery,
    /root/reference/src/compiler.js:294-311).  Returns only violating
    (path, jtype, n, issue) rows: the mis-typed string k, the JSON-null k,
    the undeclared /extra key, and the malformed sliver.  The
    integer-in-a-number-array case (class 5) must NOT appear — draft-4
    numeric subsumption."""
    from schemasaurus_spark.schema.profile import schema_conformance

    profile = event_props_schema_profile(spark, sf_dir)
    return schema_conformance(profile, _PROPS_DECLARED_SCHEMA)


_PROPS_CONFORMANCE_ORACLE = _PROPS_PROFILE_COUNTS_CTE + """
SELECT path, jtype, n, issue FROM (
  SELECT '' AS path, 'malformed' AS jtype, n2 AS n, 'malformed' AS issue FROM n
  UNION ALL SELECT '/k', 'string', n1, 'type_mismatch' FROM n
  UNION ALL SELECT '/k', 'null', n4, 'type_mismatch' FROM n
  UNION ALL SELECT '/extra', 'boolean', n3, 'undeclared_path' FROM n
) t WHERE n > 0
"""


def event_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.75)"), 6).alias("p75"),
        )
    )


_QUARTILES_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return doc_validation_violations(spark, "/root/testdata/sf0.001")



def event_value_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (stats.benford_profile): leading-digit
    distribution of a positive integral amount column vs log10(1+1/d),
    with per-digit chi-square terms — the minted-vs-grown data-quality
    signal.  Amounts are floor(value*1000) so the digit comes from a
    bigint's decimal string (float formatting is not engine-portable; the
    IEEE multiply+floor is).  Zero-count digits still emit rows.  The
    oracle replays the identical arithmetic chain: round-6 expected_p
    FIRST, terms computed from the rounded p."""
    from schemasaurus_spark.operators.stats import benford_profile

    ev = _table(spark, sf_dir, "events").selectExpr(
        "CAST(floor(value * 1000) AS BIGINT) AS amount"
    )
    return benford_profile(ev, "amount")


_BENFORD_ORACLE = """
WITH v AS (
  SELECT CAST(floor(value * 1000) AS BIGINT) AS _v FROM events
  WHERE CAST(floor(value * 1000) AS BIGINT) > 0
), c AS (
  SELECT CAST(substr(CAST(_v AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS cnt
  FROM v GROUP BY 1
), n AS (SELECT CAST(count(*) AS BIGINT) AS _n FROM v),
d AS (SELECT CAST(range AS INT) AS digit FROM range(1, 10))
SELECT d.digit,
       coalesce(c.cnt, 0) AS cnt,
       CASE WHEN _n > 0
            THEN round(CAST(coalesce(c.cnt, 0) AS DOUBLE) / _n, 6) END AS share,
       round(ln(1.0 + 1.0 / d.digit) / ln(10.0), 6) AS expected_p,
       CASE WHEN _n > 0 THEN round(
            pow(coalesce(c.cnt, 0)
                - _n * round(ln(1.0 + 1.0 / d.digit) / ln(10.0), 6), 2)
            / (_n * round(ln(1.0 + 1.0 / d.digit) / ln(10.0), 6)), 6)
       END AS chi2_term
FROM d LEFT JOIN c ON d.digit = c.digit CROSS JOIN n
"""



def event_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-freshness profile per source (monitor.freshness_profile):
    per event_type arrival stats with staleness measured against the
    corpus's own newest row — no wall clock, so the report is
    reproducible by construction.  All folds are exact microsecond
    epochs; floats are single IEEE divisions rounded to 6."""
    from schemasaurus_spark.operators.monitor import freshness_profile

    return freshness_profile(
        _table(spark, sf_dir, "events"), "ts", by="event_type"
    )


_FRESHNESS_ORACLE = """
WITH g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         min(ts) AS first_ts, max(ts) AS last_ts,
         epoch_us(min(ts)) AS first_us, epoch_us(max(ts)) AS last_us
  FROM events GROUP BY 1
), m AS (SELECT max(last_us) AS as_of_us FROM g)
SELECT event_type, n, first_ts, last_ts,
       round((as_of_us - last_us) / 1000000.0, 6) AS lag_seconds,
       round((last_us - first_us) / 1000000.0, 6) AS span_seconds,
       CASE WHEN n > 1 THEN
            round((last_us - first_us) / (n - 1) / 1000000.0, 6)
       END AS mean_interarrival_seconds
FROM g CROSS JOIN m
"""


def event_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomaly detection over zero-filled hourly buckets
    (monitor.volume_anomalies).  The input plants both failure modes
    in-plan, identically in both engines: hour 2024-01-20 06 is removed
    (a silent outage the spine must zero-fill and flag) and hour
    2024-01-15 12 is replicated 5x via explode(sequence) (a burst).
    Mean/stddev fold exact integer sums; zscore is one IEEE chain
    rounded to 6."""
    from schemasaurus_spark.operators.monitor import volume_anomalies

    ev = (
        _table(spark, sf_dir, "events")
        .where("date_trunc('hour', ts) <> TIMESTAMP '2024-01-20 06:00:00'")
        .select(
            "ts",
            F.explode(
                F.expr(
                    "sequence(1, CASE WHEN date_trunc('hour', ts) = "
                    "TIMESTAMP '2024-01-15 12:00:00' THEN 5 ELSE 1 END)"
                )
            ).alias("_r"),
        )
        .select("ts")
    )
    return volume_anomalies(ev, "ts", bucket="hour", z=3.0)


_VOLUME_ORACLE = """
WITH src AS (
  SELECT ts FROM events
  WHERE date_trunc('hour', ts) <> TIMESTAMP '2024-01-20 06:00:00'
), rep AS (
  SELECT ts FROM src, unnest(generate_series(1,
    CASE WHEN date_trunc('hour', ts) = TIMESTAMP '2024-01-15 12:00:00'
         THEN 5 ELSE 1 END))
), c AS (
  SELECT date_trunc('hour', ts) AS bucket_ts, CAST(count(*) AS BIGINT) AS cnt
  FROM rep GROUP BY 1
), r AS (SELECT min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM c),
s AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS TIMESTAMP)
         AS bucket_ts
  FROM r
), f AS (
  SELECT s.bucket_ts, coalesce(c.cnt, CAST(0 AS BIGINT)) AS cnt
  FROM s LEFT JOIN c USING (bucket_ts)
), st AS (
  SELECT CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(cnt) AS BIGINT) AS s1,
         CAST(sum(cnt * cnt) AS BIGINT) AS s2
  FROM f
)
SELECT bucket_ts, cnt,
       round(s1 / nb, 6) AS mean,
       round(sqrt(greatest(s2 / nb - (s1 / nb) * (s1 / nb), 0.0)), 6) AS stddev,
       CASE WHEN sqrt(greatest(s2 / nb - (s1 / nb) * (s1 / nb), 0.0)) > 0 THEN
         round((cnt - s1 / nb)
               / sqrt(greatest(s2 / nb - (s1 / nb) * (s1 / nb), 0.0)), 6)
       END AS zscore,
       coalesce(abs(CASE WHEN sqrt(greatest(s2 / nb - (s1 / nb) * (s1 / nb), 0.0)) > 0 THEN
         round((cnt - s1 / nb)
               / sqrt(greatest(s2 / nb - (s1 / nb) * (s1 / nb), 0.0)), 6)
       END) > 3.0, false) AS anomalous
FROM f CROSS JOIN st
"""



def media_audio_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs over quantized energy-envelope shingles
    (operators/audio_fp.py): 200 closed-form WAVs + 60 PLANTED truncated
    re-encodes of ids 0..59 (same samples, one frame shorter, distinct
    media_ref).  The oracle never decodes a byte — it rebuilds every
    frame energy from the synth sample formula, quantizes with the same
    integer division, shingles with the same k=4 window, and replays the
    distinct-gram join; variants of audios shorter than 6 frames fall
    below min_shared by construction (non-vacuous negative branch)."""
    from schemasaurus_spark.operators.audio_fp import audio_near_dups
    from schemasaurus_spark.operators.media import synth_wav_media_table

    base = synth_wav_media_table(spark, 200, seed=42)
    variants = synth_wav_media_table(
        spark, 60, seed=42, trunc=16, ref_prefix="media://wav/v"
    )
    return audio_near_dups(
        base.unionByName(variants), frame_len=16, k=4, min_shared=2
    )


_AUDIO_NEAR_DUPS_ORACLE = """
WITH dims AS (
  SELECT 'media://wav/' || CAST(t.i AS VARCHAR) AS ref,
         t.i AS id, t.i % 256 + 64 AS n, t.i % 2 + 1 AS ch
  FROM generate_series(0, 199) AS t(i)
  UNION ALL
  SELECT 'media://wav/v' || CAST(t.i AS VARCHAR) AS ref,
         t.i, t.i % 256 + 48, t.i % 2 + 1
  FROM generate_series(0, 59) AS t(i)
),
en AS (
  SELECT d.ref, t.v // 16 AS f,
         CAST(sum(((d.id*31 + t.v*17 + c.v*7 + 42) % 65536 - 32768)
                  * ((d.id*31 + t.v*17 + c.v*7 + 42) % 65536 - 32768))
              AS BIGINT) AS energy
  FROM dims d
  JOIN generate_series(0, 319) AS t(v) ON t.v < (d.n // 16) * 16
  JOIN generate_series(0, 1) AS c(v) ON c.v < d.ch
  GROUP BY d.ref, t.v // 16
),
qs AS (
  SELECT ref, array_agg(energy // 16777216 ORDER BY f) AS q
  FROM en GROUP BY ref
),
grams AS (
  SELECT DISTINCT ref, array_to_string(q[u.i:u.i+3], ',') AS gram
  FROM qs JOIN generate_series(1, 512) AS u(i) ON u.i <= len(q) - 3
)
SELECT a.ref AS ref_a, b.ref AS ref_b,
       CAST(count(*) AS BIGINT) AS shared_grams
FROM grams a JOIN grams b ON a.gram = b.gram AND a.ref < b.ref
GROUP BY a.ref, b.ref
HAVING count(*) >= 2
"""



def doc_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level pre-fetch dedup (operators/urls.py): raw URL spellings
    constructed in-plan from doc_id — four messy variants per page id
    (www + tracking param, clean, SHOUTING host + default port + trailing
    slash + utm, ref param + fragment) plus a unique tail — collapse to
    1,000 canonical groups of 4 at sf0.01.  The oracle replays the entire
    regex/split/filter/sort canonicalization chain with DuckDB's RE2 +
    list functions (all patterns lookaround-free and single-occurrence,
    so replace-first vs replace-all semantics agree)."""
    from schemasaurus_spark.operators.urls import url_dup_groups

    docs = _docs(spark, sf_dir).selectExpr(
        """CASE doc_id % 5
             WHEN 0 THEN 'https://www.Example.com/p/'
                  || CAST(doc_id - doc_id % 5 AS STRING) || '?utm_source=feed&x=1'
             WHEN 1 THEN 'https://example.com/p/'
                  || CAST(doc_id - doc_id % 5 AS STRING) || '?x=1'
             WHEN 2 THEN 'HTTPS://EXAMPLE.COM:443/p/'
                  || CAST(doc_id - doc_id % 5 AS STRING) || '/?x=1&utm_campaign=a'
             WHEN 3 THEN 'https://example.com/p/'
                  || CAST(doc_id - doc_id % 5 AS STRING) || '?x=1&ref=home#sec'
             ELSE 'https://example.com/solo/' || CAST(doc_id AS STRING)
           END AS url"""
    )
    return url_dup_groups(docs, "url")


_URL_DEDUP_ORACLE = r"""
WITH raw AS (
  SELECT CASE doc_id % 5
           WHEN 0 THEN 'https://www.Example.com/p/'
                || CAST(doc_id - doc_id % 5 AS VARCHAR) || '?utm_source=feed&x=1'
           WHEN 1 THEN 'https://example.com/p/'
                || CAST(doc_id - doc_id % 5 AS VARCHAR) || '?x=1'
           WHEN 2 THEN 'HTTPS://EXAMPLE.COM:443/p/'
                || CAST(doc_id - doc_id % 5 AS VARCHAR) || '/?x=1&utm_campaign=a'
           WHEN 3 THEN 'https://example.com/p/'
                || CAST(doc_id - doc_id % 5 AS VARCHAR) || '?x=1&ref=home#sec'
           ELSE 'https://example.com/solo/' || CAST(doc_id AS VARCHAR)
         END AS url
  FROM documents
),
s1 AS (
  SELECT url, regexp_replace(url, '#.*$', '') AS no_frag FROM raw
),
s2 AS (
  SELECT url,
         regexp_extract(no_frag, '^([^?]*)', 1) AS base,
         CASE WHEN contains(no_frag, '?')
              THEN regexp_extract(no_frag, '\?(.*)$', 1) ELSE '' END AS query
  FROM s1
),
s3 AS (
  SELECT url, query,
         lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(base, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM s2
),
s4 AS (
  SELECT url, query, scheme,
         regexp_replace(regexp_replace(
             lower(regexp_extract(rest, '^([^/]*)', 1)), '^www\.', ''),
             ':(80|443)$', '') AS host,
         regexp_replace(regexp_replace(rest, '^[^/]*', ''), '/+$', '') AS path
  FROM s3
),
s5 AS (
  SELECT url, scheme, host, path,
         array_to_string(list_sort(list_filter(string_split(query, '&'),
             x -> x <> '' AND NOT regexp_matches(x,
                 '^(utm_[^=]*|gclid|fbclid|ref)(=|$)'))), '&') AS q2
  FROM s4
),
c AS (
  SELECT url,
         CASE WHEN scheme = '' THEN url
              ELSE scheme || '://' || host || path
                   || CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END
         END AS canonical_url
  FROM s5
)
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT url) AS BIGINT) AS n_raw
FROM c GROUP BY canonical_url HAVING count(*) > 1
"""



def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-centroid drift profile (drift.embedding_centroid_profile)
    — the SEMANTIC member of the drift family: per-dimension centroid
    shift between two corpus halves (vec_id parity), with a +0.25 shift
    PLANTED on dimension 0 of the current side.  Floats never fold across
    rows: each component quantizes to floor((x+shift)*2^20) and the
    centroid is one exact-integer division + round-6 per dimension — the
    whole 64-row table hash-matches by construction (cross-dimension
    cosine/L2 live in embedding_centroid_summary, numpy-pytested)."""
    from schemasaurus_spark.operators.drift import embedding_centroid_profile

    emb = _table(spark, sf_dir, "embeddings")
    base = emb.where("vec_id % 2 = 0").select("embedding")
    cur = emb.where("vec_id % 2 = 1").select(
        F.expr(
            "transform(embedding, (x, i) -> CAST(x AS DOUBLE) + "
            "CASE WHEN i = 0 THEN 0.25 ELSE CAST(0 AS DOUBLE) END)"
        ).alias("embedding")
    )
    return embedding_centroid_profile(base, cur, "embedding")


_EMB_CENTROID_ORACLE = """
WITH b AS (
  SELECT u.i - 1 AS pos,
         sum(floor(CAST(embedding[u.i] AS DOUBLE) * 1048576)) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM embeddings, generate_series(1, 64) AS u(i)
  WHERE vec_id % 2 = 0
  GROUP BY u.i
), c AS (
  SELECT u.i - 1 AS pos,
         sum(floor((CAST(embedding[u.i] AS DOUBLE)
                    + CASE WHEN u.i = 1 THEN 0.25 ELSE 0 END) * 1048576)) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM embeddings, generate_series(1, 64) AS u(i)
  WHERE vec_id % 2 = 1
  GROUP BY u.i
)
SELECT b.pos,
       b.n AS n_base,
       c.n AS n_cur,
       round(b.s / (b.n * 1048576.0), 6) AS centroid_base,
       round(c.s / (c.n * 1048576.0), 6) AS centroid_cur,
       round(round(c.s / (c.n * 1048576.0), 6)
             - round(b.s / (b.n * 1048576.0), 6), 6) AS delta
FROM b JOIN c ON b.pos = c.pos
"""


_HOST_EDGE_SQL = """
  SELECT source || '-h' || CAST(doc_id % 13 AS {st}) AS src,
         source || '-h' || CAST((doc_id {div} 13) % 13 AS {st}) AS dst
  FROM {tbl} WHERE source IS NOT NULL
  UNION ALL
  SELECT source || '-h' || CAST(doc_id % 13 AS {st}) AS src,
         'hub-' || CAST(doc_id % 3 AS {st}) AS dst
  FROM {tbl} WHERE source IS NOT NULL
"""


def event_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-grid resampling with forward fill (operators/resample.py):
    each user's 'view' value series regularized to 6-hour buckets — one
    row per bucket from the user's first observation to its last, gaps
    carried forward (last observation at-or-before the bucket, ties on
    equal ts broken by event_id).  The corpus is scanned once into a
    map-side-combined (user, bucket) aggregate; the grid explodes from
    that aggregate's per-user span (grid-sized, never event-sized), and
    the values are copied verbatim — zero float arithmetic, so the
    oracle hash-matches bit-for-bit."""
    from schemasaurus_spark.operators.resample import resample_ffill

    views = _table(spark, sf_dir, "events").where(
        F.col("event_type") == "view"
    )
    return resample_ffill(views, step_us=21_600_000_000)


_RESAMPLE_ORACLE = """
WITH obs AS (
  SELECT user_id, epoch_us(ts) // 21600000000 AS bucket, ts, event_id, value
  FROM events
  WHERE event_type = 'view' AND user_id IS NOT NULL
    AND ts IS NOT NULL AND value IS NOT NULL
),
last_obs AS (
  SELECT user_id, bucket, value AS v_last FROM (
    SELECT user_id, bucket, value,
           row_number() OVER (PARTITION BY user_id, bucket
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM obs) q
  WHERE rn = 1
),
per_bucket AS (
  SELECT o.user_id, o.bucket, CAST(count(*) AS BIGINT) AS n_obs, min(l.v_last) AS v_last
  FROM obs o JOIN last_obs l ON o.user_id = l.user_id AND o.bucket = l.bucket
  GROUP BY o.user_id, o.bucket
),
grid AS (
  SELECT user_id, unnest(generate_series(min(bucket), max(bucket))) AS bucket
  FROM per_bucket GROUP BY user_id
),
joined AS (
  SELECT g.user_id, g.bucket,
         coalesce(p.n_obs, 0) AS n_obs, p.v_last
  FROM grid g LEFT JOIN per_bucket p
    ON g.user_id = p.user_id AND g.bucket = p.bucket
)
SELECT user_id, bucket, n_obs,
       last_value(v_last IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS value_ffill
FROM joined
"""


def event_trailing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 1-hour RANGE-frame stats per user
    (operators/rolling.py): event count, exact fixed-point value sum and
    round-6 mean over the user's last hour — the velocity feature pass.
    Values quantized to the int64 1e-6 grid before the sliding sum, so
    window-evaluator association order cannot change a bit; timestamps
    leave as integer microsecond epochs."""
    from schemasaurus_spark.operators.rolling import trailing_stats

    return trailing_stats(_table(spark, sf_dir, "events"), window_seconds=3600)


_TRAILING_ORACLE = """
WITH base AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vfp
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
)
SELECT event_id, user_id, ts_us,
       CAST(count(*) OVER w AS BIGINT) AS n_events,
       round(CAST(sum(vfp) OVER w AS DOUBLE) / 1000000.0, 6) AS sum_value,
       round(CAST(sum(vfp) OVER w AS DOUBLE)
             / CAST(count(vfp) OVER w AS DOUBLE) / 1000000.0, 6) AS avg_value
FROM base
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def doc_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link graph from document text (operators/links.py):
    absolute URLs regex-extracted (one lookaround-free pattern both
    engines run byte-identically), destinations collapsed to canonical
    hosts (lowercase, www./default-port stripped), one map-side-combined
    (src, dst) groupBy.  The corpus text carries no URLs, so links are
    PLANTED deterministically from doc_id — mixed case, www., :443 and
    tracking params included so the canonicalization rules are all
    non-vacuous; the oracle replays the plant and the extraction."""
    from schemasaurus_spark.operators.links import host_link_graph

    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
    planted = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" see http://h"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=x&id="),
            (F.col("doc_id") % 3).cast("string"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" HTTPS://WWW.H"),
                    (F.col("doc_id") % 5).cast("string"),
                    F.lit(".Example:443/q"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return host_link_graph(planted)


def doc_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 inlink anchor-text tokens per target host
    (operators/links.py anchor_text_summary): anchors planted
    deterministically from doc_id — every doc links one lowercase host
    with a per-doc token + a shared token, even docs add a second
    mixed-case/www./:443 link so host canonicalization is non-vacuous.
    One corpus scan, anchor-vocabulary-sized exchange (map-side-combined
    (host, token) counts), WindowGroupLimit top-k on the aggregated
    table; ties break lexicographically so both engines total-order."""
    from schemasaurus_spark.operators.links import anchor_text_summary

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(' <a href="http://h'),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
            F.lit('">tok'),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(" common</a>"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(' <a href="HTTPS://WWW.H'),
                    (F.col("doc_id") % 3).cast("string"),
                    F.lit('.Example:443/q">tok'),
                    (F.col("doc_id") % 11).cast("string"),
                    F.lit(" Extra</a>"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return anchor_text_summary(planted, k=3)


_ANCHOR_TEXT_ORACLE = r"""
WITH planted AS (
  SELECT doc_id,
         coalesce(text, '')
           || ' <a href="http://h' || CAST(doc_id % 7 AS VARCHAR)
           || '.example/p/' || CAST(doc_id AS VARCHAR)
           || '">tok' || CAST(doc_id % 5 AS VARCHAR) || ' common</a>'
           || CASE WHEN doc_id % 2 = 0
                   THEN ' <a href="HTTPS://WWW.H' || CAST(doc_id % 3 AS VARCHAR)
                        || '.Example:443/q">tok' || CAST(doc_id % 11 AS VARCHAR)
                        || ' Extra</a>'
                   ELSE '' END AS text
  FROM documents
),
tags AS (
  SELECT unnest(regexp_extract_all(text, '<a href="[^"]+"[^>]*>[^<]*</a>'))
           AS tag
  FROM planted WHERE text IS NOT NULL
),
anchors AS (
  SELECT regexp_extract(tag, 'href="([^"]+)"', 1) AS url,
         regexp_extract(tag, '>([^<]*)<', 1) AS anchor
  FROM tags
),
toks AS (
  SELECT regexp_replace(
           regexp_replace(
             lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
             '^www\.', ''),
           ':(80|443)$', '') AS host,
         unnest(string_split(lower(anchor), ' ')) AS token
  FROM anchors
),
counts AS (
  SELECT host, token, CAST(count(*) AS BIGINT) AS n
  FROM toks WHERE host <> '' AND token <> ''
  GROUP BY host, token
)
SELECT host, token, n, rnk FROM (
  SELECT host, token, n,
         row_number() OVER (PARTITION BY host ORDER BY n DESC, token) AS rnk
  FROM counts) q
WHERE rnk <= 3
"""


_LINK_GRAPH_ORACLE = r"""
WITH planted AS (
  SELECT doc_id, source,
         coalesce(text, '') || ' see http://h' || CAST(doc_id % 7 AS VARCHAR)
           || '.example/p/' || CAST(doc_id AS VARCHAR)
           || '?utm_source=x&id=' || CAST(doc_id % 3 AS VARCHAR)
           || CASE WHEN doc_id % 2 = 0
                   THEN ' HTTPS://WWW.H' || CAST(doc_id % 5 AS VARCHAR)
                        || '.Example:443/q'
                   ELSE '' END AS text
  FROM documents
),
links AS (
  SELECT source AS src,
         unnest(regexp_extract_all(text, '[Hh][Tt][Tt][Pp][Ss]?://[^\s"<>]+'))
           AS url
  FROM planted WHERE text IS NOT NULL AND source IS NOT NULL
),
hosts AS (
  SELECT src,
         regexp_replace(
           regexp_replace(
             lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
             '^www\.', ''),
           ':(80|443)$', '') AS dst
  FROM links
)
SELECT src, dst, CAST(count(*) AS BIGINT) AS n_links
FROM hosts WHERE dst <> '' GROUP BY src, dst
"""


def host_authority_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over a deterministic host link graph
    (operators/rank.py): each doc contributes one within-source edge
    (residue buckets of doc_id) and one edge into a shared 3-node 'hub'
    tier (dangling sinks — they absorb mass but emit none, exercising
    the leak-at-sinks variant).  10 iterations of the damped recurrence
    entirely in int64 fixed-point (SCALE 10^9, integer DIV) so the
    shuffled partial sums are order-invariant and the oracle — the same
    10 steps unrolled as chained CTEs — hash-matches bit-for-bit."""
    from schemasaurus_spark.operators.rank import pagerank_fixed_point

    edges = spark.sql(
        _HOST_EDGE_SQL.format(
            st="STRING", div="DIV", tbl=f"parquet.`{sf_dir}/documents.parquet`"
        )
    )
    return pagerank_fixed_point(edges, n_iter=10)


def _pagerank_oracle_sql(n_iter: int = 10) -> str:
    steps = []
    for i in range(1, n_iter + 1):
        steps.append(
            f"""r{i} AS (
  SELECT n.node,
         CAST(150000000 + (85 * COALESCE(m.in_mass, 0)) // 100 AS BIGINT)
           AS rank_fp
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank_fp // o.out_degree) AS in_mass
    FROM edges e JOIN outdeg o ON e.src = o.src JOIN r{i - 1} r ON r.node = e.src
    GROUP BY e.dst
  ) m ON m.node = n.node
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH e_raw AS ({_HOST_EDGE_SQL.format(st="VARCHAR", div="//", tbl="documents")}),
edges AS (SELECT DISTINCT src, dst FROM e_raw
          WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_degree
           FROM edges GROUP BY src),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_fp FROM nodes),
{chain}
SELECT r.node, r.rank_fp, COALESCE(o.out_degree, CAST(0 AS BIGINT)) AS out_degree
FROM r{n_iter} r LEFT JOIN outdeg o ON o.src = r.node
"""


def host_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host communities via synchronous weighted label propagation
    (operators/rank.py label_propagation) over the same deterministic
    host link graph PageRank uses — 4 fixed rounds, per-row edge weight
    accumulation, weight-1 self-vote, lexicographic tie-break.  Every
    round is integer weight sums + a deterministic argmax, so the
    oracle unrolls the rounds as chained CTEs and hash-matches.

    The shared 3-node hub tier is excluded: hubs touch every source, so
    labels flood across them into 2 giant communities — dropping them
    leaves the 20 disjoint per-source subgraphs, where the community
    structure (and the test) is non-trivial."""
    from schemasaurus_spark.operators.rank import label_propagation

    edges = spark.sql(
        _HOST_EDGE_SQL.format(
            st="STRING", div="DIV", tbl=f"parquet.`{sf_dir}/documents.parquet`"
        )
    ).where(~F.col("dst").startswith("hub-"))
    return label_propagation(edges, n_iter=4)


def _lpa_oracle_sql(n_iter: int = 4) -> str:
    steps = []
    for i in range(1, n_iter + 1):
        steps.append(
            f"""l{i} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn
    FROM (
      SELECT node, lbl, SUM(w) AS cnt FROM (
        SELECT a.u AS node, l.lbl AS lbl, a.w FROM adj a JOIN l{i - 1} l ON l.node = a.v
        UNION ALL
        SELECT node, lbl, CAST(1 AS BIGINT) AS w FROM l{i - 1}
      ) GROUP BY node, lbl
    ) v
  ) q WHERE rn = 1
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH e_raw AS ({_HOST_EDGE_SQL.format(st="VARCHAR", div="//", tbl="documents")}),
base AS (SELECT src AS u, dst AS v FROM e_raw
         WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
           AND dst NOT LIKE 'hub-%'),
adj AS (
  SELECT u, v, CAST(count(*) AS BIGINT) AS w FROM (
    SELECT u, v FROM base UNION ALL SELECT v AS u, u AS v FROM base
  ) GROUP BY u, v
),
l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM adj),
{chain}
SELECT node, lbl AS label FROM l{n_iter}
"""


def doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer induction (operators/bpe.py): 8 merge
    rounds learned from the documents corpus via the word-frequency
    formulation — one corpus scan builds the word table, then every
    round is a map-side-combined pair-count groupBy + TakeOrdered(1)
    argmax + a map-only array-fold merge.  Counts are integer sums and
    the greedy fold order is defined by the token sequence, so the
    oracle — each round unrolled as pair-count CTE + argmax CTE +
    recursive-CTE fold over token positions — reproduces the merge
    table (step, lft, rgt, cnt) bit-for-bit."""
    from schemasaurus_spark.operators.bpe import bpe_merge_table

    return bpe_merge_table(_docs(spark, sf_dir), "text", n_merges=8)


def _bpe_oracle_sql(n_merges: int = 8) -> str:
    stages = []
    for i in range(1, n_merges + 1):
        stages.append(
            f"""p{i} AS (SELECT z[1] AS lft, z[2] AS rgt, SUM(freq) AS cnt
       FROM (SELECT unnest(list_zip(toks, toks[2:])) AS z, freq FROM v{i - 1})
       WHERE z[2] IS NOT NULL GROUP BY 1, 2),
b{i} AS MATERIALIZED (SELECT lft, rgt, CAST(cnt AS BIGINT) AS cnt FROM p{i}
       WHERE cnt >= 2 ORDER BY cnt DESC, lft, rgt LIMIT 1),
rec{i} AS (
  SELECT word, freq, toks, 2 AS i, [toks[1]] AS acc FROM v{i - 1}
  UNION ALL
  SELECT r.word, r.freq, r.toks, r.i + 1,
    CASE WHEN r.acc[-1] = b.lft AND r.toks[r.i] = b.rgt
      THEN list_append(r.acc[1:len(r.acc)-1], b.lft || b.rgt)
      ELSE list_append(r.acc, r.toks[r.i]) END
  FROM rec{i} r, b{i} b WHERE r.i <= len(r.toks)
),
v{i} AS MATERIALIZED (SELECT word, freq, acc AS toks FROM rec{i}
       WHERE i = len(toks) + 1)"""
        )
    merged = ",\n".join(stages)
    final = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INTEGER) AS step, lft, rgt, cnt FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return f"""
WITH RECURSIVE
wf AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
       FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
             FROM documents WHERE text IS NOT NULL)
       WHERE w <> '' AND len(w) <= 24 GROUP BY w),
v0 AS MATERIALIZED (SELECT word, freq,
       list_append(string_split(word, ''), '_') AS toks FROM wf),
{merged}
{final}
"""


_COMPACT_TARGET = 4 * 1024 * 1024


def table_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (operators/compaction.py) over a
    deterministic file manifest derived from orders (partition =
    order priority, file = order key, size = floor(total price) + 1 KiB):
    cumulative-offset binning to 4 MiB output files — the Iceberg
    bin-pack rewrite planning shape with a defined order.  One window
    per table partition (manifests are metadata-sized); integer DIV
    binning so the oracle's window replay agrees bit-for-bit."""
    from schemasaurus_spark.operators.compaction import compaction_plan

    manifest = _table(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS part",
        "o_orderkey AS file_id",
        "CAST(FLOOR(o_totalprice) AS BIGINT) + 1024 AS size_bytes",
    )
    return compaction_plan(manifest, _COMPACT_TARGET)


_COMPACTION_ORACLE = f"""
WITH manifest AS (
  SELECT o_orderpriority AS part, o_orderkey AS file_id,
         CAST(FLOOR(o_totalprice) AS BIGINT) + 1024 AS size_bytes
  FROM orders),
binned AS (
  SELECT part, file_id, size_bytes,
         (SUM(size_bytes) OVER (PARTITION BY part ORDER BY file_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - size_bytes)
           // {_COMPACT_TARGET} AS bin_id
  FROM manifest)
SELECT part, CAST(bin_id AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(SUM(size_bytes) AS BIGINT) AS total_bytes,
       MIN(file_id) AS first_file, MAX(file_id) AS last_file,
       (count(*) > 1 OR SUM(size_bytes) < {_COMPACT_TARGET}) AS needs_rewrite
FROM binned GROUP BY part, bin_id
"""


def doc_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source overlap matrix (operators/overlap.py): distinct
    5-token-window sharing between every source pair — the dedup
    diagnostic that localizes duplication to source pairs before any
    doc-level dedup runs.  The engine groups window hashes once and
    explodes the bounded per-hash source set (never a corpus self-join);
    the oracle self-joins RAW window strings, independently confirming
    the xxhash64 engine."""
    from schemasaurus_spark.operators.overlap import source_overlap_matrix

    return source_overlap_matrix(_docs(spark, sf_dir), window=5)


_SOURCE_OVERLAP_ORACLE = r"""
WITH toks AS (
  SELECT source AS src, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> '' AND source IS NOT NULL
),
wins AS (
  SELECT DISTINCT src,
         unnest(list_transform(generate_series(1, len(t) - 4),
                i -> array_to_string(t[i:i+4], ' '))) AS w
  FROM toks WHERE len(t) >= 5
),
ns AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM wins GROUP BY src),
shared AS (
  SELECT a.src AS source_a, b.src AS source_b,
         CAST(count(*) AS BIGINT) AS shared_windows
  FROM wins a JOIN wins b ON a.w = b.w AND a.src < b.src
  GROUP BY 1, 2)
SELECT source_a, source_b, shared_windows, na.n AS windows_a, nb.n AS windows_b,
       round(shared_windows / (na.n + nb.n - shared_windows), 6) AS jaccard
FROM shared JOIN ns na ON na.src = source_a JOIN ns nb ON nb.src = source_b
"""


_FUNNEL_STEPS = ["view", "click", "purchase"]
_FUNNEL_HORIZON = 7 * 24 * 3600


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel (operators/funnel.py): view -> click ->
    purchase with strict per-user ordering and a 7-day horizon from the
    first step.  Earliest-completion semantics = a chain of user-keyed
    mins (no per-user event collection, no state machine): each step is
    a filtered scan + map-side-combined min + a join against the
    shrinking reached set.  Ratios round in-engine (HALF_UP parity)."""
    from schemasaurus_spark.operators.funnel import funnel

    return funnel(
        _table(spark, sf_dir, "events"),
        _FUNNEL_STEPS,
        horizon_seconds=_FUNNEL_HORIZON,
    )


_FUNNEL_ORACLE = f"""
WITH s1 AS (SELECT user_id AS u, min(ts) AS t1 FROM events
            WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY 1),
s2 AS (SELECT e.user_id AS u, s1.t1, min(e.ts) AS t2
       FROM events e JOIN s1 ON e.user_id = s1.u
       WHERE e.event_type = 'click' AND e.ts > s1.t1
         AND e.ts <= s1.t1 + INTERVAL {_FUNNEL_HORIZON} SECONDS
       GROUP BY 1, 2),
s3 AS (SELECT e.user_id AS u, min(e.ts) AS t3
       FROM events e JOIN s2 ON e.user_id = s2.u
       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
         AND e.ts <= s2.t1 + INTERVAL {_FUNNEL_HORIZON} SECONDS
       GROUP BY 1),
n AS (SELECT (SELECT count(*) FROM s1) AS n1,
             (SELECT count(*) FROM s2) AS n2,
             (SELECT count(*) FROM s3) AS n3)
SELECT 1 AS step, 'view' AS event_type, CAST(n1 AS BIGINT) AS n_users,
       CAST(NULL AS DOUBLE) AS conv_from_prev,
       CASE WHEN n1 > 0 THEN round(n1 / n1, 6) END AS conv_from_first
FROM n
UNION ALL
SELECT 2, 'click', CAST(n2 AS BIGINT),
       CASE WHEN n1 > 0 THEN round(n2 / n1, 6) END,
       CASE WHEN n1 > 0 THEN round(n2 / n1, 6) END
FROM n
UNION ALL
SELECT 3, 'purchase', CAST(n3 AS BIGINT),
       CASE WHEN n2 > 0 THEN round(n3 / n2, 6) END,
       CASE WHEN n1 > 0 THEN round(n3 / n1, 6) END
FROM n
"""


def event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval attribution join (streaming/join_stream.attribution_join
    run in batch mode — the identical expression drives the watermarked
    stream-stream join, whose bounded-state/late-drop behavior is
    pytest-covered): every (view, purchase) pair of the same user with
    the purchase inside 30 minutes after the view."""
    from schemasaurus_spark.streaming.join_stream import attribution_join

    ev = _table(spark, sf_dir, "events")
    return attribution_join(
        ev.where("event_type = 'view'"), ev.where("event_type = 'purchase'")
    )


_ATTRIBUTION_ORACLE = """
SELECT v.user_id, v.ts AS view_ts, p.ts AS purchase_ts,
       CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS latency_seconds
FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTES
"""


def event_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix (operators/retention.py): users bucketed
    by first-activity week, distinct-active counts k weeks later, ratio
    vs cohort size.  Monday week-truncation and day-diff DIV 7 are
    engine-identical; counts are exact int64, ratio rounds in-engine."""
    from schemasaurus_spark.operators.retention import retention_cohorts

    return retention_cohorts(_table(spark, sf_dir, "events"))


_RETENTION_ORACLE = """
WITH first AS (SELECT user_id AS u, date_trunc('week', min(ts)) AS cohort_week
               FROM events WHERE user_id IS NOT NULL GROUP BY 1),
active AS (SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS week
           FROM events WHERE user_id IS NOT NULL),
sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
          FROM first GROUP BY 1),
cells AS (SELECT f.cohort_week,
                 CAST(datediff('day', f.cohort_week, a.week) // 7 AS BIGINT)
                   AS weeks_since,
                 CAST(count(*) AS BIGINT) AS n_active
          FROM active a JOIN first f ON a.u = f.u GROUP BY 1, 2)
SELECT c.cohort_week, c.weeks_since, c.n_active, s.cohort_size,
       round(c.n_active / s.cohort_size, 6) AS retention
FROM cells c JOIN sizes s USING (cohort_week)
"""


_COLLOC_K = 20


def doc_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k adjacent-pair collocations with PMI (operators/collocation
    .py): one tokenize scan feeds pair counts, unigram counts and the
    scalar totals; TakeOrdered selection; the PMI double expression is
    written identically in the oracle (round-6 absorbs libm ln ulps)."""
    from schemasaurus_spark.operators.collocation import collocation_topk

    return collocation_topk(_docs(spark, sf_dir), k=_COLLOC_K)


_COLLOC_ORACLE = rf"""
WITH toks AS (
  SELECT string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
pairs AS (
  SELECT z[1] AS lft, z[2] AS rgt, CAST(count(*) AS BIGINT) AS n_pair
  FROM (SELECT unnest(list_zip(t, t[2:])) AS z FROM toks WHERE len(t) >= 2)
  WHERE z[2] IS NOT NULL GROUP BY 1, 2
),
top AS (SELECT * FROM pairs ORDER BY n_pair DESC, lft, rgt LIMIT {_COLLOC_K}),
uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n_tok
  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok
),
tot AS (
  SELECT CAST(SUM(len(t)) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN len(t) >= 2 THEN len(t) - 1 ELSE 0 END) AS BIGINT)
           AS p_total
  FROM toks
)
SELECT t.lft, t.rgt, t.n_pair, lu.n_tok AS n_left, ru.n_tok AS n_right,
       round(ln((CAST(t.n_pair AS DOUBLE) * n_total * n_total)
                / (CAST(p_total AS DOUBLE) * lu.n_tok * ru.n_tok)), 6) AS pmi
FROM top t JOIN uni lu ON lu.tok = t.lft JOIN uni ru ON ru.tok = t.rgt, tot
"""


_NB_TRAIN_FRACTION = 0.7
_NB_SEED = 0
_NB_MAX_VOCAB = 100_000


def doc_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classification, trained and
    scored in-plan (operators/classify.py): md5-split the corpus 70/30,
    fit token likelihoods with add-one smoothing on train, predict each
    test document's ``lang`` — the fastText-style classifier stage of a
    curation pipeline.  Every model parameter is quantized to an int64
    ln·1e6 grid at build time, so per-document scores are exact integer
    sums (shuffle-order-proof) and the oracle replays the full train +
    score + argmax chain."""
    from schemasaurus_spark.operators.classify import nb_train_classify

    return nb_train_classify(
        _docs(spark, sf_dir).select("doc_id", "text", "lang"),
        label_col="lang",
        train_fraction=_NB_TRAIN_FRACTION,
        seed=_NB_SEED,
        max_vocab=_NB_MAX_VOCAB,
    )


def doc_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the held-out NB predictions: (label,
    predicted, n, share_of_label) — C² domain-bounded rows; the recall
    share is the round-6 in-engine ratio the house parity discipline
    requires."""
    from schemasaurus_spark.operators.classify import confusion_matrix

    return confusion_matrix(doc_nb_classify(spark, sf_dir))


def _nb_confusion_oracle_sql() -> str:
    return (
        _nb_oracle_prefix()
        + """,
best AS (
  SELECT doc_id, label AS predicted, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, label ASC) AS rn
  FROM scored
),
preds AS (
  SELECT t.lang AS label, b.predicted
  FROM best b JOIN test t USING (doc_id) WHERE b.rn = 1
),
cells AS (SELECT label, predicted, count(*) AS n FROM preds GROUP BY 1, 2)
SELECT label, predicted, CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY label) AS DOUBLE), 6)
         AS share_of_label
FROM cells
"""
    )


def doc_nb_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the NB predictions and the ground-truth lang
    (evaluate.agreement_report): chance-corrected agreement over the same
    contingency cells the confusion matrix reports — exact int64 common-
    denominator arithmetic, one round-6 division."""
    from schemasaurus_spark.operators.evaluate import agreement_report

    return agreement_report(doc_nb_classify(spark, sf_dir), "label", "predicted")


def _nb_agreement_oracle_sql() -> str:
    return (
        _nb_oracle_prefix()
        + """,
best AS (
  SELECT doc_id, label AS predicted, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, label ASC) AS rn
  FROM scored
),
preds AS (
  SELECT t.lang AS label, b.predicted
  FROM best b JOIN test t USING (doc_id) WHERE b.rn = 1
),
cells AS (SELECT label, predicted, count(*) AS n FROM preds GROUP BY 1, 2),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n,
         CAST(coalesce(sum(CASE WHEN label = predicted THEN n END), 0) AS BIGINT)
           AS n_agree
  FROM cells
),
ma AS (SELECT label AS c, CAST(sum(n) AS BIGINT) AS na FROM cells GROUP BY 1),
mb AS (SELECT predicted AS c, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY 1),
pe AS (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS pe_num
       FROM ma JOIN mb USING (c))
SELECT n, n_agree, n_agree * 10000 // n AS po_bp,
       round(CAST(n * n_agree - pe_num AS DOUBLE)
             / CAST(nullif(n * n - pe_num, 0) AS DOUBLE), 6) AS kappa
FROM tot, pe
"""
    )


def _nb_en_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared engine chain for the NB evaluation queries: the trained
    model's 'en' log-posterior per test doc + the is_en ground truth."""
    from schemasaurus_spark.operators.classify import nb_bucket, nb_scores, nb_train

    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    thr = int(round(_NB_TRAIN_FRACTION * 65536))
    b = nb_bucket("doc_id", _NB_SEED)
    train = docs.where(b < F.lit(thr))
    test = docs.where(b >= F.lit(thr)).where(F.col("lang").isNotNull())
    model = nb_train(train, label_col="lang", max_vocab=_NB_MAX_VOCAB)
    en = nb_scores(model, test).where(F.col("label") == "en")
    return en.join(
        test.select("doc_id", (F.col("lang") == "en").alias("is_en")), on="doc_id"
    )


def doc_nb_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold sweep of the NB classifier's en-vs-rest score
    (operators/evaluate.pr_curve composed over operators/classify): one
    row per achieved integer score with exact confusion counts and
    round-6 precision/recall/F1 — the 'where should the filter threshold
    sit' evaluation stage, its entire train+score+sweep chain replayed
    in SQL."""
    from schemasaurus_spark.operators.evaluate import pr_curve

    return pr_curve(_nb_en_scores(spark, sf_dir), "score", "is_en")


def doc_nb_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected Mann-Whitney AUC of the NB en-vs-rest score
    (operators/evaluate.auc_exact): doubled average ranks keep ties
    integer, so the statistic is one IEEE division over exact int64
    sums."""
    from schemasaurus_spark.operators.evaluate import auc_exact

    return auc_exact(_nb_en_scores(spark, sf_dir), "score", "is_en")


def _nb_oracle_prefix() -> str:
    """Shared CTE chain replaying the full NB train+score pipeline
    (classify.nb_train / nb_scores): split → vocab → fixed-point weights
    → per-(doc, class) integer scores.  The classify / PR-curve / AUC
    oracles append different tails."""
    thr = int(round(_NB_TRAIN_FRACTION * 65536))
    return rf"""
WITH split AS (
  SELECT doc_id, text, lang,
         CAST(('0x' || substr(md5(doc_id || ':nb:{_NB_SEED}'), 1, 4)) AS INTEGER) AS b
  FROM documents
),
train AS (
  SELECT * FROM split
  WHERE b < {thr} AND lang IS NOT NULL AND text IS NOT NULL AND trim(text) <> ''
),
test AS (
  SELECT * FROM split
  WHERE b >= {thr} AND lang IS NOT NULL AND text IS NOT NULL AND trim(text) <> ''
),
ttoks AS (
  SELECT doc_id, lang AS label,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM train
),
vocab AS (
  SELECT token FROM (SELECT token, count(*) AS c FROM ttoks GROUP BY token)
  ORDER BY c DESC, token ASC LIMIT {_NB_MAX_VOCAB}
),
vsize AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab),
counts AS (
  SELECT token, label, count(*) AS cnt
  FROM ttoks JOIN vocab USING (token) GROUP BY token, label
),
totals AS (SELECT label, sum(cnt) AS total FROM counts GROUP BY label),
ndocs AS (SELECT lang AS label, count(*) AS n FROM train GROUP BY lang),
ntrain AS (SELECT CAST(sum(n) AS DOUBLE) AS nt FROM ndocs),
classes AS (
  SELECT d.label,
         CAST(floor(ln(CAST(d.n AS DOUBLE) / t.nt) * 1000000.0 + 0.5) AS BIGINT)
           AS prior_fp,
         CAST(floor(ln(1.0 / (CAST(coalesce(tt.total, 0) AS DOUBLE) + v.v))
                    * 1000000.0 + 0.5) AS BIGINT) AS w0_fp
  FROM ndocs d LEFT JOIN totals tt USING (label), ntrain t, vsize v
),
weights AS (
  SELECT c.token, c.label,
         CAST(floor(ln((CAST(c.cnt AS DOUBLE) + 1.0)
                       / (CAST(t.total AS DOUBLE) + v.v))
                    * 1000000.0 + 0.5) AS BIGINT) AS w_fp
  FROM counts c JOIN totals t USING (label), vsize v
),
stoks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
  FROM test
),
occ AS (
  SELECT doc_id, token, count(*) AS occ
  FROM stoks JOIN vocab USING (token) GROUP BY doc_id, token
),
contrib AS (
  SELECT o.doc_id, c.label, sum(o.occ * coalesce(w.w_fp, c.w0_fp)) AS tok_fp
  FROM occ o CROSS JOIN classes c
  LEFT JOIN weights w ON w.token = o.token AND w.label = c.label
  GROUP BY o.doc_id, c.label
),
scored AS (
  SELECT s.doc_id, c.label, c.prior_fp + coalesce(ct.tok_fp, 0) AS score
  FROM (SELECT DISTINCT doc_id FROM test) s CROSS JOIN classes c
  LEFT JOIN contrib ct ON ct.doc_id = s.doc_id AND ct.label = c.label
)"""


def _nb_classify_oracle_sql() -> str:
    return (
        _nb_oracle_prefix()
        + """,
best AS (
  SELECT doc_id, label AS predicted, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, label ASC) AS rn
  FROM scored
)
SELECT b.doc_id, t.lang AS label, b.predicted, CAST(b.score AS BIGINT) AS score
FROM best b JOIN test t USING (doc_id) WHERE b.rn = 1
"""
    )


_NB_EVAL_PER_SCORE = """,
en AS (
  SELECT s.doc_id, s.score, (t.lang = 'en') AS is_en
  FROM scored s JOIN test t USING (doc_id) WHERE s.label = 'en'
),
per AS (
  SELECT score, sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS n_pos,
         count(*) AS n_tot
  FROM en GROUP BY score
)"""


def doc_nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-mass reliability table of the NB en-vs-rest score
    (operators/evaluate.calibration_table): 10 rank-binned rows of
    exact integer counts + basis-point positive rates — whether the
    score LEVEL is trustworthy where PR/AUC only grade the ranking.
    Distinct-score bin assignment + integer DIV make the whole table
    engine-exact; the oracle replays train+score+binning in SQL."""
    from schemasaurus_spark.operators.evaluate import calibration_table

    return calibration_table(_nb_en_scores(spark, sf_dir), "score", "is_en", n_bins=10)


def _nb_calibration_oracle_sql() -> str:
    return (
        _nb_oracle_prefix()
        + _NB_EVAL_PER_SCORE
        + """,
tot AS (SELECT sum(n_tot) AS n_all FROM per),
binned AS (
  SELECT (coalesce(sum(n_tot) OVER (ORDER BY score ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 10)
           // t.n_all AS bin,
         score, n_pos, n_tot
  FROM per, tot t
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(sum(n_tot) AS BIGINT) AS n,
       CAST(sum(n_pos) AS BIGINT) AS n_pos,
       CAST(min(score) AS BIGINT) AS score_min,
       CAST(max(score) AS BIGINT) AS score_max,
       CAST((sum(n_pos) * 10000) // sum(n_tot) AS BIGINT) AS pos_rate_bp
FROM binned GROUP BY bin
"""
    )


def _nb_pr_oracle_sql() -> str:
    return (
        _nb_oracle_prefix()
        + _NB_EVAL_PER_SCORE
        + """,
tot AS (SELECT sum(n_pos) AS p FROM per),
cum AS (
  SELECT score AS threshold,
         sum(n_pos) OVER (ORDER BY score DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         sum(n_tot) OVER (ORDER BY score DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - sum(n_pos) OVER (ORDER BY score DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
  FROM per
)
SELECT CAST(threshold AS BIGINT) AS threshold,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(t.p - tp AS BIGINT) AS fn,
       round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS precision,
       round(CASE WHEN t.p > 0
                  THEN CAST(tp AS DOUBLE) / CAST(t.p AS DOUBLE) END, 6) AS recall,
       round(CASE WHEN (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
                     + (CAST(tp AS DOUBLE) / CAST(t.p AS DOUBLE)) > 0
                  THEN (2.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
                            * (CAST(tp AS DOUBLE) / CAST(t.p AS DOUBLE)))
                       / ((CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
                          + (CAST(tp AS DOUBLE) / CAST(t.p AS DOUBLE))) END, 6) AS f1
FROM cum, tot t
"""
    )


def _nb_auc_oracle_sql() -> str:
    return (
        _nb_oracle_prefix()
        + _NB_EVAL_PER_SCORE
        + """,
ranked AS (
  SELECT n_pos, n_tot,
         coalesce(sum(n_tot) OVER (ORDER BY score ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM per
),
agg AS (
  SELECT sum(n_pos * (2 * below + n_tot + 1)) AS two_r,
         sum(n_pos) AS p, sum(n_tot) - sum(n_pos) AS n
  FROM ranked
)
SELECT round(CASE WHEN p > 0 AND n > 0
                  THEN CAST(two_r - p * (p + 1) AS DOUBLE)
                       / CAST(2 * p * n AS DOUBLE) END, 6) AS auc,
       CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg
FROM agg
"""
    )


_DSIR_SEED = 7
_DSIR_BUCKETS = 4096
_DSIR_K = 100


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared engine chain for the DSIR queries: hashed-n-gram importance
    model fit with target = English documents, raw = the whole corpus,
    scored over the whole corpus (operators/dsir.py)."""
    from schemasaurus_spark.operators.dsir import dsir_fit, dsir_scores

    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    model = dsir_fit(
        docs, docs.where(F.col("lang") == "en"), n_buckets=_DSIR_BUCKETS
    )
    return dsir_scores(model, docs)


def doc_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance score (quantized int64 log-weight
    Σ fp(ln p_en) − fp(ln p_raw) over hashed unigram+bigram buckets) —
    the data-selection signal pulling a raw corpus toward the English
    target distribution."""
    return _dsir_scored(spark, sf_dir)


def doc_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel top-k importance resample of the DSIR-scored corpus: the
    deterministic (md5-Gumbel) weighted sample a curation pipeline would
    feed to training — selection key and membership engine-invariant."""
    from schemasaurus_spark.operators.dsir import dsir_resample

    return dsir_resample(
        _dsir_scored(spark, sf_dir), k=_DSIR_K, seed=_DSIR_SEED
    )


def _dsir_oracle_prefix() -> str:
    """Shared CTE chain replaying dsir_fit + dsir_scores: tokenize →
    unigram+bigram md5 buckets → Laplace-smoothed quantized log-ratio
    weights → per-doc integer scores."""
    b = _DSIR_BUCKETS
    return rf"""
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS l
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
feats AS (
  SELECT doc_id, lang,
         unnest(l || list_transform(range(1, length(l)),
                                    i -> l[i] || ' ' || l[i+1])) AS f
  FROM toks
),
fb AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % {b} AS bucket
  FROM feats
),
tcnt AS (SELECT bucket, count(*) AS tc FROM fb WHERE lang = 'en' GROUP BY bucket),
rcnt AS (SELECT bucket, count(*) AS rc FROM fb GROUP BY bucket),
ttot AS (SELECT CAST(sum(tc) AS DOUBLE) AS tt FROM tcnt),
rtot AS (SELECT CAST(sum(rc) AS DOUBLE) AS rt FROM rcnt),
w AS (
  SELECT coalesce(t.bucket, r.bucket) AS bucket,
         CAST(floor(ln((CAST(coalesce(t.tc, 0) AS DOUBLE) + 1.0)
                       / (tt.tt + {b}.0)) * 1000000.0 + 0.5) AS BIGINT)
         - CAST(floor(ln((CAST(coalesce(r.rc, 0) AS DOUBLE) + 1.0)
                         / (rt.rt + {b}.0)) * 1000000.0 + 0.5) AS BIGINT) AS w_fp
  FROM tcnt t FULL JOIN rcnt r ON t.bucket = r.bucket, ttot tt, rtot rt
),
occ AS (SELECT doc_id, bucket, count(*) AS occ FROM fb GROUP BY doc_id, bucket),
scores AS (
  SELECT o.doc_id, sum(o.occ * w.w_fp) AS score_fp
  FROM occ o JOIN w USING (bucket) GROUP BY o.doc_id
)"""


def _dsir_scores_oracle_sql() -> str:
    return (
        _dsir_oracle_prefix()
        + """
SELECT doc_id, CAST(score_fp AS BIGINT) AS score_fp FROM scores
"""
    )


def _dsir_sample_oracle_sql() -> str:
    return (
        _dsir_oracle_prefix()
        + f""",
keyed AS (
  SELECT doc_id, CAST(score_fp AS BIGINT) AS score_fp,
         CAST(score_fp AS BIGINT)
         + CAST(floor((-ln(-ln((CAST(('0x' || substr(md5(doc_id || ':dsir:{_DSIR_SEED}'), 1, 8)) AS BIGINT) + 0.5)
                               / 4294967296.0))) * 1000000.0 + 0.5) AS BIGINT) AS key_fp
  FROM scores
)
SELECT doc_id, score_fp, key_fp
FROM keyed ORDER BY key_fp DESC, doc_id ASC LIMIT {_DSIR_K}
"""
    )


def doc_context_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-loss profile (operators/packing.py
    context_length_profile): token-survival share at 5 candidate context
    lengths in ONE scan + a K-row map-side-combined aggregate.  All
    integer arithmetic (basis points via DIV), so the oracle replays it
    exactly.  Candidate lengths sized to the corpus's ~60-token docs so
    truncation is non-vacuous at test scale."""
    from schemasaurus_spark.operators.packing import context_length_profile

    return context_length_profile(_docs(spark, sf_dir), lengths=(8, 16, 32, 64, 128))


_CONTEXT_PROFILE_ORACLE = r"""
WITH toks AS (
  SELECT CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
  FROM documents WHERE text IS NOT NULL
),
fanned AS (
  SELECT unnest([8, 16, 32, 64, 128]) AS context_len, n_tok FROM toks
)
SELECT context_len,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_tok > context_len THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_truncated,
       CAST(sum(n_tok) AS BIGINT) AS tokens_total,
       CAST(sum(least(n_tok, context_len)) AS BIGINT) AS tokens_kept,
       CASE WHEN sum(n_tok) > 0
            THEN CAST((sum(least(n_tok, context_len)) * 10000) // sum(n_tok) AS BIGINT)
       END AS kept_bp
FROM fanned GROUP BY context_len
"""


def embedding_semantic_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/semdedup.py): k-means cells (the IVF coarse
    quantizer's deterministic md5-ordered sample, ceil(n/64) cells so
    expected cell size is constant in n), within-cell cosine pairs,
    connected components, keep = the member LEAST similar to its
    centroid (round-6, id tie-break).  The oracle rebuilds the identical
    index in SQL (same sample, same argmax assignment), replays the
    within-cell pair join and nests it under the recursive-CTE
    reachability, then re-derives the keep rank."""
    from schemasaurus_spark.operators.semdedup import semantic_dup_members

    emb = _table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return semantic_dup_members(emb, dim=64, threshold=0.3)


def _semdedup_oracle_sql() -> str:
    from schemasaurus_spark.operators.semdedup import derive_semdedup_n_list

    n_list = derive_semdedup_n_list(_oracle_embedding_count())
    return f"""
WITH RECURSIVE
emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
),
cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS list_id, v
  FROM emb
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {n_list}
),
assigned AS (
  SELECT vec_id, v, list_id, centroid_sim FROM (
    SELECT e.vec_id, e.v, c.list_id,
           list_cosine_similarity(e.v, c.v) AS centroid_sim,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_cosine_similarity(e.v, c.v) DESC,
                                       c.list_id ASC) AS rn
    FROM emb e, cents c) q
  WHERE rn = 1
),
-- cells over the list_cap (5000) would be excluded here; none are at
-- this scale, and the predicate replays the engine's rule exactly
sizes AS (SELECT list_id, count(*) AS n FROM assigned GROUP BY list_id),
paired AS (
  SELECT a.* FROM assigned a JOIN sizes s ON a.list_id = s.list_id
  WHERE s.n <= 5000
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM paired a JOIN paired b
    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
),
und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(id, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und) AS n(u)
  UNION
  SELECT und.u, reach.r FROM und JOIN reach ON reach.id = und.v
),
comp AS (SELECT id AS vec_id, min(r) AS comp_id FROM reach GROUP BY id)
SELECT c.vec_id, c.comp_id,
       round(a.centroid_sim, 6) AS centroid_sim,
       (row_number() OVER (PARTITION BY c.comp_id
                           ORDER BY round(a.centroid_sim, 6) ASC,
                                    c.vec_id ASC) = 1) AS keep
FROM comp c JOIN assigned a ON c.vec_id = a.vec_id
"""


def event_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric repair (operators/outliers.py winsorize): event values
    clamped per event_type to EXACT order-statistic bounds — the k-th
    smallest with k = ceil(n*bp/10000), a value picked from the data
    (zero float arithmetic, bit-exact on doubles in any engine).  One
    map-side-combined (type, value) aggregate + per-type cumsums on the
    distinct-value table, bounds broadcast back over one corpus scan."""
    from schemasaurus_spark.operators.outliers import winsorize

    ev = _table(spark, sf_dir, "events")
    return winsorize(ev, "value", ["event_type"], lo_bp=100, hi_bp=9900).select(
        "event_id", "event_type", "value", "value_w", "winsor_side"
    )


_WINSORIZE_ORACLE = """
WITH per AS (
  SELECT event_type, value AS _v, count(*) AS _n_eq
  FROM events WHERE value IS NOT NULL GROUP BY event_type, value
),
cum AS (
  SELECT event_type, _v,
         sum(_n_eq) OVER (PARTITION BY event_type ORDER BY _v ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum,
         sum(_n_eq) OVER (PARTITION BY event_type) AS _n
  FROM per
),
bounds AS (
  SELECT event_type,
         min(CASE WHEN _cum >= greatest((_n * 100 + 9999) // 10000, 1)
                  THEN _v END) AS lo,
         min(CASE WHEN _cum >= least(greatest((_n * 9900 + 9999) // 10000, 1), _n)
                  THEN _v END) AS hi
  FROM cum GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN e.value IS NULL THEN NULL
            WHEN e.value < b.lo THEN b.lo
            WHEN e.value > b.hi THEN b.hi
            ELSE e.value END AS value_w,
       CASE WHEN e.value < b.lo THEN 'low'
            WHEN e.value > b.hi THEN 'high' END AS winsor_side
FROM events e LEFT JOIN bounds b ON e.event_type = b.event_type
"""


def doc_fused_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation score fusion (operators/fuse.py): three incomparable
    signals — n_chars (NULL-bearing), whitespace token count, punctuation
    mass — midrank-normalized to basis points and fused by a weighted
    integer mean (NULL signals reweight instead of poisoning).  Per
    signal: one map-side-combined value aggregate + window cumsums on the
    distinct-value table + one join back; all arithmetic int64."""
    from schemasaurus_spark.operators.fuse import fuse_rank_scores
    from schemasaurus_spark.operators.text import token_count

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "n_chars",
        token_count(F.col("text")).alias("n_tokens"),
        F.length(F.regexp_replace("text", r"[A-Za-z0-9 \t\n\x0B\f\r]", "")).alias("n_punct"),
    )
    return fuse_rank_scores(docs, {"n_chars": 1, "n_tokens": 2, "n_punct": 1})


_FUSED_QUALITY_ORACLE = r"""
WITH base AS (
  SELECT doc_id, n_chars,
         CASE WHEN text IS NULL OR trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
         CASE WHEN text IS NULL THEN NULL
              ELSE length(regexp_replace(text, '[A-Za-z0-9 \t\n\x0B\f\r]', '', 'g')) END
           AS n_punct
  FROM documents
),
r_chars AS (
  SELECT _v, CASE WHEN _n_all > 1
                  THEN ((2 * _n_lt + _n_eq - 1) * 5000) // (_n_all - 1)
                  ELSE 5000 END AS bp
  FROM (SELECT n_chars AS _v, count(*) AS _n_eq,
               coalesce(sum(count(*)) OVER (ORDER BY n_chars ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _n_lt,
               sum(count(*)) OVER () AS _n_all
        FROM base WHERE n_chars IS NOT NULL GROUP BY n_chars)
),
r_tokens AS (
  SELECT _v, CASE WHEN _n_all > 1
                  THEN ((2 * _n_lt + _n_eq - 1) * 5000) // (_n_all - 1)
                  ELSE 5000 END AS bp
  FROM (SELECT n_tokens AS _v, count(*) AS _n_eq,
               coalesce(sum(count(*)) OVER (ORDER BY n_tokens ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _n_lt,
               sum(count(*)) OVER () AS _n_all
        FROM base WHERE n_tokens IS NOT NULL GROUP BY n_tokens)
),
r_punct AS (
  SELECT _v, CASE WHEN _n_all > 1
                  THEN ((2 * _n_lt + _n_eq - 1) * 5000) // (_n_all - 1)
                  ELSE 5000 END AS bp
  FROM (SELECT n_punct AS _v, count(*) AS _n_eq,
               coalesce(sum(count(*)) OVER (ORDER BY n_punct ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _n_lt,
               sum(count(*)) OVER () AS _n_all
        FROM base WHERE n_punct IS NOT NULL GROUP BY n_punct)
)
SELECT b.doc_id,
       CAST(c.bp AS BIGINT) AS n_chars_bp,
       CAST(t.bp AS BIGINT) AS n_tokens_bp,
       CAST(p.bp AS BIGINT) AS n_punct_bp,
       CASE WHEN (CASE WHEN c.bp IS NOT NULL THEN 1 ELSE 0 END
                 + CASE WHEN t.bp IS NOT NULL THEN 2 ELSE 0 END
                 + CASE WHEN p.bp IS NOT NULL THEN 1 ELSE 0 END) > 0
            THEN CAST((coalesce(c.bp, 0) * 1 + coalesce(t.bp, 0) * 2
                       + coalesce(p.bp, 0) * 1)
                 // (CASE WHEN c.bp IS NOT NULL THEN 1 ELSE 0 END
                     + CASE WHEN t.bp IS NOT NULL THEN 2 ELSE 0 END
                     + CASE WHEN p.bp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       END AS fused_bp
FROM base b
LEFT JOIN r_chars c ON b.n_chars = c._v
LEFT JOIN r_tokens t ON b.n_tokens = t._v
LEFT JOIN r_punct p ON b.n_punct = p._v
"""


def doc_fused_quality_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score fusion on a CONTINUOUS double signal — the round-4 verdict's
    cliff case: punct_ratio + a doc_id*1e-12 jitter makes the signal
    tie-free, so the distinct-value table is EXACTLY corpus-sized and the
    old partition-less window would serialize the whole corpus through
    one task.  With operators/prefix.py the cumsum hash-distributes; the
    ladder entry (tools/pairs.py QUERIES) pins the linear wall.  The
    jitter is the standard tie-breaking trick of rank fusion and the
    worst case for the prefix machinery by construction.  All division /
    addition is single-expression IEEE double, identical in DuckDB."""
    from schemasaurus_spark.operators.fuse import fuse_rank_scores

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "n_chars",
        F.when(
            (F.col("n_chars") > 0) & F.col("text").isNotNull(),
            F.length(F.regexp_replace("text", r"[A-Za-z0-9 \t\n\x0B\f\r]", ""))
            / F.col("n_chars")
            + F.col("doc_id") * F.lit(1e-12),
        ).alias("punct_jit"),
    )
    return fuse_rank_scores(docs, {"punct_jit": 2, "n_chars": 1})


_FUSED_CONTINUOUS_ORACLE = r"""
WITH base AS (
  SELECT doc_id, n_chars,
         CASE WHEN n_chars > 0 AND text IS NOT NULL
              THEN length(regexp_replace(text, '[A-Za-z0-9 \t\n\x0B\f\r]', '', 'g'))
                   / n_chars + doc_id * 1e-12
         END AS punct_jit
  FROM documents
),
r_jit AS (
  SELECT _v, CASE WHEN _n_all > 1
                  THEN ((2 * _n_lt + _n_eq - 1) * 5000) // (_n_all - 1)
                  ELSE 5000 END AS bp
  FROM (SELECT punct_jit AS _v, count(*) AS _n_eq,
               coalesce(sum(count(*)) OVER (ORDER BY punct_jit ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _n_lt,
               sum(count(*)) OVER () AS _n_all
        FROM base WHERE punct_jit IS NOT NULL GROUP BY punct_jit)
),
r_chars AS (
  SELECT _v, CASE WHEN _n_all > 1
                  THEN ((2 * _n_lt + _n_eq - 1) * 5000) // (_n_all - 1)
                  ELSE 5000 END AS bp
  FROM (SELECT n_chars AS _v, count(*) AS _n_eq,
               coalesce(sum(count(*)) OVER (ORDER BY n_chars ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _n_lt,
               sum(count(*)) OVER () AS _n_all
        FROM base WHERE n_chars IS NOT NULL GROUP BY n_chars)
)
SELECT b.doc_id,
       CAST(j.bp AS BIGINT) AS punct_jit_bp,
       CAST(c.bp AS BIGINT) AS n_chars_bp,
       CASE WHEN (CASE WHEN j.bp IS NOT NULL THEN 2 ELSE 0 END
                 + CASE WHEN c.bp IS NOT NULL THEN 1 ELSE 0 END) > 0
            THEN CAST((coalesce(j.bp, 0) * 2 + coalesce(c.bp, 0) * 1)
                 // (CASE WHEN j.bp IS NOT NULL THEN 2 ELSE 0 END
                     + CASE WHEN c.bp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       END AS fused_bp
FROM base b
LEFT JOIN r_jit j ON b.punct_jit = j._v
LEFT JOIN r_chars c ON b.n_chars = c._v
"""


def _nr_damaged_docs(spark: SparkSession) -> DataFrame:
    """The generated interleaved corpus with DETERMINISTIC damage planted
    on span index 1, keyed by the doc_id's last digit: bad offsets
    (regressed / NULL / negative), bad kind, stray text on media spans,
    NULLed text on text spans, NULLed media_ref, and a kind that
    contradicts its ref — every repair rule made non-vacuous.  The
    oracle replays the plant from the same parquet."""
    docs = _northrule_docs(spark)
    d = F.expr("CAST(right(doc_id, 1) AS INT)")

    def mutate(s, i):
        is1 = i == F.lit(1)
        kind = (
            F.when(is1 & d.isin(1, 4), F.lit("video"))
            .when(
                is1 & (d == 6) & s["media_ref"].startswith("media://img/"),
                F.lit("audio"),
            )
            .otherwise(s["kind"])
        )
        text = (
            F.when(is1 & (d == 2) & (s["kind"] != "text"), F.lit("stray"))
            .when(is1 & (d == 9) & (s["kind"] == "text"), F.lit(None).cast("string"))
            .otherwise(s["text"])
        )
        ref = F.when(is1 & (d == 5), F.lit(None).cast("string")).otherwise(
            s["media_ref"]
        )
        off = (
            F.when(is1 & d.isin(0, 3), F.lit(3))
            .when(is1 & (d == 7), F.lit(None).cast("int"))
            .when(is1 & (d == 8), F.lit(-7))
            .otherwise(s["offset"])
        )
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            ref.alias("media_ref"),
            off.cast("int").alias("offset"),
        )

    return docs.select("doc_id", F.transform("spans", mutate).alias("spans"))


def northrule_span_repair_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span repair audit rows (operators/repair.py) over the damaged
    corpus: (doc_id, span_idx, code, detail) for every kindFromRef /
    textDropped / spanDropped / offsetRepaired action.  The whole pass
    is in-array column expressions — one projection scan, ZERO shuffles;
    the oracle replays plant + rules + the closed-form offset recurrence
    (prefix-sum + running-max windows per physical row).  The media
    catalog is passed, so dangling refs (planted in the generated
    corpus) drop as refDangling — referential repair included."""
    from schemasaurus_spark.operators.repair import repair_spans

    return repair_spans(
        _nr_damaged_docs(spark), catalog=generate_media_catalog(spark, seed=7)
    ).select(
        "doc_id", F.explode("repairs").alias("r")
    ).select("doc_id", "r.span_idx", "r.code", "r.detail")


def northrule_repaired_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repaired spans flattened to (doc_id, pos, kind, text,
    media_ref, offset) — the output-side proof: surviving spans in
    order, offsets canonicalized (strict order, no text overlap; a
    pytest re-validates the repaired table against span_integrity)."""
    from schemasaurus_spark.operators.repair import repair_spans

    rep = repair_spans(
        _nr_damaged_docs(spark), catalog=generate_media_catalog(spark, seed=7)
    )
    return rep.select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).select(
        "doc_id",
        "pos",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def northrule_span_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching profile over the generated interleaved corpus
    (operators/text.py span_lang_profile): per-span stopword-vote
    language ID, majority excluding 'und', minority counts — fully
    in-array (ZERO shuffles, duplicate doc_ids stay separate rows); the
    oracle unnests per physical row and replays the votes, the argmax
    and the sum-minus-max minority identity in SQL."""
    from schemasaurus_spark.operators.text import span_lang_profile

    return span_lang_profile(_northrule_docs(spark))


def _span_lang_oracle_sql() -> str:
    g = "greatest(cde, cen, ces, cfr)"
    return f"""
WITH docs AS (
  SELECT *, row_number() OVER () AS rn
  FROM read_parquet('{_NR_DOCS_PATH}/*.parquet')
),
ex AS (SELECT rn, doc_id, unnest(spans) AS s FROM docs),
sp AS (SELECT rn, s.text AS text FROM ex WHERE s.kind = 'text'),
v AS (
  SELECT rn, text,
         {_votes_sql(_STOPWORDS["de"])} AS vde,
         {_votes_sql(_STOPWORDS["en"])} AS ven,
         {_votes_sql(_STOPWORDS["es"])} AS ves,
         {_votes_sql(_STOPWORDS["fr"])} AS vfr
  FROM sp
),
sl AS (
  SELECT rn,
         CASE WHEN text IS NULL OR greatest(vde, ven, ves, vfr) <= 0 THEN 'und'
              WHEN vde = greatest(vde, ven, ves, vfr) THEN 'de'
              WHEN ven = greatest(vde, ven, ves, vfr) THEN 'en'
              WHEN ves = greatest(vde, ven, ves, vfr) THEN 'es'
              ELSE 'fr' END AS lang
  FROM v
),
cnt AS (
  SELECT rn, count(*) AS n_text_spans,
         sum(CASE WHEN lang = 'und' THEN 1 ELSE 0 END) AS n_und,
         sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS cde,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cen,
         sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS ces,
         sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS cfr
  FROM sl GROUP BY rn
)
SELECT d.doc_id,
       coalesce(CASE WHEN {g} IS NULL OR {g} <= 0 THEN 'und'
                     WHEN cde = {g} THEN 'de'
                     WHEN cen = {g} THEN 'en'
                     WHEN ces = {g} THEN 'es'
                     ELSE 'fr' END, 'und') AS majority_lang,
       CAST(coalesce(c.n_text_spans, 0) AS INT) AS n_text_spans,
       CAST(coalesce(c.n_und, 0) AS INT) AS n_und,
       CAST(coalesce(cde + cen + ces + cfr - {g}, 0) AS INT) AS n_minority
FROM docs d LEFT JOIN cnt c ON d.rn = c.rn
"""


def _repair_oracle_prefix() -> str:
    return f"""
WITH docs AS (
  SELECT *, row_number() OVER () AS rn
  FROM read_parquet('{_NR_DOCS_PATH}/*.parquet')
),
flat AS (
  SELECT rn, doc_id, CAST(right(doc_id, 1) AS INT) AS d,
         unnest(spans) AS s, generate_subscripts(spans, 1) - 1 AS i
  FROM docs
),
planted AS (
  SELECT rn, doc_id, CAST(i AS INT) AS idx,
         CASE WHEN i = 1 AND d IN (1, 4) THEN 'video'
              WHEN i = 1 AND d = 6 AND s.media_ref LIKE 'media://img/%' THEN 'audio'
              ELSE s.kind END AS kind0,
         CASE WHEN i = 1 AND d = 2 AND s.kind <> 'text' THEN 'stray'
              WHEN i = 1 AND d = 9 AND s.kind = 'text' THEN NULL
              ELSE s.text END AS text0,
         CASE WHEN i = 1 AND d = 5 THEN NULL ELSE s.media_ref END AS media_ref,
         CASE WHEN i = 1 AND d IN (0, 3) THEN 3
              WHEN i = 1 AND d = 7 THEN NULL
              WHEN i = 1 AND d = 8 THEN -7
              ELSE s."offset" END AS off0
  FROM flat
),
staged AS (
  SELECT rn, doc_id, idx, kind0, text0, media_ref, off0,
         CASE WHEN kind0 = 'image' AND media_ref LIKE 'media://aud/%' THEN 'audio'
              WHEN kind0 = 'audio' AND media_ref LIKE 'media://img/%' THEN 'image'
              ELSE kind0 END AS kind,
         (text0 IS NOT NULL) AS had_text
  FROM planted
),
staged2 AS (
  SELECT *, CASE WHEN kind = 'text' THEN text0 END AS text,
         CASE WHEN kind IS NULL OR kind NOT IN ('text','image','audio','ref')
                THEN 'badKind'
              WHEN kind = 'text' AND text0 IS NULL THEN 'textMissing'
              WHEN kind IN ('image','audio') AND media_ref IS NULL THEN 'refMissing'
              WHEN kind IN ('image','audio') AND media_ref NOT IN
                   (SELECT media_ref FROM read_parquet('{_NR_CATALOG_PATH}/*.parquet'))
                THEN 'refDangling'
         END AS drop_reason
  FROM staged
),
survivors AS (
  SELECT *,
         CASE WHEN kind = 'text' THEN greatest(length(text), 1) ELSE 1 END AS ext
  FROM staged2 WHERE drop_reason IS NULL
),
offs AS (
  SELECT rn, doc_id, idx, kind, text, media_ref, off0,
         CAST(cume + greatest(coalesce(
               max(off0 - cume) OVER (PARTITION BY rn ORDER BY idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0), 0)
           AS INT) AS off
  FROM (
    SELECT *, coalesce(sum(ext) OVER (PARTITION BY rn ORDER BY idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cume
    FROM survivors
  )
)"""


def _repair_log_oracle_sql() -> str:
    return (
        _repair_oracle_prefix()
        + """
SELECT doc_id, span_idx, code, detail FROM (
  SELECT doc_id, idx AS span_idx, 'kindFromRef' AS code,
         kind0 || '->' || kind AS detail
  FROM staged2 WHERE kind <> kind0
  UNION ALL
  SELECT doc_id, idx, 'textDropped', kind
  FROM staged2 WHERE had_text AND kind IS NOT NULL AND kind <> 'text'
  UNION ALL
  SELECT doc_id, idx, 'spanDropped', drop_reason
  FROM staged2 WHERE drop_reason IS NOT NULL
  UNION ALL
  SELECT doc_id, idx, 'offsetRepaired',
         coalesce(CAST(off0 AS VARCHAR), 'NULL') || '->' || CAST(off AS VARCHAR)
  FROM offs WHERE off0 IS NULL OR off0 <> off
)
"""
    )


def _repaired_sequence_oracle_sql() -> str:
    return (
        _repair_oracle_prefix()
        + """
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY rn ORDER BY idx) - 1 AS INT) AS pos,
       kind, text, media_ref, off AS "offset"
FROM offs
"""
    )


def _boilerplate_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-line plant over documents (corpus text carries
    no newlines): a per-source nav line in EVERY doc (case + whitespace
    variants that normalize equal), a cookie banner in ~2/3 of docs
    (above the 50% bar), a subscribe line in ~1/3 (repeated but UNDER
    the bar — the negative case), a unique body line, and trailing
    blank lines in every 5th doc (empty-line skipping non-vacuous)."""
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    nl = F.lit("\n")
    nav = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("NAV  "), F.upper("source"), F.lit(" | HOME")),
    ).otherwise(F.concat(F.lit("nav "), F.col("source"), F.lit(" | home")))
    body = F.concat(
        nl,
        F.lit("b"),
        F.col("doc_id").cast("string"),
        F.lit(" "),
        F.coalesce("text", F.lit("")),
    )
    cookie = F.when(
        F.col("doc_id") % 3 != 0, F.concat(nl, F.lit("We  use Cookies"))
    ).otherwise(F.lit(""))
    subscribe = F.when(
        F.col("doc_id") % 3 == 0, F.concat(nl, F.lit("SUBSCRIBE now"))
    ).otherwise(F.lit(""))
    blanks = F.when(
        F.col("doc_id") % 5 == 0, F.concat(nl, F.lit("  "), nl)
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id",
        "source",
        F.concat(nav, body, cookie, subscribe, blanks).alias("text"),
    )


def doc_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate line profile (operators/boilerplate.py):
    normalized lines in >=2 distinct docs AND >=50% of the source's
    line-contributing docs.  One posexplode projection + two distinct
    aggregates (both map-side partial-distinct); output is bounded by
    the boilerplate vocabulary — metadata-sized."""
    from schemasaurus_spark.operators.boilerplate import boilerplate_lines

    return boilerplate_lines(_boilerplate_planted(spark, sf_dir))


def doc_boilerplate_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal applied (operators/boilerplate.py): per doc
    the non-empty line count, surviving count, and the '\\n'-rejoined
    surviving raw lines in original order.  The boilerplate set is tiny
    (that's what makes it boilerplate) so AQE broadcasts the tag join;
    reassembly is one doc-keyed groupBy of bounded-size documents."""
    from schemasaurus_spark.operators.boilerplate import remove_boilerplate_lines

    out = remove_boilerplate_lines(_boilerplate_planted(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_kept").cast("long").alias("n_kept"),
        "clean_text",
    )


_BOILERPLATE_ORACLE_PREFIX = r"""
WITH planted AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 2 = 0 THEN 'NAV  ' || upper(source) || ' | HOME'
              ELSE 'nav ' || source || ' | home' END
         || chr(10) || 'b' || CAST(doc_id AS VARCHAR) || ' ' || coalesce(text, '')
         || CASE WHEN doc_id % 3 <> 0 THEN chr(10) || 'We  use Cookies' ELSE '' END
         || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'SUBSCRIBE now' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN chr(10) || '  ' || chr(10) ELSE '' END
           AS text
  FROM documents
),
rawlines AS (
  SELECT doc_id, source,
         generate_subscripts(string_split(text, chr(10)), 1) - 1 AS pos,
         unnest(string_split(text, chr(10))) AS line
  FROM planted WHERE text IS NOT NULL
),
lines AS (
  SELECT doc_id, source, pos, line,
         lower(regexp_replace(trim(line), '\s+', ' ', 'g')) AS norm
  FROM rawlines
  WHERE lower(regexp_replace(trim(line), '\s+', ' ', 'g')) <> ''
),
src_docs AS (
  SELECT source, count(DISTINCT doc_id) AS n_source_docs FROM lines GROUP BY source
),
freq AS (
  SELECT source, norm, count(DISTINCT doc_id) AS n_docs
  FROM lines GROUP BY source, norm
),
bp AS (
  SELECT f.source, f.norm, f.n_docs, s.n_source_docs
  FROM freq f JOIN src_docs s ON f.source = s.source
  WHERE f.n_docs >= 2 AND f.n_docs * 100 >= 50 * s.n_source_docs
)"""


_BOILERPLATE_LINES_ORACLE = (
    _BOILERPLATE_ORACLE_PREFIX
    + """
SELECT source, norm AS line_norm, n_docs, n_source_docs FROM bp
"""
)


_BOILERPLATE_CLEAN_ORACLE = (
    _BOILERPLATE_ORACLE_PREFIX
    + """,
tagged AS (
  SELECT l.doc_id, l.pos, l.line, (b.norm IS NULL) AS keep
  FROM lines l LEFT JOIN bp b ON l.source = b.source AND l.norm = b.norm
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '')
           AS clean_text
  FROM tagged GROUP BY doc_id
)
SELECT d.doc_id, coalesce(a.n_lines, 0) AS n_lines,
       coalesce(a.n_kept, 0) AS n_kept,
       coalesce(a.clean_text, '') AS clean_text
FROM (SELECT DISTINCT doc_id FROM planted WHERE text IS NOT NULL) d
LEFT JOIN agg a ON d.doc_id = a.doc_id
"""
)



def northrule_training_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-doc training serialization (operators/interleave.py
    render_training_text): spans flattened in order into ONE training
    string — text spans verbatim (NULL text -> empty piece), media spans
    as <|kind|> placeholder tokens — plus the comma-joined media fetch
    manifest and exact char/placeholder accounting.  Fully in-array
    (ZERO shuffles, one projection scan, duplicate doc_ids stay separate
    physical rows); the oracle replays the same flatten with DuckDB list
    lambdas per physical row."""
    from schemasaurus_spark.operators.interleave import render_training_text

    return render_training_text(_northrule_docs(spark))


_TRAINING_TEXT_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, coalesce(spans, []) AS sp
  FROM read_parquet('{_NR_DOCS_PATH}/*.parquet')
)
SELECT doc_id,
       CASE WHEN len(sp) > 0 THEN array_to_string(
         list_transform(sp, s -> CASE WHEN s.kind = 'text'
                                      THEN coalesce(s.text, '')
                                      ELSE '<|' || s.kind || '|>' END),
         chr(10)) END AS training_text,
       coalesce(array_to_string(
         list_filter(list_transform(sp, s -> s.media_ref),
                     r -> r IS NOT NULL), ','), '') AS media_refs_csv,
       CAST(coalesce(length(CASE WHEN len(sp) > 0 THEN array_to_string(
         list_transform(sp, s -> CASE WHEN s.kind = 'text'
                                      THEN coalesce(s.text, '')
                                      ELSE '<|' || s.kind || '|>' END),
         chr(10)) END), 0) AS BIGINT) AS n_chars,
       CAST(coalesce(list_sum(list_transform(sp,
         s -> CASE WHEN s.kind = 'text' THEN length(coalesce(s.text, ''))
                   ELSE 0 END)), 0) AS BIGINT) AS n_text_chars,
       CAST(len(list_filter(sp, s -> s.kind != 'text')) AS BIGINT)
         AS n_placeholders
FROM docs
"""



# -- script / encoding-corruption profile -------------------------------
# Deterministic plant keyed by doc_id % 10 so every script bucket and all
# three mojibake artifact counters are NON-VACUOUS on the ASCII testdata
# corpus; the oracle replays the identical concat from the same table.
_SCRIPT_SNIPPETS: dict[int, str] = {
    1: " \u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 \u0434\u0430\u043d\u043d\u044b\u0435",
    2: " \u4f60\u597d\u4e16\u754c\u6570\u636e",
    3: " caf\u00c3\u00a9 it\u00e2\u0080\u0099s",
    4: " \ufffd\ufffd",
    5: " \u0395\u03bb\u03bb\u03b7\u03bd\u03b9\u03ba\u03ac \u03ba\u03b5\u03af\u03bc\u03b5\u03bd\u03bf",
    6: " \u0645\u0631\u062d\u0628\u0627 \u0628\u0627\u0644\u0639\u0627\u0644\u0645",
    7: " \ud55c\uad6d\uc5b4 \ub370\uc774\ud130",
    8: " \u0939\u093f\u0928\u094d\u0926\u0940 \u092a\u093e\u0920",
    9: " \u05e9\u05dc\u05d5\u05dd \u05e2\u05d5\u05dc\u05dd",
}


def _script_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (F.col("doc_id") % 10).cast("int")
    # tens-digit parity splits each snippet bucket: odd tens REPLACE the
    # text (pure foreign-script doc -> every dominant_script branch
    # fires), even tens APPEND (mixed doc -> counts non-vacuous while
    # latin stays dominant).
    replace = (F.col("doc_id") % 20) >= 10
    text = F.col("text")
    planted = text
    for digit, snip in _SCRIPT_SNIPPETS.items():
        planted = F.when(
            (d == digit) & replace, F.lit(snip)
        ).when(d == digit, F.concat(text, F.lit(snip))).otherwise(planted)
    return _docs(spark, sf_dir).select("doc_id", planted.alias("text"))


def doc_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script + mojibake forensics (operators/encoding.py): per-doc
    script-range char counts (explicit BMP codepoint classes — portable
    across Java regex and RE2), U+FFFD / C1-control / UTF-8-as-latin-1
    pair counts, integer-argmax dominant script with fixed tie
    precedence, basis-point purity.  ZERO shuffles (one projection scan
    of JVM regex expressions); the oracle replays every count as a
    regexp_replace length delta with the 'g' flag."""
    from schemasaurus_spark.operators.encoding import script_profile

    return script_profile(_script_planted(spark, sf_dir))


def _script_profile_oracle_sql() -> str:
    from schemasaurus_spark.operators.encoding import (
        SCRIPT_RANGES,
        _C1,
        _MOJIBAKE_PAIR,
        _REPLACEMENT,
    )

    cases = "\n           ".join(
        f"WHEN (doc_id % 20 >= 10) AND doc_id % 10 = {d} THEN '{snip}' "
        f"WHEN doc_id % 10 = {d} THEN text || '{snip}'"
        for d, snip in _SCRIPT_SNIPPETS.items()
    )

    def removed(pat: str) -> str:
        return f"length(t) - length(regexp_replace(t, '{pat}', '', 'g'))"

    count_cols = ",\n         ".join(
        f"CAST({removed(pat)} AS BIGINT) AS n_{name}"
        for name, pat in SCRIPT_RANGES
    )
    names = [name for name, _ in SCRIPT_RANGES]
    g = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    tot = " + ".join(f"n_{n}" for n in names)
    dom = "CASE WHEN " + g + " <= 0 THEN 'none' " + " ".join(
        f"WHEN n_{n} = {g} THEN '{n}'" for n in names
    ) + " END"
    return f"""
WITH planted AS (
  SELECT doc_id,
         CASE {cases}
           ELSE text END AS text
  FROM documents
),
base AS (SELECT doc_id, coalesce(text, '') AS t FROM planted),
cnt AS (
  SELECT doc_id,
         CAST(length(t) AS BIGINT) AS n_chars,
         {count_cols},
         CAST({removed(_REPLACEMENT)} AS BIGINT) AS n_replacement,
         CAST({removed(_C1)} AS BIGINT) AS n_c1,
         CAST(({removed(_MOJIBAKE_PAIR)}) // 2 AS BIGINT) AS n_mojibake_pairs
  FROM base
)
SELECT doc_id, n_chars, {', '.join('n_' + n for n in names)},
       n_replacement, n_c1, n_mojibake_pairs,
       {dom} AS dominant_script,
       CAST(CASE WHEN {g} <= 0 THEN 0
                 ELSE ({g} * 10000) // ({tot}) END AS BIGINT)
         AS script_purity_bp
FROM cnt
"""



# -- license / usage-rights compliance ---------------------------------
_LICENSE_SNIPPETS: dict[int, str] = {
    1: " All Rights Reserved.",
    2: " Licensed under CC BY-NC-SA 4.0.",
    3: " licensed under cc by-sa 4.0",
    4: " This work is in the Public Domain (CC0).",
    5: " SPDX-License-Identifier: Apache-2.0",
    6: " Copyright \u00a9 2024 Example Corp. All rights reserved."
       " copyright notices.",
    7: " Creative Commons Attribution license",
    8: " strictly Non-Commercial use only",
}


def doc_license_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Usage-rights tagging (operators/compliance.py): SPDX extraction,
    boilerplate license markers, exact copyright-mark counting, and the
    most-restrictive-wins license_class fold — ZERO shuffles, one
    projection scan; plant keyed by doc_id % 10 makes every class branch
    and marker flag non-vacuous; the oracle replays detection on
    lower(text) with the identical lookaround-free patterns."""
    from schemasaurus_spark.operators.compliance import license_profile

    d = (F.col("doc_id") % 10).cast("int")
    text = F.col("text")
    planted = text
    for digit, snip in _LICENSE_SNIPPETS.items():
        planted = F.when(d == digit, F.concat(text, F.lit(snip))).otherwise(
            planted
        )
    return license_profile(
        _docs(spark, sf_dir).select("doc_id", planted.alias("text"))
    )


def _license_profile_oracle_sql() -> str:
    from schemasaurus_spark.operators.compliance import (
        ARR_PHRASE,
        CC_BY_PATTERN,
        CC_RESTRICTED_PATTERN,
        PUBLIC_DOMAIN_PATTERN,
        SPDX_PATTERN,
    )

    cases = "\n           ".join(
        f"WHEN doc_id % 10 = {d} THEN text || '{snip}'"
        for d, snip in _LICENSE_SNIPPETS.items()
    )

    def count(needle: str) -> str:
        return (
            f"(length(t) - length(regexp_replace(t, '{needle}', '', 'g')))"
            f" // {len(needle)}"
        )

    def flag(pat: str) -> str:
        return f"CAST(CASE WHEN regexp_matches(t, '{pat}') THEN 1 ELSE 0 END AS BIGINT)"

    n_copyright = count("copyright") + " + " + count("\u00a9")

    return f"""
WITH planted AS (
  SELECT doc_id,
         CASE {cases}
           ELSE text END AS text
  FROM documents
),
base AS (SELECT doc_id, lower(coalesce(text, '')) AS t FROM planted),
m AS (
  SELECT doc_id,
         CAST(CASE WHEN position('{ARR_PHRASE}' IN t) > 0
                   THEN 1 ELSE 0 END AS BIGINT) AS f_arr,
         {flag(CC_RESTRICTED_PATTERN)} AS f_cc_restricted,
         {flag(CC_BY_PATTERN)} AS f_cc_by,
         {flag(PUBLIC_DOMAIN_PATTERN)} AS f_public_domain,
         nullif(regexp_extract(t, '{SPDX_PATTERN}', 1), '') AS spdx_id,
         CAST({n_copyright} AS BIGINT)
           AS n_copyright_marks
  FROM base
)
SELECT doc_id,
       CASE WHEN f_arr = 1 THEN 'all_rights_reserved'
            WHEN f_cc_restricted = 1 THEN 'cc_restricted'
            WHEN f_cc_by = 1 THEN 'cc_by'
            WHEN f_public_domain = 1 THEN 'public_domain'
            WHEN spdx_id IS NOT NULL THEN 'spdx'
            ELSE 'none' END AS license_class,
       spdx_id, n_copyright_marks, f_arr, f_cc_restricted, f_cc_by,
       f_public_domain
FROM m
"""



def northrule_media_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media fan-in profile (operators/media_reuse.py): per distinct
    media_ref the span-reference count, distinct-document count (exact,
    via the two-phase (ref,doc) pre-dedup aggregate — no count(distinct)
    Expand), exact basis-point traffic share from a 1-row broadcast
    total, and the broadcast-catalog kind / in_catalog flag (dangling
    refs planted in the generated corpus keep the left join
    non-vacuous)."""
    from schemasaurus_spark.operators.media_reuse import media_reuse_profile

    return media_reuse_profile(
        _northrule_docs(spark), catalog=generate_media_catalog(spark, seed=7)
    )


_MEDIA_REUSE_ORACLE = f"""
WITH refs AS (
  SELECT doc_id, s.media_ref AS media_ref
  FROM (SELECT doc_id, unnest(spans) AS s
        FROM read_parquet('{_NR_DOCS_PATH}/*.parquet'))
  WHERE s.media_ref IS NOT NULL
),
per_doc AS (
  SELECT media_ref, doc_id, count(*) AS c
  FROM refs GROUP BY media_ref, doc_id
),
per_ref AS (
  SELECT media_ref, CAST(sum(c) AS BIGINT) AS n_refs,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM per_doc GROUP BY media_ref
),
tot AS (SELECT sum(n_refs) AS t FROM per_ref)
SELECT p.media_ref, p.n_refs, p.n_docs,
       CAST((p.n_refs * 10000) // tot.t AS BIGINT) AS share_bp,
       c.media_kind,
       CAST(CASE WHEN c.media_kind IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS in_catalog
FROM per_ref p CROSS JOIN tot
LEFT JOIN read_parquet('{_NR_CATALOG_PATH}/*.parquet') c
  ON p.media_ref = c.media_ref
"""



def event_value_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's CUSUM changepoint detector (operators/cusum.py) per
    event_type: two one-sided statistics in exact int64 micro-units via
    the closed form cum - min(0, running_min(cum)) — two windows sharing
    one (entity, ts_us, event_id) sort, ONE exchange; the oracle replays
    the identical prefix-sum + running-min windows."""
    from schemasaurus_spark.operators.cusum import cusum_changepoints

    return cusum_changepoints(
        spark.read.parquet(f"{sf_dir}/events.parquet"),
        target=50.0,
        slack=5.0,
        threshold=500.0,
    )


def _cusum_oracle_sql() -> str:
    from schemasaurus_spark.operators.cusum import quantize

    q_up = quantize(50.0) + quantize(5.0)
    q_dn = quantize(50.0) - quantize(5.0)
    q_h = quantize(500.0)
    return f"""
WITH base AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us, value,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS qv
  FROM events WHERE value IS NOT NULL
),
cums AS (
  SELECT *,
         sum(qv - {q_up}) OVER w AS cu,
         sum({q_dn} - qv) OVER w AS cd
  FROM base
  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
stats AS (
  SELECT *,
         cu - least(0, min(cu) OVER w) AS s_up,
         cd - least(0, min(cd) OVER w) AS s_dn
  FROM cums
  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, event_id, ts_us, value,
       CAST(s_up AS BIGINT) AS cusum_up_q,
       CAST(s_dn AS BIGINT) AS cusum_down_q,
       CAST(CASE WHEN s_up > {q_h} THEN 1 ELSE 0 END AS BIGINT) AS alarm_up,
       CAST(CASE WHEN s_dn > {q_h} THEN 1 ELSE 0 END AS BIGINT) AS alarm_down
FROM stats
"""



def northrule_span_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span profile (operators/span_boilerplate.py)
    over the generated interleaved corpus: normalized text spans reaching
    5 distinct documents — two-phase (norm, doc_id) pre-dedup aggregate,
    both shuffles map-side combined, duplicate doc_ids one logical doc."""
    from schemasaurus_spark.operators.span_boilerplate import (
        span_boilerplate_profile,
    )

    return span_boilerplate_profile(_northrule_docs(spark), min_docs=5)


def northrule_span_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal pass composed on the profile: boilerplate text spans
    dropped (original offsets kept — a subsequence of strictly increasing
    offsets stays strictly increasing), flattened to (doc_id, pos, kind,
    text, media_ref, offset).  Corpus side is a zero-shuffle in-array
    array_contains against the single-row broadcast profile array."""
    from schemasaurus_spark.operators.span_boilerplate import (
        remove_boilerplate_spans,
        span_boilerplate_profile,
    )

    docs = _northrule_docs(spark)
    prof = span_boilerplate_profile(docs, min_docs=5)
    return remove_boilerplate_spans(docs, prof).select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).select(
        "doc_id",
        "pos",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


_SPAN_BP_NORM = (
    "lower(regexp_replace(trim(s.text), '\\s+', ' ', 'g'))"
)

_SPAN_BP_PROFILE_ORACLE = f"""
WITH flat AS (
  SELECT doc_id, {_SPAN_BP_NORM} AS norm
  FROM (SELECT doc_id, unnest(spans) AS s
        FROM read_parquet('{_NR_DOCS_PATH}/*.parquet'))
  WHERE s.kind = 'text' AND s.text IS NOT NULL
        AND {_SPAN_BP_NORM} <> ''
),
per_doc AS (
  SELECT norm, doc_id, count(*) AS c FROM flat GROUP BY norm, doc_id
)
SELECT norm AS span_norm, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(c) AS BIGINT) AS n_spans
FROM per_doc GROUP BY norm HAVING count(*) >= 5
"""

_SPAN_CLEAN_ORACLE = f"""
WITH docs AS (
  SELECT *, row_number() OVER () AS rn
  FROM read_parquet('{_NR_DOCS_PATH}/*.parquet')
),
flat AS (
  SELECT rn, doc_id, unnest(spans) AS s,
         generate_subscripts(spans, 1) - 1 AS idx
  FROM docs
),
bp AS (
  SELECT norm FROM (
    SELECT norm, doc_id FROM (
      SELECT doc_id, {_SPAN_BP_NORM} AS norm
      FROM (SELECT doc_id, unnest(spans) AS s
            FROM read_parquet('{_NR_DOCS_PATH}/*.parquet'))
      WHERE s.kind = 'text' AND s.text IS NOT NULL
            AND {_SPAN_BP_NORM} <> ''
    ) GROUP BY norm, doc_id
  ) GROUP BY norm HAVING count(*) >= 5
),
kept AS (
  SELECT rn, doc_id, idx, s
  FROM flat
  WHERE NOT coalesce(
    s.kind = 'text' AND {_SPAN_BP_NORM} IN (SELECT norm FROM bp), FALSE)
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY rn ORDER BY idx) - 1 AS INT)
         AS pos,
       s.kind AS kind, s.text AS text, s.media_ref AS media_ref,
       s."offset" AS "offset"
FROM kept
"""



def northrule_layout_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural template detection (operators/layout.py): documents
    grouped by the md5 of their span-kind sequence; groups reaching 3
    distinct documents (two-phase pre-dedup aggregate, no Expand;
    duplicate doc_ids one logical doc).  The oracle rebuilds the
    signature + md5 with DuckDB list lambdas."""
    from schemasaurus_spark.operators.layout import layout_template_groups

    return layout_template_groups(_northrule_docs(spark), min_docs=3)


_LAYOUT_ORACLE = f"""
WITH fp AS (
  SELECT doc_id,
         array_to_string(
           list_transform(coalesce(spans, []), s -> s.kind), ',') AS kinds_sig
  FROM read_parquet('{_NR_DOCS_PATH}/*.parquet')
),
per_doc AS (
  SELECT md5(kinds_sig) AS layout_fp, kinds_sig, doc_id, count(*) AS c
  FROM fp GROUP BY 1, 2, 3
)
SELECT layout_fp, kinds_sig, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(c) AS BIGINT) AS n_rows
FROM per_doc GROUP BY layout_fp, kinds_sig HAVING count(*) >= 3
"""



def northrule_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full interleaved curation pipeline
    (plans/interleaved_pipeline.py) over the damaged corpus: span repair
    (catalog-referential, closed-form offset canonicalization) ->
    cross-doc span-boilerplate removal (profile computed on the REPAIRED
    corpus) -> trainability gate (>= 20 text chars) -> training-text
    render with media placeholders and fetch manifest.  The oracle
    replays ALL FOUR stages and their composition order in one SQL
    chain: the repair CTE prefix, the boilerplate set, the ORDER BY-idx
    string_agg render and the gate."""
    from schemasaurus_spark.plans.interleaved_pipeline import (
        InterleavedPipeline,
    )

    pipe = InterleavedPipeline(min_docs_boilerplate=5, min_text_chars=20)
    return pipe.run(
        _nr_damaged_docs(spark), catalog=generate_media_catalog(spark, seed=7)
    )


def _curated_corpus_oracle_sql() -> str:
    norm = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
    return (
        _repair_oracle_prefix()
        + f""",
bp AS (
  SELECT norm FROM (
    SELECT norm, doc_id FROM (
      SELECT doc_id, {norm} AS norm
      FROM offs WHERE kind = 'text' AND text IS NOT NULL AND {norm} <> ''
    ) GROUP BY norm, doc_id
  ) GROUP BY norm HAVING count(*) >= 5
),
kept AS (
  SELECT * FROM offs
  WHERE NOT coalesce(
    kind = 'text' AND {norm} IN (SELECT norm FROM bp), FALSE)
),
rend AS (
  SELECT rn, max(doc_id) AS doc_id,
         string_agg(CASE WHEN kind = 'text' THEN coalesce(text, '')
                         ELSE '<|' || kind || '|>' END,
                    chr(10) ORDER BY idx) AS training_text,
         coalesce(string_agg(media_ref, ',' ORDER BY idx)
                    FILTER (WHERE media_ref IS NOT NULL), '')
           AS media_refs_csv,
         CAST(sum(CASE WHEN kind = 'text' THEN length(coalesce(text, ''))
                       ELSE 0 END) AS BIGINT) AS n_text_chars,
         CAST(sum(CASE WHEN kind <> 'text' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_placeholders
  FROM kept GROUP BY rn
)
SELECT doc_id, training_text, media_refs_csv,
       CAST(coalesce(length(training_text), 0) AS BIGINT) AS n_chars,
       n_text_chars, n_placeholders
FROM rend WHERE n_text_chars >= 20
"""
    )



def northrule_media_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-store GC worklist (media_reuse.media_orphans): catalog
    assets no document references — corpus collapses to distinct refs
    first (map-side combined), then a catalog-sized left-anti join."""
    from schemasaurus_spark.operators.media_reuse import media_orphans

    return media_orphans(
        generate_media_catalog(spark, seed=7), _northrule_docs(spark)
    )


_MEDIA_ORPHANS_ORACLE = f"""
WITH refs AS (
  SELECT DISTINCT s.media_ref AS media_ref
  FROM (SELECT unnest(spans) AS s
        FROM read_parquet('{_NR_DOCS_PATH}/*.parquet'))
  WHERE s.media_ref IS NOT NULL
)
SELECT c.*
FROM read_parquet('{_NR_CATALOG_PATH}/*.parquet') c
WHERE c.media_ref NOT IN (SELECT media_ref FROM refs)
"""



def northrule_template_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-template sampling quota — the composition layout.py's module
    doc advertises: layout fingerprints feed sampling.quota_cap so no
    page template contributes more than 5 documents (deterministic
    smallest-(md5(key:quota:seed), key) survivors, oversize groups
    prefiltered so no template ever serializes through one task)."""
    from schemasaurus_spark.operators.layout import layout_fingerprint
    from schemasaurus_spark.operators.sampling import quota_cap

    fp = layout_fingerprint(_northrule_docs(spark)).select(
        "doc_id", "layout_fp"
    )
    return quota_cap(fp, group_col="layout_fp", cap=5).select(
        "layout_fp", "doc_id"
    )


_TEMPLATE_QUOTA_ORACLE = f"""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(
           list_transform(coalesce(spans, []), s -> s.kind), ',')) AS layout_fp
  FROM read_parquet('{_NR_DOCS_PATH}/*.parquet')
)
SELECT layout_fp, doc_id FROM (
  SELECT layout_fp, doc_id,
         row_number() OVER (
           PARTITION BY layout_fp
           ORDER BY md5(doc_id || ':quota:0'), doc_id) AS rn
  FROM fp) t
WHERE rn <= 5
"""



def doc_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility profile per language: whitespace tokens and
    chars aggregated per lang with exact basis-point tokens-per-char
    fertility — the per-language cost signal behind context-budget and
    tokenizer-vocab decisions (CJK-heavy corpora burn tokens per char
    differently than whitespace languages).  One map-side-combined
    aggregate over a single projection scan."""
    from schemasaurus_spark.operators.text import token_count

    t = F.col("text")
    agg = (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(token_count(t)).cast("long").alias("n_tokens"),
            F.sum(F.length(F.coalesce(t, F.lit("")))).cast("long").alias(
                "n_chars"
            ),
        )
    )
    a = F.col("n_tokens") * 10000
    return agg.select(
        "lang",
        "n_docs",
        "n_tokens",
        "n_chars",
        F.when(F.col("n_chars") <= 0, F.lit(0).cast("long"))
        .otherwise(((a - (a % F.col("n_chars"))) / F.col("n_chars")).cast("long"))
        .alias("fertility_bp"),
    )


_FERTILITY_ORACLE = r"""
WITH agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END)
              AS BIGINT) AS n_tokens,
         CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS n_chars
  FROM documents GROUP BY lang
)
SELECT lang, n_docs, n_tokens, n_chars,
       CAST(CASE WHEN n_chars <= 0 THEN 0
                 ELSE (n_tokens * 10000) // n_chars END AS BIGINT)
         AS fertility_bp
FROM agg
"""


def doc_storage_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage accounting per source: UTF-8 byte size (octet_length) vs
    character count — the bytes-per-char ratio exposes multibyte-script
    and mojibake-heavy sources before anyone provisions storage or
    shuffle capacity for them.  One map-side-combined aggregate."""
    t = F.coalesce(F.col("text"), F.lit(""))
    agg = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.octet_length(t)).cast("long").alias("n_bytes"),
            F.sum(F.length(t)).cast("long").alias("n_chars"),
        )
    )
    a = F.col("n_bytes") * 10000
    return agg.select(
        "source",
        "n_docs",
        "n_bytes",
        "n_chars",
        F.when(F.col("n_chars") <= 0, F.lit(0).cast("long"))
        .otherwise(((a - (a % F.col("n_chars"))) / F.col("n_chars")).cast("long"))
        .alias("bytes_per_char_bp"),
    )


_STORAGE_ORACLE = """
WITH agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(strlen(coalesce(text, ''))) AS BIGINT) AS n_bytes,
         CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS n_chars
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_bytes, n_chars,
       CAST(CASE WHEN n_chars <= 0 THEN 0
                 ELSE (n_bytes * 10000) // n_chars END AS BIGINT)
         AS bytes_per_char_bp
FROM agg
"""


def northrule_violation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violation observability rollup: the north-rule validation pass's
    row-level violations aggregated to (code, json_pointer) with counts,
    distinct offending docs and exact basis-point shares — what an
    on-call engineer reads FIRST (which constraint, where in the
    document, how widespread) before opening row-level output.  One
    map-side-combined aggregate over the violations frame + a 1-row
    broadcast total."""
    job = ValidationJob()
    v = job.violations(job.validated(_northrule_docs(spark))).select(
        "doc_id", "code", "json_pointer"
    )
    per_doc = v.groupBy("code", "json_pointer", "doc_id").agg(
        F.count(F.lit(1)).alias("_c")
    )
    per = per_doc.groupBy("code", "json_pointer").agg(
        F.sum("_c").cast("long").alias("n_violations"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    total = per.agg(F.sum("n_violations").alias("_tot"))
    a = F.col("n_violations") * 10000
    return per.crossJoin(F.broadcast(total)).select(
        "code",
        "json_pointer",
        "n_violations",
        "n_docs",
        (((a - (a % F.col("_tot"))) / F.col("_tot")).cast("long")).alias(
            "share_bp"
        ),
    )



def _violation_rollup_oracle_sql() -> str:
    body = _NR_VIOLATIONS_ORACLE[len(_NR_BASE):]
    return f"""
{_NR_BASE},
viol AS (
{body}
),
per AS (
  SELECT code, json_pointer, CAST(count(*) AS BIGINT) AS n_violations,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM viol GROUP BY code, json_pointer
),
tot AS (SELECT sum(n_violations) AS t FROM per)
SELECT code, json_pointer, n_violations, n_docs,
       CAST((n_violations * 10000) // tot.t AS BIGINT) AS share_bp
FROM per CROSS JOIN tot
"""



def embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality self-measurement (similarity.retrieval_recall): the
    LSH top-5's per-probe recall against the exact brute-force top-5 —
    the number every accuracy/speed knob should be turned against.
    Probes the ANN missed entirely score 0 rather than vanish.  Both
    result frames are evaluation-sized; joins broadcast under AQE.  The
    oracle nests BOTH rankers' full oracle SQLs as subquery CTEs and
    replays the join + integer recall arithmetic."""
    from schemasaurus_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        retrieval_recall,
    )

    emb = _table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probes = emb.where(F.col("vec_id") < 8)
    return retrieval_recall(
        brute_force_topk(emb, probes, k=5), lsh_topk(emb, probes, dim=64, k=5)
    )


def _ann_recall_oracle_sql() -> str:
    return f"""
WITH exact AS (SELECT * FROM ({_TOPK_ORACLE}) x),
approx AS (SELECT * FROM ({_ann_oracle_sql()}) y),
ne AS (
  SELECT probe_id, CAST(count(*) AS BIGINT) AS n_exact
  FROM exact GROUP BY probe_id
),
hits AS (
  SELECT e.probe_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM exact e JOIN approx a
    ON e.probe_id = a.probe_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.probe_id
)
SELECT ne.probe_id, ne.n_exact,
       coalesce(h.n_hit, 0) AS n_hit,
       CAST((coalesce(h.n_hit, 0) * 10000) // ne.n_exact AS BIGINT)
         AS recall_bp
FROM ne LEFT JOIN hits h ON ne.probe_id = h.probe_id
"""



def embedding_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall harness pointed at the sublinear path: IVF-flat top-5
    (n_probe=4) measured against exact brute force per probe — together
    with embedding_ann_recall this puts a number on BOTH approximate
    rankers instead of trusting either."""
    from schemasaurus_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_topk,
        retrieval_recall,
    )

    emb = _table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probes = emb.where(F.col("vec_id") < 8)
    index = build_ivf_index(emb, dim=64)
    return retrieval_recall(
        brute_force_topk(emb, probes, k=5),
        ivf_topk(emb, probes, index, k=5, n_probe=4),
    )


def _ivf_recall_oracle_sql() -> str:
    return f"""
WITH exact AS (SELECT * FROM ({_TOPK_ORACLE}) x),
approx AS (SELECT * FROM ({_ivf_oracle_sql()}) y),
ne AS (
  SELECT probe_id, CAST(count(*) AS BIGINT) AS n_exact
  FROM exact GROUP BY probe_id
),
hits AS (
  SELECT e.probe_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM exact e JOIN approx a
    ON e.probe_id = a.probe_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.probe_id
)
SELECT ne.probe_id, ne.n_exact,
       coalesce(h.n_hit, 0) AS n_hit,
       CAST((coalesce(h.n_hit, 0) * 10000) // ne.n_exact AS BIGINT)
         AS recall_bp
FROM ne LEFT JOIN hits h ON ne.probe_id = h.probe_id
"""



def doc_oov_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-health OOV profile (vocab.vocab_coverage): per-doc
    out-of-vocabulary token share against the corpus top-20 vocabulary
    (vocab_topk) — the vocabulary rides as one sorted broadcast array
    probed by exact binary search (arrays.sorted_array_contains), so
    the whole pass is ZERO shuffles over the corpus; empty/NULL docs
    report 0/0/0 rather than vanish."""
    from schemasaurus_spark.operators.vocab import vocab_coverage, vocab_topk

    docs = _docs(spark, sf_dir)
    return vocab_coverage(docs, vocab_topk(docs, k=20))


def _oov_oracle_sql() -> str:
    return rf"""
WITH vocab AS (
  SELECT token FROM (
    SELECT token, sum(c) AS tf FROM (
      SELECT token, doc_id, count(*) AS c
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
            FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
      GROUP BY token, doc_id
    ) GROUP BY token ORDER BY tf DESC, token LIMIT 20
  ) v
),
toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN tok IN (SELECT token FROM vocab)
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
  FROM toks GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_tokens, 0) AS n_tokens,
       coalesce(p.n_oov, 0) AS n_oov,
       CAST(CASE WHEN coalesce(p.n_tokens, 0) <= 0 THEN 0
                 ELSE (p.n_oov * 10000) // p.n_tokens END AS BIGINT)
         AS oov_bp
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
"""



def host_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangles + local clustering per host
    (operators/triangles.py) over the planted link graph — the density
    measure that separates link farms (dense neighborhoods) from
    legitimate hubs (high degree, low clustering).  Compact-forward
    degree orientation: no window, hub out-degree bounded O(sqrt(m));
    the oracle replays canonicalization, struct-order orientation,
    wedge and closing joins with SQL row comparisons."""
    from schemasaurus_spark.operators.triangles import triangle_stats

    return triangle_stats(doc_link_graph(spark, sf_dir))


def doc_inferred_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Draft-4 schema inference from the observed corpus (schema/infer.py)
    flattened to (column, keyword, value) constraint rows — the inverse
    arc of the validators: one wide aggregate derives the tightest
    accepting schema (types, required-from-zero-nulls, exact numeric and
    length bounds, enum for <=10-cardinality strings), whose soundness
    (every observed row validates) is pytest-proven; the oracle
    recomputes every constraint branch from the same data."""
    from schemasaurus_spark.schema.infer import infer_schema, schema_constraint_rows

    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang", "source", "n_chars")
    rows = schema_constraint_rows(infer_schema(docs, enum_max=10))
    return spark.createDataFrame(rows, "column string, keyword string, value string")


_INFERRED_SCHEMA_ORACLE = """
WITH s AS (
  SELECT count(*) AS n,
    sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS nu_id,
    min(doc_id) AS mn_id, max(doc_id) AS mx_id,
    sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS nu_tx,
    min(length(text)) AS mnl_tx, max(length(text)) AS mxl_tx,
    sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS nu_lg,
    min(length(lang)) AS mnl_lg, max(length(lang)) AS mxl_lg,
    count(DISTINCT lang) AS d_lg,
    sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS nu_sr,
    min(length(source)) AS mnl_sr, max(length(source)) AS mxl_sr,
    count(DISTINCT source) AS d_sr,
    sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS nu_nc,
    min(n_chars) AS mn_nc, max(n_chars) AS mx_nc
  FROM documents
),
e_lg AS (SELECT string_agg(v, '|' ORDER BY v) AS ev
         FROM (SELECT DISTINCT lang AS v FROM documents WHERE lang IS NOT NULL)),
e_sr AS (SELECT string_agg(v, '|' ORDER BY v) AS ev
         FROM (SELECT DISTINCT source AS v FROM documents WHERE source IS NOT NULL))
SELECT 'doc_id' AS "column", 'type' AS keyword, 'integer' AS value FROM s
UNION ALL SELECT 'doc_id', 'required', 'true' FROM s WHERE nu_id = 0 AND n > 0
UNION ALL SELECT 'doc_id', 'minimum', CAST(mn_id AS VARCHAR) FROM s WHERE n - nu_id > 0
UNION ALL SELECT 'doc_id', 'maximum', CAST(mx_id AS VARCHAR) FROM s WHERE n - nu_id > 0
UNION ALL SELECT 'text', 'type', 'string' FROM s
UNION ALL SELECT 'text', 'required', 'true' FROM s WHERE nu_tx = 0 AND n > 0
UNION ALL SELECT 'text', 'minLength', CAST(mnl_tx AS VARCHAR) FROM s WHERE n - nu_tx > 0
UNION ALL SELECT 'text', 'maxLength', CAST(mxl_tx AS VARCHAR) FROM s WHERE n - nu_tx > 0
UNION ALL SELECT 'lang', 'type', 'string' FROM s
UNION ALL SELECT 'lang', 'required', 'true' FROM s WHERE nu_lg = 0 AND n > 0
UNION ALL SELECT 'lang', 'minLength', CAST(mnl_lg AS VARCHAR) FROM s WHERE n - nu_lg > 0
UNION ALL SELECT 'lang', 'maxLength', CAST(mxl_lg AS VARCHAR) FROM s WHERE n - nu_lg > 0
UNION ALL SELECT 'lang', 'enum', (SELECT ev FROM e_lg) FROM s
          WHERE n - nu_lg > 0 AND d_lg BETWEEN 1 AND 10
UNION ALL SELECT 'source', 'type', 'string' FROM s
UNION ALL SELECT 'source', 'required', 'true' FROM s WHERE nu_sr = 0 AND n > 0
UNION ALL SELECT 'source', 'minLength', CAST(mnl_sr AS VARCHAR) FROM s WHERE n - nu_sr > 0
UNION ALL SELECT 'source', 'maxLength', CAST(mxl_sr AS VARCHAR) FROM s WHERE n - nu_sr > 0
UNION ALL SELECT 'source', 'enum', (SELECT ev FROM e_sr) FROM s
          WHERE n - nu_sr > 0 AND d_sr BETWEEN 1 AND 10
UNION ALL SELECT 'n_chars', 'type', 'integer' FROM s
UNION ALL SELECT 'n_chars', 'required', 'true' FROM s WHERE nu_nc = 0 AND n > 0
UNION ALL SELECT 'n_chars', 'minimum', CAST(mn_nc AS VARCHAR) FROM s WHERE n - nu_nc > 0
UNION ALL SELECT 'n_chars', 'maximum', CAST(mx_nc AS VARCHAR) FROM s WHERE n - nu_nc > 0
"""


def customer_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage (operators/linkage.py) between customer and
    a deterministically perturbed copy (key shifted by 10^6, name +'x',
    every 10th acctbal corrupted by an exactly-representable +0.125):
    candidates from two blocking passes — (nation, mktsegment) and the
    name's trailing custkey digits (right side offset past its appended
    'x') — deduped before scoring; integer Fellegi-Sunter weights with
    levenshtein<=2 fuzzy name agreement, NULL-neutral.  Matches include
    the handful of deterministic near-miss collisions the score model
    admits (adjacent custkeys in the same block); the oracle replays
    blocks, dedup and scoring with DuckDB's identical levenshtein."""
    from schemasaurus_spark.operators.linkage import FieldComparator, record_linkage

    cust = _table(spark, sf_dir, "customer")
    right = cust.select(
        (F.col("c_custkey") + 1_000_000).alias("rid"),
        F.concat(F.col("c_name"), F.lit("x")).alias("name"),
        F.col("c_nationkey").alias("nationkey"),
        F.when(
            F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + F.lit(0.125)
        ).otherwise(F.col("c_acctbal")).alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    fields = [
        FieldComparator("name", "c_name", "name", w_agree=3, w_disagree=-2, max_edit=2),
        FieldComparator("bal", "c_acctbal", "acctbal", w_agree=2, w_disagree=-1),
        FieldComparator("seg", "c_mktsegment", "mktsegment", w_agree=1, w_disagree=-1),
        FieldComparator("nat", "c_nationkey", "nationkey", w_agree=1, w_disagree=-1),
    ]
    blocks = [
        (
            F.concat_ws(":", F.col("c_nationkey"), F.col("c_mktsegment")),
            F.concat_ws(":", F.col("nationkey"), F.col("mktsegment")),
        ),
        (F.substring(F.col("c_name"), -4, 4), F.substring(F.col("name"), -5, 4)),
    ]
    return record_linkage(
        cust, right,
        left_id="c_custkey", right_id="rid",
        blocks=blocks, fields=fields, threshold=4,
    )


_LINKAGE_ORACLE = """
WITH rt AS (
  SELECT c_custkey + 1000000 AS rid, c_name || 'x' AS name,
         c_nationkey AS nationkey,
         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 0.125
              ELSE c_acctbal END AS acctbal,
         c_mktsegment AS mktsegment
  FROM customer
),
cand AS (
  SELECT DISTINCT l.c_custkey AS lid, r.rid
  FROM customer l JOIN rt r
    ON concat_ws(':', l.c_nationkey, l.c_mktsegment)
     = concat_ws(':', r.nationkey, r.mktsegment)
  UNION
  SELECT DISTINCT l.c_custkey, r.rid
  FROM customer l JOIN rt r
    ON substr(l.c_name, -4, 4) = substr(r.name, -5, 4)
),
scored AS (
  SELECT c.lid AS c_custkey, c.rid,
      CAST(
        (CASE WHEN l.c_name IS NULL OR r.name IS NULL THEN 0
              WHEN levenshtein(l.c_name, r.name) <= 2 THEN 3 ELSE -2 END)
      + (CASE WHEN l.c_acctbal IS NULL OR r.acctbal IS NULL THEN 0
              WHEN l.c_acctbal = r.acctbal THEN 2 ELSE -1 END)
      + (CASE WHEN l.c_mktsegment IS NULL OR r.mktsegment IS NULL THEN 0
              WHEN l.c_mktsegment = r.mktsegment THEN 1 ELSE -1 END)
      + (CASE WHEN l.c_nationkey IS NULL OR r.nationkey IS NULL THEN 0
              WHEN l.c_nationkey = r.nationkey THEN 1 ELSE -1 END)
      AS BIGINT) AS score
  FROM cand c
  JOIN customer l ON l.c_custkey = c.lid
  JOIN rt r ON r.rid = c.rid
)
SELECT c_custkey, rid, score FROM scored WHERE score >= 4
"""


def doc_graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (operators/kcore.py) over a chain+chord graph built
    from doc_ids: consecutive ids chain, every 25th id chords back to 0 —
    so the final 24-id tail (no closing chord) peels one node per round,
    a 24-deep cascade at EVERY scale factor by construction, while the
    chorded prefix survives as the 2-core.  Each peel round is two keyed
    aggregates + two semi-joins (no neighbor lists on a reducer); the
    oracle unrolls 30 peel rounds as chained CTEs (>= the data-bounded
    depth, idempotent past the fixed point)."""
    from schemasaurus_spark.operators.kcore import k_core

    ids = _docs(spark, sf_dir).select("doc_id")
    chain = (
        ids.alias("x")
        .join(ids.alias("y"), F.col("y.doc_id") == F.col("x.doc_id") + 1)
        .select(F.col("x.doc_id").alias("src"), F.col("y.doc_id").alias("dst"))
    )
    chords = ids.where((F.col("doc_id") % 25 == 0) & (F.col("doc_id") > 0)).select(
        F.col("doc_id").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    return k_core(chain.unionByName(chords), k=2)


def _k_core_oracle_sql(rounds: int = 30, k: int = 2) -> str:
    parts = [
        """
WITH ids AS (SELECT doc_id FROM documents),
base AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM ids x JOIN ids y ON y.doc_id = x.doc_id + 1
  UNION ALL
  SELECT doc_id, CAST(0 AS BIGINT) FROM ids WHERE doc_id % 25 = 0 AND doc_id > 0
),
r0 AS MATERIALIZED (
  SELECT DISTINCT greatest(a, b) AS u, least(a, b) AS v FROM base WHERE a <> b
)"""
    ]
    for i in range(rounds):
        parts.append(
            f""",
d{i} AS MATERIALIZED (SELECT n, count(*) AS c
         FROM (SELECT u AS n FROM r{i} UNION ALL SELECT v FROM r{i})
         GROUP BY n),
r{i + 1} AS MATERIALIZED (SELECT e.u, e.v FROM r{i} e
             JOIN d{i} da ON e.u = da.n JOIN d{i} db ON e.v = db.n
             WHERE da.c >= {k} AND db.c >= {k})"""
        )
    parts.append(
        f""",
dfin AS (SELECT n, count(*) AS c
         FROM (SELECT u AS n FROM r{rounds} UNION ALL SELECT v FROM r{rounds})
         GROUP BY n)
SELECT n AS id, CAST(c AS BIGINT) AS degree FROM dfin WHERE c >= {k}"""
    )
    return "".join(parts)


def _triangle_oracle_sql() -> str:
    return f"""
WITH edges AS (SELECT * FROM ({_LINK_GRAPH_ORACLE}) e),
canon AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE least(src, dst) <> greatest(src, dst)
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM canon UNION ALL SELECT b FROM canon
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (da.degree, c.a) < (db.degree, c.b) THEN c.a ELSE c.b END AS u,
         CASE WHEN (da.degree, c.a) < (db.degree, c.b) THEN c.b ELSE c.a END AS v,
         CASE WHEN (da.degree, c.a) < (db.degree, c.b) THEN db.degree
              ELSE da.degree END AS deg_v
  FROM canon c
  JOIN deg da ON da.node = c.a
  JOIN deg db ON db.node = c.b
),
wedges AS (
  SELECT e1.u, e1.v AS v1, e2.v AS v2
  FROM oriented e1 JOIN oriented e2
    ON e1.u = e2.u AND (e1.deg_v, e1.v) < (e2.deg_v, e2.v)
),
tris AS (
  SELECT w.u, w.v1, w.v2
  FROM wedges w JOIN oriented o ON o.u = w.v1 AND o.v = w.v2
),
per_node AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT u AS node FROM tris
    UNION ALL SELECT v1 FROM tris
    UNION ALL SELECT v2 FROM tris
  ) GROUP BY node
)
SELECT d.node AS host, d.degree,
       coalesce(p.n_triangles, 0) AS n_triangles,
       CAST(CASE WHEN d.degree < 2 THEN 0
                 ELSE (coalesce(p.n_triangles, 0) * 2 * 10000)
                      // (d.degree * (d.degree - 1)) END AS BIGINT)
         AS clustering_bp
FROM deg d LEFT JOIN per_node p ON d.node = p.node
"""



def event_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session paths (sessionize.session_paths): the event-type
    sequences sessions actually walk, ranked by session count — the
    mined complement of the hypothesized funnel.  Path built in-array
    from a sorted struct collect (order never depends on shuffle
    arrival); top-k is TakeOrdered.  The oracle replays sessions +
    string_agg ORDER BY (ts, event_id) + the deterministic rank."""
    from schemasaurus_spark.operators.sessionize import session_paths

    return session_paths(
        spark.read.parquet(f"{sf_dir}/events.parquet"),
        gap_seconds=28800,
        top_k=15,
    )


_SESSION_PATHS_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
), flagged AS (
  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 28800 * 1000000::BIGINT
                 THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sess AS (
  SELECT *, CAST(sum(is_new) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
), paths AS (
  SELECT user_id, session_seq,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sess GROUP BY user_id, session_seq
), counts AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
  FROM paths GROUP BY path
)
SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS INT)
         AS rank,
       path, n_sessions
FROM counts ORDER BY n_sessions DESC, path LIMIT 15
"""



def event_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO-style percentile monitoring (outliers.percentile_bands):
    exact order-statistic p50/p95/p99 of event value per (event_type,
    day) — values picked from the data by all-integer rank math, so the
    whole table hashes bit-identically in any engine; one
    map-side-combined (group, value) count + per-group cumsums on the
    distinct-value table."""
    from schemasaurus_spark.operators.outliers import percentile_bands

    # exact integer day bucket: unix_micros DIV 86.4e9 (nonneg epochs)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_type",
        "CAST(unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000 AS BIGINT) AS day_id",
        "value",
    )
    return percentile_bands(ev, "value", ["event_type", "day_id"])


_VALUE_BANDS_ORACLE = """
WITH ev AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_id, value
  FROM events
),
per AS (
  SELECT event_type, day_id, value AS v, count(*) AS n_eq
  FROM ev WHERE value IS NOT NULL
  GROUP BY event_type, day_id, value
),
cum AS (
  SELECT event_type, day_id, v,
         sum(n_eq) OVER (PARTITION BY event_type, day_id ORDER BY v
                         ROWS UNBOUNDED PRECEDING) AS c,
         sum(n_eq) OVER (PARTITION BY event_type, day_id) AS n
  FROM per
)
SELECT event_type, day_id,
       min(CASE WHEN c >= least(greatest((n * 5000 + 9999) // 10000, 1), n)
                THEN v END) AS p5000,
       min(CASE WHEN c >= least(greatest((n * 9500 + 9999) // 10000, 1), n)
                THEN v END) AS p9500,
       min(CASE WHEN c >= least(greatest((n * 9900 + 9999) // 10000, 1), n)
                THEN v END) AS p9900,
       CAST(max(n) AS BIGINT) AS n
FROM cum GROUP BY event_type, day_id
"""



def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease profile (text.readability_profile): words /
    sentence-runs / vowel-run syllables all counted by regexp length
    deltas, the float formula written once with fixed parenthesization
    and quantized floor(x*100 + 0.5) — ZERO shuffles, one projection
    scan; the oracle replays the identical expression in DuckDB."""
    from schemasaurus_spark.operators.text import readability_profile

    return readability_profile(_docs(spark, sf_dir))


_READABILITY_ORACLE = r"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
),
feats AS (
  SELECT doc_id,
         CASE WHEN trim(t) = '' THEN 0
              ELSE len(string_split_regex(lower(trim(t)), '\s+')) END AS w,
         CASE WHEN trim(t) = '' THEN 0
              ELSE coalesce(list_sum(list_transform(
                     string_split_regex(lower(trim(t)), '\s+'),
                     x -> greatest(
                       length(regexp_replace(x, '[aeiouy]+', 'V', 'g'))
                       - length(regexp_replace(x, '[aeiouy]+', '', 'g')), 1)
                   )), 0) END AS syl,
         CASE WHEN trim(t) = '' THEN 0
              ELSE greatest(
                length(regexp_replace(t, '[.!?]+', 'V', 'g'))
                - length(regexp_replace(t, '[.!?]+', '', 'g')), 1) END AS s
  FROM base
)
SELECT doc_id,
       CAST(w AS BIGINT) AS n_words,
       CAST(s AS BIGINT) AS n_sentences,
       CAST(syl AS BIGINT) AS n_syllables,
       CASE WHEN w <= 0 THEN NULL
            ELSE CAST(floor((206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                             - 84.6 * (CAST(syl AS DOUBLE) / w)) * 100.0
                            + 0.5) AS BIGINT) END AS flesch_x100
FROM feats
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry ORDER is deliberate (round-5 verdict #4): the driver's
    correctness gate samples a prefix (~50 rows), so entries that had no
    driver-side green row through round 4 come FIRST, cheapest first
    (one-scan rows), followed by the previously-driver-checked set.
    The FULL registry is swept locally every session regardless
    (tools/check_contract.py --summary-json -> CONTRACT_rN.json)."""
    return {
        "northrule_span_sequence": northrule_span_sequence,
        "doc_weighted_sample": doc_weighted_sample,
        "northrule_training_text": northrule_training_text,
        "doc_storage_by_source": doc_storage_by_source,
        "media_image_features": media_image_features,
        "media_png_features": media_png_features,
        "northrule_dangling_media": northrule_dangling_media,
        "doc_skipping_profile": doc_skipping_profile,
        "doc_dataset_checksum": doc_dataset_checksum,
        "media_wav_features": media_wav_features,
        "doc_k_suppression": doc_k_suppression,
        "event_attribution": event_attribution,
        "doc_k_anonymity": doc_k_anonymity,
        "doc_context_profile": doc_context_profile,
        "media_png_thumbnails": media_png_thumbnails,
        "doc_fertility_by_lang": doc_fertility_by_lang,
        "northrule_media_orphans": northrule_media_orphans,
        "doc_markup_removal": doc_markup_removal,
        "doc_link_graph": doc_link_graph,
        "northrule_span_boilerplate": northrule_span_boilerplate,
        "event_interval_overlap": event_interval_overlap,
        "northrule_layout_templates": northrule_layout_templates,
        "event_freshness": event_freshness,
        "event_windowed_counts": event_windowed_counts,
        "event_user_skew": event_user_skew,
        "northrule_span_packing": northrule_span_packing,
        "event_type_chi2_drift": event_type_chi2_drift,
        "event_retention": event_retention,
        "event_range_join": event_range_join,
        "doc_zorder_layout": doc_zorder_layout,
        "event_value_psi_drift": event_value_psi_drift,
        "doc_versioned_validation": doc_versioned_validation,
        "northrule_media_reuse": northrule_media_reuse,
        "doc_anchor_text": doc_anchor_text,
        "media_jpeg_features": media_jpeg_features,
        "event_value_benford": event_value_benford,
        "event_value_ks_drift": event_value_ks_drift,
        "embedding_centroid_drift": embedding_centroid_drift,
        "event_value_cusum": event_value_cusum,
        "event_value_outliers": event_value_outliers,
        "doc_license_profile": doc_license_profile,
        "event_trailing_stats": event_trailing_stats,
        "doc_concentration_profile": doc_concentration_profile,
        "event_value_quartiles": event_value_quartiles,
        "event_volume_anomalies": event_volume_anomalies,
        "event_sessionization": event_sessionization,
        "table_compaction_plan": table_compaction_plan,
        "media_mjpeg_frames": media_mjpeg_frames,
        "doc_url_dedup": doc_url_dedup,
        "event_resample": event_resample,
        "doc_fd_profile": doc_fd_profile,
        "doc_boilerplate_lines": doc_boilerplate_lines,
        "doc_collocations": doc_collocations,
        "event_value_winsorized": event_value_winsorized,
        "northrule_template_quota": northrule_template_quota,
        "event_value_bands": event_value_bands,
        "doc_constraint_suggestions": doc_constraint_suggestions,
        "doc_corr_profile": doc_corr_profile,
        "doc_inferred_schema": doc_inferred_schema,
        "doc_script_profile": doc_script_profile,
        "event_session_paths": event_session_paths,
        "doc_heavy_tokens": doc_heavy_tokens,
        "northrule_span_clean": northrule_span_clean,
        "doc_readability": doc_readability,
        "doc_bm25_search": doc_bm25_search,
        "event_props_schema_drift": event_props_schema_drift,
        "media_audio_near_dups": media_audio_near_dups,
        "doc_boilerplate_clean": doc_boilerplate_clean,
        "host_triangle_stats": host_triangle_stats,
        "event_asof_join": event_asof_join,
        "northrule_repaired_sequence": northrule_repaired_sequence,
        "event_funnel": event_funnel,
        "media_phash_near_dups": media_phash_near_dups,
        "northrule_span_repair_log": northrule_span_repair_log,
        "event_props_schema_profile": event_props_schema_profile,
        "northrule_schema_migration": northrule_schema_migration,
        "embedding_pq_topk": embedding_pq_topk,
        "embedding_ann_recall": embedding_ann_recall,
        "northrule_violation_rollup": northrule_violation_rollup,
        "doc_bpe_merges": doc_bpe_merges,
        "northrule_curated_corpus": northrule_curated_corpus,
        "host_communities": host_communities,
        "northrule_caption_contexts": northrule_caption_contexts,
        "doc_dsir_sample": doc_dsir_sample,
        "embedding_int8_topk": embedding_int8_topk,
        "event_props_schema_conformance": event_props_schema_conformance,
        "doc_dsir_scores": doc_dsir_scores,
        "event_props_normalization": event_props_normalization,
        "event_props_validation": event_props_validation,
        "simhash_near_dups": simhash_near_dups,
        "doc_source_overlap": doc_source_overlap,
        "doc_bloom_novelty": doc_bloom_novelty,
        "embedding_ivf_topk": embedding_ivf_topk,
        "doc_fused_quality_continuous": doc_fused_quality_continuous,
        "customer_linkage": customer_linkage,
        "northrule_violations": northrule_violations,
        "northrule_verdicts": northrule_verdicts,
        "northrule_span_integrity": northrule_span_integrity,
        "northrule_interleave_profile": northrule_interleave_profile,
        "embedding_ivf_recall": embedding_ivf_recall,
        "embedding_ivfpq_topk": embedding_ivfpq_topk,
        "doc_fused_quality": doc_fused_quality,
        "host_authority_rank": host_authority_rank,
        "doc_graph_k_core": doc_graph_k_core,
        "embedding_semantic_dups": embedding_semantic_dups,
        "doc_nb_calibration": doc_nb_calibration,
        "doc_editdist_dups": doc_editdist_dups,
        "doc_split_leakage": doc_split_leakage,
        "doc_oov_profile": doc_oov_profile,
        "doc_component_splits": doc_component_splits,
        "doc_mixed_corpus": doc_mixed_corpus,
        "doc_dup_components": doc_dup_components,
        "doc_training_corpus": doc_training_corpus,
        "doc_incremental_components": doc_incremental_components,
        "northrule_span_lang": northrule_span_lang,
        "doc_ngram_jaccard_dups": doc_ngram_jaccard_dups,
        "doc_validation_violations": doc_validation_violations,
        "doc_schema_migration": doc_schema_migration,
        "doc_migration_breaking": doc_migration_breaking,
        "doc_column_stats": doc_column_stats,
        "doc_lang_counts": doc_lang_counts,
        "event_type_counts": event_type_counts,
        "doc_length_histogram": doc_length_histogram,
        "doc_uniqueness": doc_uniqueness,
        "lineitem_dup_orderkeys": lineitem_dup_orderkeys,
        "lineitem_dup_rows": lineitem_dup_rows,
        "orders_dangling_custkey": orders_dangling_custkey,
        "doc_exact_dup_groups": doc_exact_dup_groups,
        "doc_substring_dup_spans": doc_substring_dup_spans,
        "doc_passage_removal": doc_passage_removal,
        "doc_pii_redaction": doc_pii_redaction,
        "doc_pseudonymized": doc_pseudonymized,
        "doc_packing": doc_packing,
        "doc_decontamination": doc_decontamination,
        "doc_repetition_profile": doc_repetition_profile,
        "doc_normalize": doc_normalize,
        "doc_text_profile": doc_text_profile,
        "doc_quality": doc_quality,
        "doc_lang_id": doc_lang_id,
        "doc_nb_classify": doc_nb_classify,
        "doc_nb_pr_curve": doc_nb_pr_curve,
        "doc_nb_auc": doc_nb_auc,
        "doc_nb_confusion": doc_nb_confusion,
        "doc_nb_agreement": doc_nb_agreement,
        "doc_stratified_sample": doc_stratified_sample,
        "doc_split_assignment": doc_split_assignment,
        "doc_quota_cap": doc_quota_cap,
        "doc_latest_revision": doc_latest_revision,
        "doc_scd2_history": doc_scd2_history,
        "doc_quality_cube": doc_quality_cube,
        "doc_corpus_diff": doc_corpus_diff,
        "doc_source_mix": doc_source_mix,
        "doc_token_topk": doc_token_topk,
        "doc_distinctive_terms": doc_distinctive_terms,
        "doc_novelty_profile": doc_novelty_profile,
        "doc_quality_gate": doc_quality_gate,
        "doc_embedding_coverage": doc_embedding_coverage,
        "doc_chunking": doc_chunking,
        "doc_lm_score": doc_lm_score,
        "embedding_topk": embedding_topk,
        "embedding_ann_lsh": embedding_ann_lsh,
        "embedding_near_dups": embedding_near_dups,
        "embedding_dup_components": embedding_dup_components,
        "embedding_decontamination": embedding_decontamination,
        "minhash_near_dups": minhash_near_dups,
        "doc_incremental_dedup": doc_incremental_dedup,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "doc_validation_violations": _VALIDATION_ORACLE,
        "doc_schema_migration": _MIGRATION_MATRIX_ORACLE,
        "doc_migration_breaking": _MIGRATION_BREAKING_ORACLE,
        "doc_column_stats": _STATS_ORACLE,
        "doc_lang_counts": "SELECT lang AS category, count(*) AS cnt FROM documents GROUP BY lang",
        "event_type_counts": "SELECT event_type AS category, count(*) AS cnt FROM events GROUP BY event_type",
        "doc_length_histogram": _HISTOGRAM_ORACLE,
        "doc_uniqueness": _UNIQUENESS_ORACLE,
        "lineitem_dup_orderkeys": _DUPKEYS_ORACLE,
        "lineitem_dup_rows": _DUPROWS_ORACLE,
        "orders_dangling_custkey": _DANGLING_ORACLE,
        "doc_exact_dup_groups": _DUPGROUPS_ORACLE,
        "doc_substring_dup_spans": _SUBSTRING_DUP_ORACLE,
        "doc_passage_removal": _PASSAGE_REMOVAL_ORACLE,
        "doc_pii_redaction": _PII_ORACLE,
        "doc_pseudonymized": _PSEUDONYMIZE_ORACLE,
        "doc_packing": _PACKING_ORACLE,
        "doc_decontamination": _DECONTAM_ORACLE,
        "doc_repetition_profile": _REPETITION_ORACLE,
        "doc_normalize": _NORMALIZE_ORACLE,
        "doc_text_profile": _TEXT_PROFILE_ORACLE,
        "doc_quality": _QUALITY_ORACLE,
        "doc_lang_id": _LANG_ID_ORACLE,
        "doc_nb_classify": _nb_classify_oracle_sql(),
        "doc_nb_pr_curve": _nb_pr_oracle_sql(),
        "doc_nb_auc": _nb_auc_oracle_sql(),
        "doc_nb_confusion": _nb_confusion_oracle_sql(),
        "doc_nb_agreement": _nb_agreement_oracle_sql(),
        "doc_stratified_sample": _stratified_oracle_sql(),
        "doc_split_assignment": _split_assignment_oracle_sql(),
        "doc_quota_cap": _QUOTA_CAP_ORACLE,
        "doc_latest_revision": _LATEST_REVISION_ORACLE,
        "doc_scd2_history": _SCD2_HISTORY_ORACLE,
        "doc_quality_cube": _QUALITY_CUBE_ORACLE,
        "doc_corpus_diff": _CORPUS_DIFF_ORACLE,
        "doc_source_mix": _source_mix_oracle_sql(),
        "doc_token_topk": _VOCAB_ORACLE,
        "doc_distinctive_terms": _DISTINCTIVE_ORACLE,
        "doc_novelty_profile": _NOVELTY_ORACLE,
        "doc_quality_gate": _GATE_ORACLE,
        "doc_embedding_coverage": _COVERAGE_ORACLE,
        "doc_chunking": _CHUNK_ORACLE,
        "doc_lm_score": _LM_ORACLE,
        "embedding_topk": _TOPK_ORACLE,
        "event_value_quartiles": _QUARTILES_ORACLE,
        "event_props_validation": _EVENT_PROPS_ORACLE,
        "event_props_normalization": _EVENT_PROPS_NORM_ORACLE,
        "event_props_schema_profile": _PROPS_PROFILE_ORACLE,
        "event_props_schema_conformance": _PROPS_CONFORMANCE_ORACLE,
        "embedding_ann_lsh": _ann_oracle_sql(),
        "embedding_near_dups": _embedding_neardup_oracle_sql(),
        "embedding_dup_components": _embedding_components_oracle_sql(),
        "embedding_decontamination": _EMB_DECONTAM_ORACLE,
        "minhash_near_dups": _minhash_oracle_sql(),
        "doc_incremental_dedup": _incremental_dedup_oracle_sql(),
        "doc_bloom_novelty": _BLOOM_NOVELTY_ORACLE,
        "doc_bm25_search": _bm25_oracle_sql(),
        "doc_ngram_jaccard_dups": _NGRAM_JACCARD_ORACLE,
        "doc_dup_components": _components_oracle_sql(),
        "doc_incremental_components": _incremental_components_oracle_sql(),
        "doc_training_corpus": _training_corpus_oracle_sql(),
        "doc_mixed_corpus": _mixed_corpus_oracle_sql(),
        "simhash_near_dups": _simhash_oracle_sql(),
        "embedding_ivf_topk": _ivf_oracle_sql(),
        "embedding_pq_topk": _PQ_ORACLE,
        "embedding_ivfpq_topk": _ivfpq_oracle_sql(),
        "event_windowed_counts": _WINDOWED_COUNTS_ORACLE,
        "event_sessionization": _SESSIONIZATION_ORACLE,
        "event_asof_join": _ASOF_ORACLE,
        "event_range_join": _RANGE_JOIN_ORACLE,
        "event_interval_overlap": _INTERVAL_OVERLAP_ORACLE,
        "media_image_features": _MEDIA_FEATURES_ORACLE,
        "media_png_features": _MEDIA_PNG_ORACLE,
        "media_wav_features": _MEDIA_WAV_ORACLE,
        "media_jpeg_features": _MEDIA_JPEG_ORACLE,
        "media_mjpeg_frames": _MEDIA_MJPEG_ORACLE,
        "media_phash_near_dups": _MEDIA_PHASH_ORACLE,
        "northrule_violations": _NR_VIOLATIONS_ORACLE,
        "northrule_schema_migration": _nr_migration_oracle_sql(),
        "northrule_verdicts": _NR_VERDICTS_ORACLE,
        "northrule_span_sequence": _NR_SPAN_SEQUENCE_ORACLE,
        "northrule_dangling_media": _NR_DANGLING_MEDIA_ORACLE,
        "northrule_span_integrity": _SI_ORACLE,
        "northrule_interleave_profile": _interleave_oracle_sql(),
        "northrule_caption_contexts": _caption_oracle_sql(),
        "event_type_chi2_drift": _CHI2_ORACLE,
        "event_value_psi_drift": _PSI_ORACLE,
        "event_value_ks_drift": _KS_ORACLE,
        "doc_constraint_suggestions": _SUGGEST_ORACLE,
        "doc_editdist_dups": _EDITDIST_ORACLE,
        "event_props_schema_drift": _SCHEMA_DRIFT_ORACLE,
        "doc_fd_profile": _fd_oracle_sql(),
        "doc_zorder_layout": _zorder_oracle_sql(),
        "doc_skipping_profile": _SKIPPING_PROFILE_ORACLE,
        "doc_heavy_tokens": _HEAVY_ORACLE,
        "doc_weighted_sample": _WEIGHTED_SAMPLE_ORACLE,
        "doc_dataset_checksum": _CHECKSUM_ORACLE,
        "doc_corr_profile": _corr_oracle_sql(),
        "event_value_outliers": _OUTLIERS_ORACLE,
        "doc_split_leakage": _split_leakage_oracle_sql(),
        "doc_versioned_validation": _REGISTRY_ORACLE,
        "doc_k_anonymity": _KANON_ORACLE,
        "doc_k_suppression": _KSUPPRESS_ORACLE,
        "doc_component_splits": _component_splits_oracle_sql(),
        "embedding_int8_topk": _INT8_TOPK_ORACLE,
        "doc_markup_removal": _MARKUP_ORACLE,
        "event_user_skew": _SKEW_ORACLE,
        "doc_concentration_profile": _concentration_oracle_sql(),
        "event_value_benford": _BENFORD_ORACLE,
        "event_freshness": _FRESHNESS_ORACLE,
        "event_volume_anomalies": _VOLUME_ORACLE,
        "media_audio_near_dups": _AUDIO_NEAR_DUPS_ORACLE,
        "doc_url_dedup": _URL_DEDUP_ORACLE,
        "embedding_centroid_drift": _EMB_CENTROID_ORACLE,
        "host_authority_rank": _pagerank_oracle_sql(10),
        "doc_link_graph": _LINK_GRAPH_ORACLE,
        "doc_anchor_text": _ANCHOR_TEXT_ORACLE,
        "event_trailing_stats": _TRAILING_ORACLE,
        "event_resample": _RESAMPLE_ORACLE,
        "doc_bpe_merges": _bpe_oracle_sql(8),
        "table_compaction_plan": _COMPACTION_ORACLE,
        "doc_source_overlap": _SOURCE_OVERLAP_ORACLE,
        "event_funnel": _FUNNEL_ORACLE,
        "event_attribution": _ATTRIBUTION_ORACLE,
        "event_retention": _RETENTION_ORACLE,
        "doc_collocations": _COLLOC_ORACLE,
        "doc_dsir_scores": _dsir_scores_oracle_sql(),
        "doc_dsir_sample": _dsir_sample_oracle_sql(),
        "northrule_span_packing": _span_packing_oracle_sql(),
        "doc_boilerplate_lines": _BOILERPLATE_LINES_ORACLE,
        "doc_boilerplate_clean": _BOILERPLATE_CLEAN_ORACLE,
        "embedding_semantic_dups": _semdedup_oracle_sql(),
        "doc_context_profile": _CONTEXT_PROFILE_ORACLE,
        "host_communities": _lpa_oracle_sql(),
        "doc_nb_calibration": _nb_calibration_oracle_sql(),
        "northrule_span_repair_log": _repair_log_oracle_sql(),
        "northrule_repaired_sequence": _repaired_sequence_oracle_sql(),
        "media_png_thumbnails": _MEDIA_PNG_THUMB_ORACLE,
        "doc_fused_quality": _FUSED_QUALITY_ORACLE,
        "doc_fused_quality_continuous": _FUSED_CONTINUOUS_ORACLE,
        "event_value_winsorized": _WINSORIZE_ORACLE,
        "northrule_span_lang": _span_lang_oracle_sql(),
        "northrule_training_text": _TRAINING_TEXT_ORACLE,
        "doc_script_profile": _script_profile_oracle_sql(),
        "doc_license_profile": _license_profile_oracle_sql(),
        "northrule_media_reuse": _MEDIA_REUSE_ORACLE,
        "event_value_cusum": _cusum_oracle_sql(),
        "northrule_span_boilerplate": _SPAN_BP_PROFILE_ORACLE,
        "northrule_span_clean": _SPAN_CLEAN_ORACLE,
        "northrule_layout_templates": _LAYOUT_ORACLE,
        "northrule_curated_corpus": _curated_corpus_oracle_sql(),
        "northrule_media_orphans": _MEDIA_ORPHANS_ORACLE,
        "northrule_template_quota": _TEMPLATE_QUOTA_ORACLE,
        "doc_fertility_by_lang": _FERTILITY_ORACLE,
        "doc_storage_by_source": _STORAGE_ORACLE,
        "northrule_violation_rollup": _violation_rollup_oracle_sql(),
        "embedding_ann_recall": _ann_recall_oracle_sql(),
        "embedding_ivf_recall": _ivf_recall_oracle_sql(),
        "doc_oov_profile": _oov_oracle_sql(),
        "host_triangle_stats": _triangle_oracle_sql(),
        "doc_graph_k_core": _k_core_oracle_sql(),
        "customer_linkage": _LINKAGE_ORACLE,
        "doc_inferred_schema": _INFERRED_SCHEMA_ORACLE,
        "event_session_paths": _SESSION_PATHS_ORACLE,
        "event_value_bands": _VALUE_BANDS_ORACLE,
        "doc_readability": _READABILITY_ORACLE,
    }
