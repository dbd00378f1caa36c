"""Table IO abstraction (SURVEY.md §2D row 1): Iceberg scan/sink when the
iceberg-spark runtime is on the classpath, transparent Parquet fallback
when it is not (this sandbox ships no iceberg jar — detected, not assumed).

The engine addresses tables by a ``TableRef``:

* ``TableRef(table="catalog.db.documents")``   — Iceberg identifier
* ``TableRef(path="/data/documents.parquet")`` — direct files

Production layout guidance (10^12 docs): the documents table is
partitioned by ``bucket(N, doc_id)`` so doc_id-keyed work (uniqueness,
point lookups, merge-on-read upserts) prunes to one bucket, while full
scans stream all buckets in parallel; snapshots give the drift baseline a
stable input.  The bucket transform is Iceberg-side; the parquet fallback
reproduces it with a materialized ``doc_bucket`` column.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime classes are loadable in this JVM."""
    try:
        jvm = spark._jvm  # noqa: SLF001 — capability probe needs the gateway
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


@dataclass
class TableRef:
    table: str | None = None  # Iceberg identifier (catalog.db.name)
    path: str | None = None  # parquet directory fallback

    def __post_init__(self):
        if not (self.table or self.path):
            raise ValueError("TableRef needs a table identifier or a path")


def read_table(spark: SparkSession, ref: TableRef) -> DataFrame:
    if ref.table and iceberg_available(spark):
        return spark.read.format("iceberg").load(ref.table)
    if ref.path:
        return spark.read.parquet(ref.path)
    raise RuntimeError(
        f"Iceberg runtime not available and no parquet fallback path for {ref.table}"
    )


def write_table(
    df: DataFrame,
    ref: TableRef,
    mode: str = "append",
    bucket_by: str | None = None,
    n_buckets: int = 64,
) -> None:
    """Write through to Iceberg (``writeTo`` so the table's declared
    partition transform applies) or to the parquet fallback layout.

    ``bucket_by``: on the parquet path, materialize the Iceberg-style
    bucket column (pmod over a murmur-ish hash) and partition the files by
    it, so bucket-pruned reads work the same way offline.
    """
    spark = df.sparkSession
    if ref.table and iceberg_available(spark):
        writer = df.writeTo(ref.table)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    if not ref.path:
        raise RuntimeError(f"no parquet fallback path for {ref.table}")
    if bucket_by:
        out = df.withColumn(
            "doc_bucket", F.pmod(F.xxhash64(F.col(bucket_by)), F.lit(n_buckets))
        )
        out.write.mode(mode).partitionBy("doc_bucket").parquet(ref.path)
    else:
        df.write.mode(mode).parquet(ref.path)


def read_bucket(spark: SparkSession, ref: TableRef, bucket_by: str,
                key_value: str, n_buckets: int = 64) -> DataFrame:
    """Bucket-pruned read for a point lookup: computes the key's bucket and
    scans only that partition directory (Iceberg does this natively from
    the table's partition transform)."""
    df = read_table(spark, ref)
    if ref.table and iceberg_available(spark):
        return df.where(F.col(bucket_by) == key_value)
    bucket = (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(key_value)), F.lit(n_buckets)))
        .collect()[0][0]
    )
    return df.where(
        (F.col("doc_bucket") == bucket) & (F.col(bucket_by) == key_value)
    )


def write_text_file(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file (run report, verdict summary) through the
    Hadoop FS API so it lands next to the data on ANY scheme the session
    can write (s3a://, hdfs://, file://) — a plain ``open()`` only works
    for local paths."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def write_batch(df: DataFrame, batch_id: int, path: str) -> None:
    """Write one micro-batch's rows as the ``batch_id=<n>`` partition of the
    parquet dataset at *path*.

    ``foreachBatch`` delivers at least once: a crash between a sink's write
    and the checkpoint commit replays the batch.  Dynamic partition
    overwrite replaces only this batch's partition, so a replay rewrites
    its rows instead of duplicating them."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A small driver-side table (a snapshot's grid rows) as a JVM-local frame.

    The rows cross to the JVM as one Arrow batch and plan as a
    ``LocalRelation``, so acting on the frame runs no Python worker;
    ``createDataFrame(list)`` parallelizes pickled rows and starts one
    (one-row parquet write, local[4] on a 4-vCPU VM: ~0.9 s that way,
    ~0.16 s this way).  An empty ``rows`` plans the same way, which an
    empty pandas frame does not."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    names = schema.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table)
