"""Source layer: parquet table loading with schema normalization.

The reference's only source is an in-memory synthetic collection
(ProfileJob.java:86); our engine reads real columnar sources. One wrinkle the
test tables exercise: parquet TIMESTAMP(NANOS) columns, which Spark has no
native type for. We read them via ``spark.sql.legacy.parquet.nanosAsLong``
and convert to TimestampType with *integer* division (nanos exceed double's
53-bit mantissa, so FP division would corrupt timestamps) — truncation to
micros matches DuckDB's ns->ms truncation for the epoch-millis stats space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_descriptive_stats_spark.functions.memo import (SCHEMAS,
                                                          files_identity)
from flink_descriptive_stats_spark.functions.scalar import ident


def _parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The parquet footer schema at ``path``, memoized per (session, files
    under the path). ``spark.read.parquet`` without a schema launches a
    footer-inference Spark job on EVERY call; passing the memoized schema
    to ``spark.read.schema(...)`` skips it. Only the schema (metadata, what
    a catalog provides at scale) is reused; the file listing stays fresh
    per call, and a rewritten file is a new key."""
    ident = files_identity([path])
    return SCHEMAS.get(spark, None if ident is None else (path, ident),
                       lambda: spark.read.parquet(path).schema)


def normalize_table(df: DataFrame, table: str) -> DataFrame:
    """Normalize physical-encoding drift to the logical table schema.

    The testdata fixtures have re-encoded timestamp columns across rounds
    (TIMESTAMP(NANOS) read as long under the legacy conf, TIMESTAMP_NTZ,
    plain TIMESTAMP(MICROS)); this is the single place that maps whatever
    the parquet footer says onto the logical TimestampType the operators
    expect. Works on both batch and streaming DataFrames; only the columns
    that need converting are replaced (one ``withColumns``, column order
    kept), and a frame that needs none is returned as it is.
    """
    from flink_descriptive_stats_spark.oracle import TABLE_SCHEMAS
    expected = dict(TABLE_SCHEMAS.get(table, []))
    converted = {}
    for f in df.schema.fields:
        if expected.get(f.name) == "timestamp" and isinstance(f.dataType, T.LongType):
            # nanos-as-long: integer division (nanos exceed double's 53-bit
            # mantissa, FP division would corrupt timestamps)
            converted[f.name] = F.timestamp_micros(
                F.expr(f"{ident(f.name)} div 1000"))
        elif isinstance(f.dataType, T.TimestampNTZType):
            # Session TZ is pinned to UTC, so NTZ wall time == the UTC
            # instant; normalizing to TimestampType keeps one code path.
            converted[f.name] = F.col(ident(f.name)).cast("timestamp")
    return df.withColumns(converted) if converted else df


def load_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # defensive: driver-owned sessions don't come through get_spark(); keep
    # wide aggs inside whole-stage codegen (see session.py)
    spark.conf.set("spark.sql.codegen.maxFields", "500")
    path = f"{sf_dir}/{table}.parquet"
    df = spark.read.schema(_parquet_schema(spark, path)).parquet(path)
    return normalize_table(df, table)


def stream_table(spark: SparkSession, src_dir: str, table: str,
                 schema: T.StructType | None = None,
                 **reader_options) -> DataFrame:
    """``readStream`` analogue of :func:`load_table`.

    readStream requires an explicit schema; deriving it from a batch read of
    the same directory (instead of hard-coding one) means a testdata
    re-encoding of the physical timestamp unit changes one code path, not
    every streaming consumer. Normalization is shared with the batch path.

    The batch-derived schema requires at least one file present; for a
    cold-start landing directory (empty until the first file arrives) pass
    ``schema`` explicitly — it goes through the same normalization.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = schema if schema is not None \
        else spark.read.parquet(src_dir).schema
    reader = spark.readStream.schema(raw_schema)
    for k, v in reader_options.items():
        reader = reader.option(k, v)
    return normalize_table(reader.parquet(src_dir), table)


def load_binary_dir(spark: SparkSession, path: str,
                    glob: str | None = None) -> DataFrame:
    """Binary-file ingestion for the multimodal operators: read a
    directory of payload files (images, audio, arbitrary blobs) through
    Spark's built-in ``binaryFile`` source into the (id, payload,
    n_bytes, path) shape the decode/feature operators consume — id is a
    deterministic 63-bit hash of the file path (stable across runs and
    listings; the path column keeps the human mapping).

    This is how multimodal corpora actually arrive (one file per asset,
    not parquet); the source is scan-parallel across files, supports
    ``pathGlobFilter`` pushdown (``glob``), and prunes the ``content``
    column when a query only touches metadata — the same columnar
    discipline as the parquet path."""
    from pyspark.sql import functions as F
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    pid = F.conv(F.substring(F.md5(F.col("path")), 1, 15), 16, 10) \
        .cast("bigint")
    return df.select(pid.alias("id"),
                     F.col("content").alias("payload"),
                     F.col("length").alias("n_bytes"),
                     F.col("path").alias("path"))


def load_text_dir(spark: SparkSession, path: str,
                  glob: str | None = None) -> DataFrame:
    """One-file-per-document corpus ingestion: read a directory of text
    files (``wholetext`` — one row per FILE, not per line) into the
    documents shape every text/dedup operator consumes: (doc_id, text,
    source, n_chars, path), doc_id a deterministic 63-bit path hash and
    source the parent directory name (the usual provenance convention
    for scraped corpora). Scan-parallel across files with
    ``pathGlobFilter`` pushdown."""
    from pyspark.sql import functions as F
    reader = spark.read
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    # wholetext must go through the text() parameter (the reader option
    # spelling is silently ignored by the line-mode path)
    df = reader.text(path, wholetext=True).withColumn(
        "path", F.input_file_name())
    pid = F.conv(F.substring(F.md5(F.col("path")), 1, 15), 16, 10) \
        .cast("bigint")
    src = F.element_at(F.split(F.col("path"), "/"), -2)
    return df.select(pid.alias("doc_id"),
                     F.col("value").alias("text"),
                     src.alias("source"),
                     F.length("value").alias("n_chars"),
                     "path")
