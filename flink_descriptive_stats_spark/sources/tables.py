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

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_descriptive_stats_spark.functions.memo import (
    SCHEMAS, files_identity, local_path)
from flink_descriptive_stats_spark.functions.scalar import ident


def _parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The parquet schema at ``path``, memoized per (session, files under
    the path): passing it to ``spark.read.schema(...)`` skips Spark's
    footer-inference job. The file listing stays fresh per call, and a
    rewritten file is a new key.

    The schema is read on the driver, with Spark's own code: the footer
    of the file Spark's inference picks (``_footer_file``), converted by
    ``ParquetFileFormat.readSchemaFromFooter`` under the session's conf,
    so it runs no Spark job. With no such file, an input behind a
    non-``file:`` URI, or ``spark.sql.parquet.mergeSchema`` on, Spark's
    inference (``spark.read.parquet(path).schema``) reads it instead."""
    ident = files_identity([path])

    def read() -> T.StructType:
        footer = _footer_file(path, ident)
        if footer is None or spark.conf.get(
                "spark.sql.parquet.mergeSchema", "false").lower() == "true":
            return spark.read.parquet(path).schema
        jvm, state = spark._jvm, spark._jsparkSession.sessionState()
        jpath = jvm.org.apache.hadoop.fs.Path("file:" + footer)
        meta = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            state.newHadoopConf(), jpath, jvm.org.apache.parquet.format
            .converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
        parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
        schema = parquet.ParquetFileFormat.readSchemaFromFooter(
            jvm.org.apache.parquet.hadoop.Footer(jpath, meta),
            parquet.ParquetToSparkSchemaConverter(state.conf()))
        return T._parse_datatype_json_string(schema.json())

    return SCHEMAS.get(spark, None if ident is None else (path, ident), read)


def _footer_file(path: str, ident: tuple | None) -> str | None:
    """The absolute path of the file whose footer Spark's schema inference
    reads at ``path`` (``files_identity`` lists its files): the file
    itself, else ``_common_metadata``, then ``_metadata``, then the first
    data file by sorted path. As in Spark's file listing, a name below
    ``path`` that starts with ``_`` (but is not a partition directory
    ``_k=v``) or ``.`` is hidden."""
    if not ident:
        return None
    local = local_path(path)
    if os.path.isfile(local):
        return os.path.abspath(local)
    data, summaries = [], {}
    for f, _, _ in ident:
        *dirs, name = os.path.relpath(f, local).split(os.sep)
        if any(_hidden(d) for d in dirs):
            continue
        if name in ("_common_metadata", "_metadata"):
            summaries.setdefault(name, f)
        elif not _hidden(name):
            data.append(f)
    for f in (summaries.get("_common_metadata"), summaries.get("_metadata"),
              *data[:1]):
        if f is not None:
            return os.path.abspath(f)
    return None


def _hidden(name: str) -> bool:
    return ((name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_"))


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
        else _parquet_schema(spark, src_dir)
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
