"""A repeat profile request over an unchanged input runs no Spark job, and
a parquet schema is read on the driver: ``load_table`` and
``stream_table`` run no schema-inference job for a new path, and the
frames they return have the schema Spark's inference gives."""

import contextlib
import datetime as dt
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_descriptive_stats_spark import report
from flink_descriptive_stats_spark.functions import memo
from flink_descriptive_stats_spark.operators import profile as P
from flink_descriptive_stats_spark.operators import topk as K
from flink_descriptive_stats_spark.sources.tables import (
    load_table, normalize_table, stream_table)

TABLES = sorted((sf, os.path.basename(p)[:-len(".parquet")])
                for sf in ("sf0.001", "sf0.01")
                for p in glob.glob(f"/root/testdata/{sf}/*.parquet"))


@contextlib.contextmanager
def _jobs(spark, group: str):
    """Collects the ids of the Spark jobs run inside the block into the
    yielded list."""
    sc = spark.sparkContext
    ids: list = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)   # leave no group
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _request(spark, sf_dir: str, table: str) -> dict:
    """One whole profile request, every result collected."""
    df = load_table(spark, sf_dir, table)
    prof = P.profile(df)
    return {"profile": prof.collect(),
            "jb_report": report.jb_report(prof).collect(),
            "topk": K.topk_tokens(df).collect(),
            "complete_row_count": P.complete_row_count(df).collect()}


def test_repeat_request_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({
        "x": [1.5, 2.0, 9.0, None, 4.0],
        "s": ["a", "12", "", None, "a"],
        "n": pa.array([3, 1, 4, 1, 5], pa.int64())}),
        str(tmp_path / "t.parquet"))
    with _jobs(spark, "request-fresh") as fresh:
        first = _request(spark, str(tmp_path), "t")
    with _jobs(spark, "request-repeat") as repeat:
        second = _request(spark, str(tmp_path), "t")
    assert fresh, "the fresh request runs its aggregate and top-K jobs"
    assert repeat == []
    assert second == first
    assert [tuple(r) for r in second["complete_row_count"]] == [(5, 3)]
    assert ("value", "s", "a", 2, 1) in map(tuple, second["topk"])


@pytest.mark.parametrize("sf,table", TABLES)
def test_load_table_schema_without_job(spark, sf, table):
    """Every testdata table: a new path loads without a Spark job, into
    the schema of Spark's inference."""
    sf_dir = f"/root/testdata/{sf}"
    memo.SCHEMAS.clear()
    with _jobs(spark, f"load-{sf}-{table}") as ids:
        df = load_table(spark, sf_dir, table)
    assert ids == []
    inferred = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    assert df.schema == normalize_table(inferred, table).schema


def test_spark_written_directory_schema_without_job(spark, tmp_path):
    """A multi-file directory written by Spark (with _SUCCESS and .crc
    files; non-nullable, nested, decimal and date columns): the footer
    schema differs from the inferred one only in nullability, so the
    loaded frames' schemas and rows are equal."""
    path = str(tmp_path / "sw.parquet")
    (spark.range(40).selectExpr(
        "id", "CAST(id AS STRING) AS s",
        "named_struct('a', id, 'b', array(id, id + 1)) AS st",
        "map('k', id) AS m", "CAST(id / 7 AS DECIMAL(12, 3)) AS d",
        "date_add(DATE'2024-01-01', CAST(id AS INT)) AS day")
        .repartition(3).write.parquet(path))
    assert {".", "_"} <= {n[0] for n in os.listdir(path)}
    with _jobs(spark, "load-spark-written") as ids:
        df = load_table(spark, str(tmp_path), "sw")
    assert ids == []
    inferred = spark.read.parquet(path)
    assert df.schema == inferred.schema
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, inferred.collect()))


def test_nanos_timestamp_schema_without_job(spark, tmp_path):
    """A TIMESTAMP(NANOS) column is read as a long under the session's
    nanosAsLong conf, as Spark's inference reads it."""
    t0 = dt.datetime(2024, 1, 1)
    ts = pa.array([t0 + dt.timedelta(seconds=i) for i in range(4)],
                  pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "v": [1, 2, 3, 4]}),
                   str(tmp_path / "ns.parquet"), version="2.6")
    with _jobs(spark, "load-nanos") as ids:
        df = load_table(spark, str(tmp_path), "ns")
    assert ids == []
    inferred = spark.read.parquet(str(tmp_path / "ns.parquet"))
    assert df.schema == inferred.schema
    assert df.schema["ts"].dataType.typeName() == "long"


def test_stream_table_schema_without_job(spark, tmp_path):
    """stream_table over a directory of files reads the schema on the
    driver and streams every file's rows."""
    src = tmp_path / "landing"
    src.mkdir()
    for i in range(3):
        pq.write_table(pa.table({"k": [i, i + 10], "s": [f"a{i}", None]}),
                       str(src / f"part-{i}.parquet"))
    with _jobs(spark, "stream-table-schema") as ids:
        stream = stream_table(spark, str(src), "t")
    assert ids == []
    assert stream.isStreaming
    assert stream.schema == spark.readStream.schema(
        spark.read.parquet(str(src)).schema).parquet(str(src)).schema
    query = (stream.writeStream.format("memory")
             .queryName("stream_table_files").start())
    try:
        query.processAllAvailable()
        got = spark.table("stream_table_files").collect()
    finally:
        query.stop()
    assert sorted(r["k"] for r in got) == [0, 1, 2, 10, 11, 12]
