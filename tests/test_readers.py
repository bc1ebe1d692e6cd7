"""``sources/readers.read_table``: the per-listing schema memo."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import BinaryType, StringType, TimestampType

from pyveb_spark.sources.readers import TESTDATA_TABLES, read_table


def _jobs(spark) -> int:
    """Jobs submitted so far (job ids are 0 .. n-1)."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


@pytest.mark.parametrize("name", TESTDATA_TABLES)
def test_second_read_launches_no_job(spark, sf_dir, name):
    first = read_table(spark, sf_dir, name)
    inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    j0 = _jobs(spark)
    again = read_table(spark, sf_dir, name)
    assert _jobs(spark) - j0 == 0
    assert again.schema == first.schema == inferred
    if name == "events":
        assert isinstance(again.schema["ts"].dataType, TimestampType)


def test_rewritten_table_reads_its_new_schema(spark, tmp_path):
    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    assert read_table(spark, d, "t").columns == ["a"]
    assert read_table(spark, d, "t").columns == ["a"]
    shutil.rmtree(path)
    spark.range(4).selectExpr("id AS b", "'x' AS c").write.parquet(path)
    again = read_table(spark, d, "t")
    assert again.columns == ["b", "c"]
    assert sorted(r.b for r in again.collect()) == [0, 1, 2, 3]


def test_appended_file_shows_on_next_read(spark, tmp_path):
    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    assert read_table(spark, d, "t").count() == 3
    spark.range(10, 12).selectExpr("id AS a").write.mode("append").parquet(path)
    assert sorted(r.a for r in read_table(spark, d, "t").collect()) == [
        0, 1, 2, 10, 11,
    ]


def test_changed_schema_conf_reinfers(spark, tmp_path):
    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    # un-annotated Parquet BINARY from a non-Spark writer (no stored Spark
    # schema): its Spark type follows binaryAsString
    pq.write_table(pa.table({"s": pa.array([b"x", b"y"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_table(spark, d, "t").schema["s"].dataType == BinaryType()
        spark.conf.set(key, "true")
        j0 = _jobs(spark)
        got = read_table(spark, d, "t")
        assert _jobs(spark) - j0 == 1
        assert got.schema["s"].dataType == StringType()
    finally:
        spark.conf.set(key, old)
