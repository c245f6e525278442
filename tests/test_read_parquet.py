"""The memoized parquet reader (``catalog.read_parquet``) and the footer
fast paths that share its file listing (``catalog.input_files``)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

import __spark_entry__ as entry
from tap_postgres_spark.catalog import (
    MAX_FLAT_FILES,
    discover_parquet_dir,
    input_files,
    read_parquet,
)
from tests.test_lake_metadata import _spark_jobs

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("query", ["q_token_count", "q_q1_pricing"])
def test_second_query_build_runs_no_job(spark, query):
    fn = getattr(entry, query)
    first = fn(spark, SF_DIR)
    built = []
    assert _spark_jobs(spark, lambda: built.append(fn(spark, SF_DIR))) == 0
    assert _rows(built[0]) == _rows(first)


@pytest.mark.parametrize("table", TABLES)
def test_cached_schema_is_sparks_inference(spark, table):
    path = f"{SF_DIR}/{table}.parquet"
    read_parquet(spark, path)
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


def test_sync_after_discovery_reads_without_inference(spark):
    discover_parquet_dir(spark, SF_DIR, filter_tables=["nation"])
    assert _spark_jobs(
        spark, lambda: read_parquet(spark, f"{SF_DIR}/nation.parquet")) == 0


def test_rewrite_with_added_column_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert _rows(df) == [(1, "x"), (2, "y")]


def test_inference_conf_toggle_reinfers(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        assert read_parquet(spark, path).schema["b"].dataType == T.BinaryType()
        spark.conf.set(key, "true")
        assert read_parquet(spark, path).schema["b"].dataType == T.StringType()
        assert _rows(read_parquet(spark, path)) == [("x",)]
    finally:
        spark.conf.set(key, prev)
    assert read_parquet(spark, path).schema["b"].dataType == T.BinaryType()


def test_partitioned_dir_takes_plain_inference(spark, tmp_path):
    root = str(tmp_path / "part")
    spark.createDataFrame([(1, "a"), (5, "b")], "v long, k string").write.partitionBy(
        "k").parquet(root)
    assert input_files(root) is None
    read_parquet(spark, root)
    df = []
    assert _spark_jobs(spark, lambda: df.append(read_parquet(spark, root))) >= 1
    assert df[0].schema == spark.read.parquet(root).schema
    assert _rows(df[0]) == [(1, "a"), (5, "b")]
    # the footer fast paths see only part of a partitioned dataset: they
    # decline, and the caller takes its Spark path
    assert entry._parquet_footer_max(root, "v") is None
    assert entry._parquet_num_rows(root) is None


def test_footer_fast_paths_bound_their_listing(tmp_path):
    flat = tmp_path / "flat"
    flat.mkdir()
    for i in range(3):
        pq.write_table(pa.table({"v": [i, 10 * i]}), str(flat / f"f{i}.parquet"))
    (flat / "_SUCCESS").write_text("")
    assert len(input_files(str(flat))) == 3
    assert entry._parquet_footer_max(str(flat), "v") == 20
    assert entry._parquet_num_rows(str(flat)) == 6
    for i in range(3, MAX_FLAT_FILES + 1):
        pq.write_table(pa.table({"v": [i]}), str(flat / f"f{i}.parquet"))
    assert input_files(str(flat)) is None
    assert entry._parquet_footer_max(str(flat), "v") is None
    assert entry._parquet_num_rows(str(flat)) is None
    assert input_files(str(tmp_path / "missing")) is None
