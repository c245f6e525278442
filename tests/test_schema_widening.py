"""Lossless numeric type widening through schema evolution.

Postgres ``ALTER COLUMN ... TYPE int4 → int8`` (or ``real → double
precision``) followed by a catalog re-discover hands the lake a batch
whose column type is WIDER than the table's.  The lake widens the table
schema in place — no data-file rewrite — because Spark 4's parquet
readers promote the narrow on-disk type at scan time (SPARK-40876), the
same contract as Iceberg ``ALTER COLUMN ... TYPE``.  Reference analog:
tap.py:698-731 only ever appends/nullable-widens; the type lattice here
is the Spark-native extension of that additive-only contract.

Key columns are frozen in both directions: bucket placement hashes the
raw key columns and murmur3/xxhash64 hash an int and a long to different
values, so a widened key would strand existing rows in buckets new
batches never probe.
"""

import pytest
from pyspark.sql import types as T

from tap_postgres_spark.lake import LakeTable
from tap_postgres_spark.schema import merge_schemas, widen_for_cdc, widened_type


def _st(**cols):
    return T.StructType([T.StructField(n, t, True) for n, t in cols.items()])


# ---------------------------------------------------------------- unit

def test_widened_type_lattice():
    assert widened_type(T.IntegerType(), T.LongType()) == T.LongType()
    assert widened_type(T.LongType(), T.IntegerType()) == T.LongType()
    assert widened_type(T.ShortType(), T.IntegerType()) == T.IntegerType()
    assert widened_type(T.ByteType(), T.LongType()) == T.LongType()
    assert widened_type(T.FloatType(), T.DoubleType()) == T.DoubleType()
    assert widened_type(T.IntegerType(), T.DoubleType()) == T.DoubleType()
    assert widened_type(T.IntegerType(), T.IntegerType()) == T.IntegerType()
    # lossy or unrelated: no widening
    assert widened_type(T.LongType(), T.DoubleType()) is None  # > 2^53 loses
    assert widened_type(T.IntegerType(), T.FloatType()) is None
    assert widened_type(T.StringType(), T.LongType()) is None
    assert widened_type(T.DateType(), T.TimestampType()) is None


def test_merge_schemas_widens_in_either_direction():
    # incoming wider → table widens
    m = merge_schemas(_st(k=T.StringType(), v=T.IntegerType()),
                      _st(k=T.StringType(), v=T.LongType()))
    assert dict((f.name, f.dataType) for f in m.fields)["v"] == T.LongType()
    # incoming narrower → table keeps its wide type (batch is cast up)
    m = merge_schemas(_st(k=T.StringType(), v=T.LongType()),
                      _st(k=T.StringType(), v=T.IntegerType()))
    assert dict((f.name, f.dataType) for f in m.fields)["v"] == T.LongType()
    # field order is preserved (widening replaces in place, no reorder)
    assert [f.name for f in m.fields] == ["k", "v"]


def test_merge_schemas_still_rejects_non_widening():
    with pytest.raises(TypeError, match="incompatible evolution"):
        merge_schemas(_st(v=T.StringType()), _st(v=T.LongType()))
    with pytest.raises(TypeError, match="incompatible evolution"):
        merge_schemas(_st(v=T.LongType()), _st(v=T.DoubleType()))


def test_merge_schemas_frozen_key_rejects_widening_both_ways():
    for a, b in ((T.IntegerType(), T.LongType()),
                 (T.LongType(), T.IntegerType())):
        with pytest.raises(TypeError, match="key column"):
            merge_schemas(_st(k=a, v=T.StringType()),
                          _st(k=b, v=T.StringType()),
                          frozen=["k"])
    # frozen column with UNCHANGED type is fine
    m = merge_schemas(_st(k=T.IntegerType()), _st(k=T.IntegerType()),
                      frozen=["k"])
    assert m.fields[0].dataType == T.IntegerType()


# ----------------------------------------------------------------- e2e

SCHEMA_INT = widen_for_cdc(_st(
    repo=T.StringType(), path=T.StringType(),
    size=T.IntegerType(), score=T.FloatType(),
))

_NARROW = ("repo string, path string, size int, score float, "
           "_sdc_lsn long, _sdc_deleted_at string")
_WIDE = ("repo string, path string, size long, score double, "
         "_sdc_lsn long, _sdc_deleted_at string")


def _rows(table):
    return {
        (r["repo"], r["path"]): (r["size"], r["score"], r["_sdc_lsn"])
        for r in table.read().collect()
    }


def test_widening_merge_end_to_end(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA_INT,
                         ["repo", "path"], num_buckets=4)
    t.merge_into(
        spark.createDataFrame(
            [("r1", "a", 10, 1.5, 100, None), ("r1", "b", 20, 2.5, 101, None)],
            _NARROW),
        epoch_id="e1")

    # ALTER TYPE int→bigint / real→double: batch arrives wide, with a
    # value only a long can hold
    big = 2**40
    t.merge_into(
        spark.createDataFrame(
            [("r1", "a", big, 3.25, 200, None), ("r2", "c", 30, 4.5, 201, None)],
            _WIDE),
        epoch_id="e2")

    head = {f.name: f.dataType for f in t.schema.fields}
    assert head["size"] == T.LongType() and head["score"] == T.DoubleType()
    # old narrow files + new wide files read under ONE head schema
    assert _rows(t) == {
        ("r1", "a"): (big, 3.25, 200),
        ("r1", "b"): (20, 2.5, 101),          # pre-widening row intact
        ("r2", "c"): (30, 4.5, 201),
    }

    # a LATER narrow batch (straggler producer) casts up, never narrows
    t.merge_into(
        spark.createDataFrame([("r1", "b", 21, 2.0, 300, None)], _NARROW),
        epoch_id="e3")
    assert _rows(t)[("r1", "b")] == (21, 2.0, 300)
    assert {f.name: f.dataType for f in t.schema.fields}["size"] == T.LongType()

    # compaction folds narrow+wide generations together
    t.compact()
    assert _rows(t) == {
        ("r1", "a"): (big, 3.25, 200),
        ("r1", "b"): (21, 2.0, 300),
        ("r2", "c"): (30, 4.5, 201),
    }


def test_time_travel_preserves_pre_widening_schema(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "tt"), SCHEMA_INT,
                         ["repo", "path"], num_buckets=4)
    t.merge_into(
        spark.createDataFrame([("r1", "a", 10, 1.5, 100, None)], _NARROW),
        epoch_id="e1")
    v_narrow = t.current_version()
    t.merge_into(
        spark.createDataFrame([("r1", "a", 2**40, 2.5, 200, None)], _WIDE),
        epoch_id="e2")
    old = t.read(version=v_narrow)
    assert {f.name: f.dataType for f in old.schema.fields}["size"] == T.IntegerType()
    assert [(r["size"], r["score"]) for r in old.collect()] == [(10, 1.5)]


def test_widening_key_column_raises(spark, tmp_path):
    schema = widen_for_cdc(_st(id=T.IntegerType(), content=T.StringType()))
    t = LakeTable.create(spark, str(tmp_path / "k"), schema, ["id"],
                         num_buckets=4)
    t.merge_into(
        spark.createDataFrame(
            [(1, "x", 100, None)],
            "id int, content string, _sdc_lsn long, _sdc_deleted_at string"),
        epoch_id="e1")
    with pytest.raises(TypeError, match="key column"):
        t.merge_into(
            spark.createDataFrame(
                [(2, "y", 200, None)],
                "id long, content string, _sdc_lsn long, _sdc_deleted_at string"),
            epoch_id="e2")
