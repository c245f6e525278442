"""Decode-pipeline tests — the tier-1 port of the reference's
tests/test_consume.py and the routing/counter matrix of
tests/test_wal_reader.py, asserted over DataFrames.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

import pytest
from pyspark.sql import types as T

from tap_postgres_spark.decode import (
    STATUS_BELOW_BOOKMARK,
    STATUS_MALFORMED,
    STATUS_OK,
    STATUS_TRUNCATE,
    STATUS_TXN_MARKER,
    STATUS_UNKNOWN_ACTION,
    STATUS_UNROUTABLE,
    classify,
    decode_stream,
    parse_raw_payloads,
)
from tap_postgres_spark.schema import SDC_DELETED_AT, SDC_LSN, StreamDef

PG_TYPES = {
    "id": "integer",
    "name": "text",
    "score": "numeric",
    "tags": "text[]",
}

STREAM = StreamDef(
    schema_name="public",
    table_name="t1",
    spark_schema=T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DecimalType(38, 18)),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ]
    ),
    key_properties=("id",),
)


def _payload(action, cols=None, identity=None, schema="public", table="t1"):
    d = {"action": action, "schema": schema, "table": table}
    if cols is not None:
        d["columns"] = cols
    if identity is not None:
        d["identity"] = identity
    return json.dumps(d)


def _col(name, value, pg_type=None):
    return {"name": name, "type": pg_type or PG_TYPES[name], "value": value}


@pytest.fixture()
def raw_df(spark):
    rows = [
        # insert (test_consume.py:75-92)
        (100, 7, _payload("I", cols=[_col("id", "1"), _col("name", "alpha"),
                                     _col("score", "3.5"), _col("tags", "{a,b}")])),
        # update
        (110, 7, _payload("U", cols=[_col("id", "1"), _col("name", "beta"),
                                     _col("score", ""), _col("tags", '{"c d",e}')])),
        # delete: identity only (test_consume.py:95-109)
        (120, 8, _payload("D", identity=[_col("id", "2")])),
        # txn markers (dropped, test_consume.py:112-119)
        (130, 9, _payload("B")),
        (131, 9, _payload("C")),
        # truncate (dropped)
        (140, 9, _payload("T")),
        # unknown action (dropped + logged, test_consume.py:122-128)
        (150, 10, _payload("Z", cols=[])),
        # unroutable table (test_wal_reader.py:324-339)
        (160, 10, _payload("I", cols=[_col("id", "9")], table="elsewhere")),
        # malformed (test_wal_reader.py:565-580)
        (170, 11, "{not json{"),
        # enum-quote repair then parses fine (test_consume.py:149-162)
        (180, 11, _payload("I", cols=[_col("id", "3"), _col("name", "x"),
                                      _col("score", "1"), _col("tags", "{}")])
         .replace('"type": "text", "value": "x"', '"type": ""MyEnum"", "value": "x"')),
    ]
    return spark.createDataFrame(rows, ["lsn", "txid", "payload"])


def _classified(raw_df):
    return classify(parse_raw_payloads(raw_df), ["public.t1"])


def test_status_classification(raw_df):
    counts = {
        (r["_status"]): r["n"]
        for r in _classified(raw_df).groupBy("_status").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert counts[STATUS_OK] == 4  # I, U, D, repaired-enum I
    assert counts[STATUS_TXN_MARKER] == 2
    assert counts[STATUS_TRUNCATE] == 1
    assert counts[STATUS_UNKNOWN_ACTION] == 1
    assert counts[STATUS_UNROUTABLE] == 1
    assert counts[STATUS_MALFORMED] == 1


def test_decode_insert_update_delete(raw_df):
    batch_time = datetime(2024, 6, 1, 12, 0, 0, tzinfo=timezone.utc)
    out = decode_stream(_classified(raw_df), STREAM, PG_TYPES, batch_time=batch_time)
    rows = {(r[SDC_LSN]): r for r in out.collect()}
    assert set(rows) == {100, 110, 120, 180}

    ins = rows[100]
    assert ins["id"] == 1 and ins["name"] == "alpha"
    assert float(ins["score"]) == 3.5
    assert ins["tags"] == ["a", "b"]
    assert ins[SDC_DELETED_AT] is None and ins["_action"] == "I"

    upd = rows[110]
    assert upd["name"] == "beta"
    # numeric ""→NULL (client.py:621-623)
    assert upd["score"] is None
    assert upd["tags"] == ["c d", "e"]

    # delete: key only + _sdc_deleted_at stamped (test_consume.py:95-109)
    del_ = rows[120]
    assert del_["id"] == 2
    assert del_["name"] is None and del_["score"] is None
    assert del_[SDC_DELETED_AT] == "2024-06-01T12:00:00Z"
    assert del_["_action"] == "D"

    # enum-quote payload decoded after repair
    assert rows[180]["name"] == "x"


def test_bookmark_lsn_filter(raw_df):
    # wal_reader.py:290-297 / test_wal_reader.py:300-321: events below the
    # stream bookmark are dropped; >= bookmark retained
    out = decode_stream(_classified(raw_df), STREAM, PG_TYPES, bookmark_lsn=115)
    lsns = sorted(r[SDC_LSN] for r in out.collect())
    assert lsns == [120, 180]


def test_null_value_passthrough(spark):
    # client.py:602-604: value None stays NULL (not "None"/"")
    raw = spark.createDataFrame(
        [(10, 1, _payload("I", cols=[_col("id", "5"), _col("name", None),
                                     _col("score", None), _col("tags", None)]))],
        ["lsn", "txid", "payload"],
    )
    row = decode_stream(_classified(raw), STREAM, PG_TYPES).collect()[0]
    assert row["name"] is None and row["score"] is None and row["tags"] is None


def test_missing_column_is_null(spark):
    # schema-widened column absent from an event's image → NULL
    raw = spark.createDataFrame(
        [(10, 1, _payload("I", cols=[_col("id", "5")]))], ["lsn", "txid", "payload"]
    )
    row = decode_stream(_classified(raw), STREAM, PG_TYPES).collect()[0]
    assert row["id"] == 5 and row["name"] is None


def test_b_c_rows_without_table_not_unroutable(spark):
    # B/C events carry no schema/table (wal_reader.py:276-279) and must be
    # counted as txn markers, not unroutable
    raw = spark.createDataFrame([(10, 1, json.dumps({"action": "B"}))],
                                ["lsn", "txid", "payload"])
    rows = _classified(raw).collect()
    assert rows[0]["_status"] == STATUS_TXN_MARKER


def test_declared_struct_json_column_parses_and_flattens(spark):
    """A jsonb column declared with a concrete StructType schema must be
    PARSED (from_json), not cast — and is then flatten()-ready."""
    import json as _json

    from tap_postgres_spark import stream_maps
    from tap_postgres_spark.decode import classify, decode_stream, parse_raw_payloads
    from tap_postgres_spark.schema import StreamDef
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("stars", T.LongType()),
                        T.StructField("lang", T.StringType()),
                    ]
                ),
            ),
        ]
    )
    payload = _json.dumps(
        {
            "action": "I", "schema": "public", "table": "t",
            "columns": [
                {"name": "id", "type": "text", "value": "a"},
                {"name": "meta", "type": "jsonb",
                 "value": _json.dumps({"stars": 7, "lang": "py"})},
            ],
        }
    )
    raw = spark.createDataFrame([(1, 1, payload)], "lsn long, txid long, payload string")
    stream = StreamDef("public", "t", schema, ("id",))
    out = decode_stream(
        classify(parse_raw_payloads(raw), ["public.t"]), stream,
        {"id": "text", "meta": "jsonb"},
    )
    row = out.collect()[0]
    assert row["meta"]["stars"] == 7 and row["meta"]["lang"] == "py"
    flat = stream_maps.flatten(out.select("id", "meta"), max_depth=1)
    assert flat.columns == ["id", "meta__stars", "meta__lang"]
    assert flat.collect()[0]["meta__stars"] == 7
