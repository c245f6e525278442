"""Multi-stream pipeline: one WAL feed, N tables — the Spark translation
of the reference's single-connection shared reader (wal_reader.py:31-192,
tap.py:768-797): one pass over the feed, per-table routing, per-table
targets, per-table bookmarks.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from tap_postgres_spark.lake import LakeTable
from tap_postgres_spark.modes.log_based import CdcPipeline
from tap_postgres_spark.schema import StreamDef, widen_for_cdc
from tap_postgres_spark.state import StateStore


def _schema(*names):
    return T.StructType([T.StructField(n, T.StringType()) for n in names])


def _payload(action, table, **cols):
    d = {"action": action, "schema": "public", "table": table}
    if action == "D":
        d["identity"] = [{"name": k, "type": "text", "value": v} for k, v in cols.items()]
    else:
        d["columns"] = [{"name": k, "type": "text", "value": v} for k, v in cols.items()]
    return json.dumps(d)


@pytest.fixture()
def pipeline(spark, tmp_path):
    streams = [
        StreamDef("public", "t_a", _schema("id", "v"), ("id",)),
        StreamDef("public", "t_b", _schema("id", "w"), ("id",)),
    ]
    tables = {
        s.fqn: LakeTable.create(
            spark, str(tmp_path / s.table_name), widen_for_cdc(s.spark_schema),
            ["id"], num_buckets=2,
        )
        for s in streams
    }
    state = StateStore(str(tmp_path / "state.json"))
    pg = {s.fqn: {"id": "text"} for s in streams}
    return CdcPipeline(spark, streams, pg, tables, state,
                       metrics_dir=str(tmp_path / "metrics"))


def test_routing_to_two_tables(spark, pipeline):
    rows = [
        (10, 1, _payload("I", "t_a", id="a1", v="x")),
        (20, 1, _payload("I", "t_b", id="b1", w="y")),
        (30, 2, _payload("U", "t_a", id="a1", v="x2")),
        (40, 2, _payload("D", "t_b", id="b1")),
        (50, 3, _payload("I", "t_unknown", id="zz")),  # unroutable
    ]
    raw = spark.createDataFrame(rows, "lsn long, txid long, payload string")
    res = pipeline.apply_batch(raw, epoch_id="e0")

    ta = pipeline.tables["public.t_a"].read().collect()
    tb = pipeline.tables["public.t_b"].read().collect()
    assert {(r["id"], r["v"]) for r in ta} == {("a1", "x2")}
    assert tb == []  # b1 inserted then deleted

    counts = {(m["_fqn"], m["_status"]): m["n"] for m in res["metrics"]}
    assert counts[("public.t_a", "ok")] == 2
    assert counts[("public.t_b", "ok")] == 2
    assert counts[(None, "unroutable")] == 1
    # per-stream watermarks advanced to the shared max seen
    assert pipeline.state.watermark("public.t_a") == 50
    assert pipeline.state.watermark("public.t_b") == 50


def test_duplicate_fqn_rejected(spark, tmp_path):
    # reference wal_reader.py:95-114: duplicate registration is an error
    s = StreamDef("public", "t_a", _schema("id"), ("id",))
    with pytest.raises(ValueError):
        CdcPipeline(spark, [s, s], {}, {}, StateStore(str(tmp_path / "s.json")))


def test_per_stream_bookmark_floor(spark, pipeline):
    # t_a has a pre-existing bookmark: its old events are dropped, while
    # t_b (no bookmark) takes everything (wal_reader.py:290-297)
    pipeline.state.advance("public.t_a", "_sdc_lsn", 25)
    rows = [
        (10, 1, _payload("I", "t_a", id="old", v="drop-me")),
        (30, 2, _payload("I", "t_a", id="new", v="keep")),
        (15, 1, _payload("I", "t_b", id="b-early", w="keep-too")),
    ]
    raw = spark.createDataFrame(rows, "lsn long, txid long, payload string")
    pipeline.apply_batch(raw, epoch_id="e0")
    ta = {r["id"] for r in pipeline.tables["public.t_a"].read().collect()}
    tb = {r["id"] for r in pipeline.tables["public.t_b"].read().collect()}
    assert ta == {"new"}
    assert tb == {"b-early"}


def test_empty_stream_list_rejected(spark, tmp_path):
    # reference wal_reader.py:95-114 + test_wal_reader.py:235-247
    with pytest.raises(ValueError, match="at least one stream"):
        CdcPipeline(spark, [], {}, {}, StateStore(str(tmp_path / "s.json")))
