"""Round-2 regression tests for the ADVICE.md findings:

1. A merge must resolve LWW-by-(lsn, gen) against the existing table —
   an out-of-order lower-LSN replay batch must not overwrite or resurrect
   newer rows (ADVICE: lake/table.py merge).
2. compact() must retain delete tombstones (the LSN evidence for
   order-independent reads) unless they are below the committed bookmark
   floor (ADVICE: lake/table.py compact).
3. Schema-evolution width trigger must compare event data-column count
   against DATA fields only, not the _sdc_* system columns a CDC-widened
   StreamDef carries (ADVICE: modes/log_based.py).
4. Enum-quote repair must not rewrite a payload containing a legitimate
   empty-string ``"type":""`` value (ADVICE: functions.py).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_postgres_spark.functions import repair_enum_quotes
from tap_postgres_spark.lake import LakeTable
from tap_postgres_spark.modes.log_based import CdcPipeline
from tap_postgres_spark.schema import StreamDef, widen_for_cdc
from tap_postgres_spark.state import StateStore

SCHEMA = widen_for_cdc(
    T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
        ]
    )
)

_BATCH_SCHEMA = (
    "repo string, path string, content string, _sdc_lsn long, "
    "_sdc_deleted_at string, txid long, _action string"
)


def _batch(spark, rows):
    return spark.createDataFrame(
        [(r, p, c, l, d, 1, "U" if d is None else "D") for r, p, c, l, d in rows],
        _BATCH_SCHEMA,
    )


def _state(table):
    return {
        (r["repo"], r["path"]): (r["content"], r["_sdc_lsn"])
        for r in table.read().collect()
    }


# ------------------------------------------------------- 1: out-of-order LWW
def test_out_of_order_replay_does_not_resurrect_delete(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=2)
    t.merge_into(_batch(spark, [("r", "p", "v1", 10, None)]), epoch_id="e1")
    t.merge_into(
        _batch(spark, [("r", "p", None, 100, "2024-01-01T00:00:00Z")]),
        epoch_id="e2",
    )
    assert _state(t) == {}
    # crash-restart replays an OLDER batch (lsn 50 < delete at 100):
    # the tombstone must win — the row stays dead
    t.merge_into(_batch(spark, [("r", "p", "stale", 50, None)]), epoch_id="e3")
    assert _state(t) == {}


def test_out_of_order_replay_does_not_regress_update(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=2)
    t.merge_into(_batch(spark, [("r", "p", "new", 100, None)]), epoch_id="e1")
    t.merge_into(_batch(spark, [("r", "p", "stale", 50, None)]), epoch_id="e2")
    assert _state(t) == {("r", "p"): ("new", 100)}


# ------------------------------------------------------- 2: compact tombstones
def test_compact_retains_tombstones_against_out_of_order_replay(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=2)
    t.merge_into(_batch(spark, [("r", "p", "v1", 10, None)]), epoch_id="e1")
    t.merge_into(
        _batch(spark, [("r", "p", None, 100, "2024-01-01T00:00:00Z")]), epoch_id="e2"
    )
    res = t.compact(max_delta_depth=1)
    assert not res["skipped"]
    # tombstone survives compaction by default (no floor given)
    assert (
        t.read(include_tombstones=True)
        .filter(F.col("_sdc_deleted_at").isNotNull())
        .count()
        == 1
    )
    # the out-of-order replay after compaction still loses to the tombstone
    t.merge_into(_batch(spark, [("r", "p", "stale", 50, None)]), epoch_id="e3")
    assert _state(t) == {}


def test_compact_drops_only_tombstones_below_floor(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=2)
    t.merge_into(
        _batch(
            spark,
            [
                ("r", "old", None, 50, "2024-01-01T00:00:00Z"),
                ("r", "recent", None, 150, "2024-01-01T00:00:00Z"),
                ("r", "live", "v", 60, None),
            ],
        ),
        epoch_id="e1",
    )
    t.merge_into(_batch(spark, [("r", "live", "v2", 70, None)]), epoch_id="e2")
    t.compact(max_delta_depth=0, drop_tombstones_below=100)
    stones = {
        r["path"]
        for r in t.read(include_tombstones=True)
        .filter(F.col("_sdc_deleted_at").isNotNull())
        .collect()
    }
    assert stones == {"recent"}  # lsn 150 >= floor kept; lsn 50 reclaimed
    assert _state(t) == {("r", "live"): ("v2", 70)}


# ------------------------------------------- 3: evolution trigger, widened def
def _payload(action, table, **cols):
    d = {"action": action, "schema": "public", "table": table}
    key = "identity" if action == "D" else "columns"
    d[key] = [{"name": k, "type": "text", "value": v} for k, v in cols.items()]
    return json.dumps(d)


def test_evolution_fires_with_cdc_widened_streamdef(spark, tmp_path):
    base = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("v", T.StringType())]
    )
    # the catalog.discover_lake_table shape: StreamDef already carries the
    # _sdc_* system columns — the width trigger must not count them
    stream = StreamDef("public", "t_a", widen_for_cdc(base), ("id",))
    table = LakeTable.create(
        spark, str(tmp_path / "t_a"), widen_for_cdc(base), ["id"], num_buckets=2
    )
    state = StateStore(str(tmp_path / "state.json"))
    pipe = CdcPipeline(
        spark, [stream], {"public.t_a": {"id": "text", "v": "text"}},
        {"public.t_a": table}, state,
    )
    raw = spark.createDataFrame(
        [
            (10, 1, _payload("I", "t_a", id="a", v="x")),
            (20, 1, _payload("I", "t_a", id="b", v="y", extra="E")),
        ],
        "lsn long, txid long, payload string",
    )
    res = pipe.apply_batch(raw, epoch_id="e0")
    assert res["streams"]["public.t_a"].get("evolved_columns") == ["extra"]
    assert "extra" in [f.name for f in table.schema.fields]
    rows = {r["id"]: r["extra"] for r in table.read().collect()}
    assert rows == {"a": None, "b": "E"}


# ----------------------------------------------------------- 4: enum repair
def test_enum_repair_leaves_legit_empty_string_type_value(spark):
    # "type":"" is a legitimate empty string value; the later "" pair must
    # not cause the repair regex to corrupt the payload
    payload = '{"type":"", "other":""}'
    fixed = '{"type":""MyEnum""}'
    df = spark.createDataFrame([(payload,), (fixed,)], "p string")
    out = [r["r"] for r in df.select(repair_enum_quotes(F.col("p")).alias("r")).collect()]
    assert out[0] == payload  # untouched
    assert out[1] == '{"type":"MyEnum"}'  # repaired


def test_auto_compact_policy_tiered_then_periodic_full(spark, tmp_path):
    """Pipeline compaction policy: depth trigger fires TIERED passes
    (O(delta) not O(table)); every Nth firing is a FULL pass with the
    bookmark floor.  State must stay oracle-correct throughout."""
    base = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("v", T.StringType())]
    )
    stream = StreamDef("public", "t_a", base, ("id",))
    table = LakeTable.create(
        spark, str(tmp_path / "t_a"), widen_for_cdc(base), ["id"], num_buckets=2
    )
    pipe = CdcPipeline(
        spark, [stream], {"public.t_a": {"id": "text", "v": "text"}},
        {"public.t_a": table}, StateStore(str(tmp_path / "s.json")),
        auto_compact_depth=2, full_compact_every=3,
    )
    lsn = 0
    for i in range(9):
        lsn += 1
        raw = spark.createDataFrame(
            [(lsn, 1, _payload("I", "t_a", id=f"k{i % 3}", v=f"v{i}"))],
            "lsn long, txid long, payload string",
        )
        pipe.apply_batch(raw, epoch_id=f"e{i}")
    ops = [
        (h["summary"]["operation"], h["summary"].get("tiered"))
        for h in table.history()
        if h["summary"]["operation"] == "compact"
    ]
    assert ("compact", True) in ops  # tiered passes happened
    assert ("compact", False) in ops or len(ops) < 3  # full pass on the 3rd firing
    state = {r["id"]: r["v"] for r in table.read().collect()}
    assert state == {"k0": "v6", "k1": "v7", "k2": "v8"}
