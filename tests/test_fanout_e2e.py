"""Full fan-out composition drill (round-5 VERDICT #7), as ONE test
chain: an upstream CDC pipeline's changefeed feeds a downstream CDC
pipeline, whose table maintains a digest index — so a document landing
in the UPSTREAM table changes the DOWNSTREAM index's probe answers, with
exactly-once semantics across a crash at every link.

    WAL feed A ──CdcPipeline A──▶ table A
                     │ changefeed export (per applied epoch)
                     ▼
    feed B  ──CdcPipeline B──▶ table B ──refresh──▶ digest index
                                                        │
    fresh docs ──probe_digest_index────────────────────▶ new / dup
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import types as T

from tap_postgres_spark.digestindex import (
    bootstrap_digest_index,
    probe_digest_index,
    refresh_digest_index,
)
from tap_postgres_spark.lake import LakeTable
from tap_postgres_spark.modes.log_based import CdcPipeline
from tap_postgres_spark.schema import StreamDef, widen_for_cdc
from tap_postgres_spark.state import StateStore
from tap_postgres_spark.streaming import StreamingCdcRunner

from tests.test_curation import GOOD, GOOD2, GOOD3

NOVEL = (
    "a long road of stone runs from the town to the hills and the "
    "walkers of old use it with care"
)
LATE = (
    "the miller by the river grinds the grain of the field and sells "
    "the flour at the fair in the spring"
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)
FRESH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)
FQN = "public.docs"


def _payload(doc_id, content):
    return json.dumps(
        {
            "action": "I",
            "schema": "public",
            "table": "docs",
            "columns": [
                {"name": "doc_id", "type": "text", "value": doc_id},
                {"name": "content", "type": "text", "value": content},
            ],
        }
    )


def _stage_feed_file(spark, feed_dir, stage_dir, name, rows, schema):
    """File-stream sources list bare FILES — stage one part file, move
    it in under a stable name."""
    import glob

    stage = os.path.join(stage_dir, name)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stage)
    os.makedirs(feed_dir, exist_ok=True)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(feed_dir, name))


def _dups(spark, didx, rows):
    """doc_id -> True when the probe finds the content in the index."""
    fresh = spark.createDataFrame(rows, FRESH_SCHEMA)
    dup = probe_digest_index(spark, didx, fresh, "content", keep="dup")
    hits = {r["doc_id"] for r in dup.collect()}
    return {d: d in hits for d, _c in rows}


def test_changefeed_to_digest_index_fanout_exactly_once(spark, tmp_path):
    # ---- upstream pipeline A (changefeed export rides every epoch) ----
    table_a = LakeTable.create(
        spark, str(tmp_path / "a"), widen_for_cdc(DOC_SCHEMA),
        ["doc_id"], num_buckets=2,
    )
    cf_root = str(tmp_path / "cf")
    pipe_a = CdcPipeline(
        spark,
        [StreamDef("public", "docs", DOC_SCHEMA, ("doc_id",))],
        {FQN: {"doc_id": "text", "content": "text"}},
        {FQN: table_a},
        StateStore(str(tmp_path / "state_a.json")),
        changefeed_dir=cf_root,
    )
    wal_a = str(tmp_path / "wal_a")
    _stage_feed_file(
        spark, wal_a, str(tmp_path / "_st"), "w1.parquet",
        [(10, 1, _payload("d1", GOOD)), (11, 1, _payload("d2", GOOD2))],
        "lsn long, txid long, payload string",
    )
    runner_a = StreamingCdcRunner(pipe_a, wal_a, str(tmp_path / "ckpt_a"))
    res_a = runner_a.run_available_now()
    assert res_a and res_a[-1]["changefeed"][FQN] is not None

    # ---- downstream pipeline B tails A's changefeed ----
    table_b = LakeTable.create(
        spark, str(tmp_path / "b"), widen_for_cdc(DOC_SCHEMA),
        ["doc_id"], num_buckets=2,
    )
    pipe_b = CdcPipeline(
        spark,
        [StreamDef("public", "docs", DOC_SCHEMA, ("doc_id",))],
        {FQN: {"doc_id": "text", "content": "text"}},
        {FQN: table_b},
        StateStore(str(tmp_path / "state_b.json")),
        detect_evolution=False,
    )
    runner_b = StreamingCdcRunner(
        pipe_b, os.path.join(cf_root, FQN), str(tmp_path / "ckpt_b")
    )
    runner_b.run_available_now()
    assert {r["doc_id"] for r in table_b.read().collect()} == {"d1", "d2"}

    # ---- maintained index off B, probed with fresh docs ----
    didx = str(tmp_path / "didx")
    bootstrap_digest_index(spark, table_b, didx, text_col="content", n_cells=4)
    # GOOD lives in table B (via A's changefeed) → dup; NOVEL is new
    assert _dups(spark, didx, [(100, GOOD), (101, NOVEL)]) == {100: True, 101: False}

    # ---- a document lands UPSTREAM; the fan-out carries it to the
    # index without restarting anything ----
    _stage_feed_file(
        spark, wal_a, str(tmp_path / "_st"), "w2.parquet",
        [(20, 2, _payload("d3", LATE))], "lsn long, txid long, payload string",
    )
    runner_a.run_available_now()          # A applies + re-exports changefeed
    runner_b.run_available_now()          # B tails the new changefeed files
    assert {r["doc_id"] for r in table_b.read().collect()} == {"d1", "d2", "d3"}
    r = refresh_digest_index(table_b, didx)
    assert not r.get("skipped", False)
    # LATE was born upstream AFTER the index was built — now a dup;
    # GOOD3 never reached the chain → new
    assert _dups(spark, didx, [(200, LATE), (201, GOOD3)]) == {200: True, 201: False}

    # ---- exactly-once across a crash at every link ----
    # index replay: nothing new at B → the refresh is a no-op
    assert refresh_digest_index(table_b, didx).get("skipped", False)
    # downstream replay: same checkpoint → no new epochs applied
    vb = table_b.current_version()
    runner_b.run_available_now()
    assert table_b.current_version() == vb
    # upstream epoch replay: direct re-apply of the drained batch → skip
    raw = spark.read.schema("lsn long, txid long, payload string").parquet(
        os.path.join(wal_a, "w2.parquet")
    )
    replay = pipe_a.apply_batch(raw, epoch_id="cdc/1")
    assert replay["streams"][FQN]["skipped"] is True
