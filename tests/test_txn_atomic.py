"""Transaction-boundary atomic apply (modes/txn.py): a micro-batch cut
inside a transaction defers that transaction's rows, so every committed
batch moves the table between transaction-consistent snapshots.

The reference applies message-at-a-time (client.py:578-586 drops B/C),
so its atomicity unit is one row; these tests pin the stronger batch
contract: partial transactions are never visible, deferral + replay are
loss-free and idempotent, and idle-exit can't release pending WAL.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from tap_postgres_spark.feedgen import FQN, PG_TYPES, SCHEMA_NAME, TABLE_NAME
from tap_postgres_spark.lake import LakeTable
from tap_postgres_spark.modes.log_based import CdcPipeline
from tap_postgres_spark.schema import StreamDef, widen_for_cdc
from tap_postgres_spark.state import StateStore

BASE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)

PG = {"repo": "text", "path": "text", "content": "text"}


def _col(name, value):
    return {"name": name, "type": PG[name], "value": value}


def _ins(lsn, txid, repo, path, content):
    payload = json.dumps(
        {
            "action": "I",
            "schema": SCHEMA_NAME,
            "table": TABLE_NAME,
            "columns": [
                _col("repo", repo), _col("path", path), _col("content", content)
            ],
        }
    )
    return (lsn, txid, payload)


def _del(lsn, txid, repo, path):
    payload = json.dumps(
        {
            "action": "D",
            "schema": SCHEMA_NAME,
            "table": TABLE_NAME,
            "identity": [_col("repo", repo), _col("path", path)],
        }
    )
    return (lsn, txid, payload)


def _marker(lsn, txid, action):
    return (lsn, txid, json.dumps({"action": action}))


def _mk_pipeline(spark, tmp_path, **kw):
    stream = StreamDef(
        schema_name=SCHEMA_NAME,
        table_name=TABLE_NAME,
        spark_schema=BASE_SCHEMA,
        key_properties=("repo", "path"),
    )
    table = LakeTable.create(
        spark,
        str(tmp_path / "lake" / TABLE_NAME),
        widen_for_cdc(BASE_SCHEMA),
        ["repo", "path"],
        num_buckets=4,
    )
    pipe = CdcPipeline(
        spark,
        [stream],
        {FQN: PG},
        {FQN: table},
        StateStore(str(tmp_path / "state.json")),
        detect_evolution=False,
        txn_boundary_dir=str(tmp_path / "txn"),
        **kw,
    )
    return pipe, table


def _raw(spark, events):
    return spark.createDataFrame(events, "lsn long, txid long, payload string")


def _live_keys(table):
    return {
        (r["repo"], r["path"])
        for r in table.read().where("_sdc_deleted_at is null").collect()
    }


# two transactions: txn 7 (3 inserts) and txn 9 (1 insert + 1 delete of
# a txn-7 row), interleaved the way concurrent backends commit
TXN7 = [
    _marker(100, 7, "B"),
    _ins(101, 7, "r1", "a.py", "v1"),
    _ins(102, 7, "r1", "b.py", "v1"),
    _ins(103, 7, "r2", "c.py", "v1"),
    _marker(104, 7, "C"),
]
TXN9 = [
    _marker(110, 9, "B"),
    _ins(111, 9, "r3", "d.py", "v1"),
    _del(112, 9, "r1", "a.py"),
    _marker(113, 9, "C"),
]


def test_split_batch_defers_open_txn(spark, tmp_path):
    pipe, table = _mk_pipeline(spark, tmp_path)
    # batch 1 cuts txn 9 after its first row: txn 7 commits, 9 is open
    batch1 = TXN7 + TXN9[:2]
    res1 = pipe.apply_batch(_raw(spark, batch1), epoch_id="t/0")
    assert res1["txn"]["deferred"] == 1  # the d.py insert waits
    assert res1["txn"]["pending_min_lsn"] == 111
    assert _live_keys(table) == {("r1", "a.py"), ("r1", "b.py"), ("r2", "c.py")}

    # batch 2 delivers the rest of txn 9 — pending row re-enters
    res2 = pipe.apply_batch(_raw(spark, TXN9[2:]), epoch_id="t/1")
    assert res2["txn"]["deferred"] == 0
    assert res2["txn"]["pending_dir"] is None
    assert _live_keys(table) == {("r1", "b.py"), ("r2", "c.py"), ("r3", "d.py")}


def test_atomicity_equality_any_cut(spark, tmp_path):
    """Final state is the same wherever the batch boundary lands, and
    equals the one-shot apply of the whole feed."""
    feed = TXN7 + TXN9
    oneshot, t_ref = _mk_pipeline(spark, tmp_path / "ref")
    oneshot.apply_batch(_raw(spark, feed), epoch_id="ref/0")
    want = _live_keys(t_ref)

    for cut in (1, 3, 6, 8):
        pipe, table = _mk_pipeline(spark, tmp_path / f"cut{cut}")
        pipe.apply_batch(_raw(spark, feed[:cut]), epoch_id="a/0")
        pipe.apply_batch(_raw(spark, feed[cut:]), epoch_id="a/1")
        assert _live_keys(table) == want, f"cut at {cut}"


def test_no_partial_txn_visible_mid_stream(spark, tmp_path):
    """With txn 9 open, NONE of its effects (insert or delete) leak."""
    pipe, table = _mk_pipeline(spark, tmp_path)
    pipe.apply_batch(_raw(spark, TXN7), epoch_id="m/0")
    base = _live_keys(table)
    # everything except the commit marker
    pipe.apply_batch(_raw(spark, TXN9[:-1]), epoch_id="m/1")
    assert _live_keys(table) == base  # delete of a.py NOT applied either


def test_crash_replay_same_epoch_idempotent(spark, tmp_path):
    pipe, table = _mk_pipeline(spark, tmp_path)
    pipe.apply_batch(_raw(spark, TXN7 + TXN9[:2]), epoch_id="c/0")
    res = pipe.apply_batch(_raw(spark, TXN9[2:]), epoch_id="c/1")
    want = _live_keys(table)
    # foreachBatch replay: same epoch, same input → same pointer input
    # dir, identical recompute, merge no-ops on the epoch guard
    replay = pipe.apply_batch(_raw(spark, TXN9[2:]), epoch_id="c/1")
    assert _live_keys(table) == want
    assert replay["txn"]["deferred"] == res["txn"]["deferred"] == 0
    ptr = pipe.txn_buffer.pointer()
    assert ptr["epoch"] == "c/1" and ptr["rows"] == 0


def test_advance_to_tip_capped_by_pending(spark, tmp_path):
    pipe, table = _mk_pipeline(spark, tmp_path)
    pipe.apply_batch(_raw(spark, TXN7 + TXN9[:2]), epoch_id="g/0")
    pipe.advance_to_tip(999)
    # pending row at lsn 111 → bookmark must stop at 110
    assert pipe.state.bookmark(FQN) == 110
    pipe.apply_batch(_raw(spark, TXN9[2:]), epoch_id="g/1")
    pipe.advance_to_tip(999)
    assert pipe.state.bookmark(FQN) == 999


def test_null_txid_rows_apply_immediately(spark, tmp_path):
    pipe, table = _mk_pipeline(spark, tmp_path)
    ev = [(201, None, _ins(0, 0, "rx", "solo.py", "v1")[2])]
    res = pipe.apply_batch(_raw(spark, ev), epoch_id="n/0")
    assert res["txn"]["deferred"] == 0
    assert ("rx", "solo.py") in _live_keys(table)


def test_pending_survives_multiple_batches_and_gc(spark, tmp_path):
    """A transaction held open across several batches keeps carrying
    over; stale epoch spill dirs are GC'd to the live pointer pair."""
    pipe, table = _mk_pipeline(spark, tmp_path)
    pipe.apply_batch(_raw(spark, TXN9[:2]), epoch_id="p/0")   # open 9
    pipe.apply_batch(_raw(spark, TXN7[:3]), epoch_id="p/1")   # open 7 too
    res = pipe.apply_batch(_raw(spark, TXN7[3:]), epoch_id="p/2")  # 7 commits
    assert _live_keys(table) == {("r1", "a.py"), ("r1", "b.py"), ("r2", "c.py")}
    assert res["txn"]["deferred"] == 1  # txn 9's insert still waiting
    dirs = [d for d in os.listdir(tmp_path / "txn") if d.startswith("epoch=")]
    assert len(dirs) <= 2  # pointer's in/out only
    res = pipe.apply_batch(_raw(spark, TXN9[2:]), epoch_id="p/3")  # 9 commits
    assert res["txn"]["deferred"] == 0
    assert _live_keys(table) == {("r1", "b.py"), ("r2", "c.py"), ("r3", "d.py")}


def _write_feed_files(feed_dir, chunks):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tap_postgres_spark.feedgen import stamp_arrival_order

    os.makedirs(feed_dir, exist_ok=True)
    paths = []
    for i, chunk in enumerate(chunks):
        tbl = pa.table(
            {
                "lsn": pa.array([e[0] for e in chunk], pa.int64()),
                "txid": pa.array([e[1] for e in chunk], pa.int64()),
                "payload": pa.array([e[2] for e in chunk], pa.string()),
            }
        )
        paths.append(os.path.join(feed_dir, f"feed-{i:05d}.parquet"))
        pq.write_table(tbl, paths[-1])
    # the runner reads files in arrival (mtime) order: file 0 first
    stamp_arrival_order(paths)


def test_streaming_runner_with_txn_buffer(spark, tmp_path):
    """End-to-end through StreamingCdcRunner: a feed file that ends
    mid-transaction defers cleanly across micro-batches, and a crash +
    checkpoint resume converges to the same transaction-consistent
    state."""
    from tap_postgres_spark.streaming import StreamingCdcRunner

    pipe, table = _mk_pipeline(spark, tmp_path)
    feed_dir = str(tmp_path / "feed")
    # file 0 cuts txn 9 after one data row; file 1 completes it
    _write_feed_files(feed_dir, [TXN7 + TXN9[:2], TXN9[2:]])

    runner = StreamingCdcRunner(
        pipe, feed_dir, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    # crash after batch 0 (txn 9 pending in the buffer)
    runner.run_available_now(fail_after_batches=1)
    assert runner.batch_results[0]["txn"]["deferred"] == 1
    assert _live_keys(table) == {("r1", "a.py"), ("r1", "b.py"), ("r2", "c.py")}
    # resume from the checkpoint: batch 1 delivers the commit marker
    runner.run_available_now()
    assert runner.batch_results[-1]["txn"]["deferred"] == 0
    assert _live_keys(table) == {("r1", "b.py"), ("r2", "c.py"), ("r3", "d.py")}


def test_full_feed_txn_coherent_streaming_matches_oracle(spark, tmp_path):
    """The whole-feed drill: a realistic feed (evolution, malformed,
    enum-quote, other-table, numeric-empty rows) rewritten into
    wal2json commit-order transactions (feedgen.wrap_transactions),
    split across files that cut transactions arbitrarily, replayed
    through the streaming runner in txn-boundary mode — final state
    must equal the row-at-a-time oracle, and txn-marker counts must
    match the rewritten feed's expectation."""
    from tap_postgres_spark.feedgen import (
        FeedConfig,
        generate_feed,
        wrap_transactions,
        write_feed,
    )
    from tap_postgres_spark.streaming import StreamingCdcRunner
    from tests.test_end_to_end import (
        assert_state_matches_oracle,
        load_snapshot,
        make_pipeline,
    )

    feed = wrap_transactions(
        generate_feed(
            FeedConfig(n_events=400, n_initial_paths=80, n_feed_files=7)
        )
    )
    pipeline, table, _state = make_pipeline(
        spark, tmp_path, txn_boundary_dir=str(tmp_path / "txn")
    )
    load_snapshot(spark, pipeline, table, feed, tmp_path)
    feed_dir = str(tmp_path / "feed")
    write_feed(feed, feed_dir)

    runner = StreamingCdcRunner(
        pipeline, feed_dir, str(tmp_path / "ckpt"), max_files_per_trigger=2
    )
    results = runner.run_available_now()
    assert len(results) >= 3
    # at least one batch boundary landed inside a transaction
    assert any(r["txn"]["deferred"] > 0 for r in results[:-1])
    assert results[-1]["txn"]["deferred"] == 0  # feed drains clean
    assert_state_matches_oracle(spark, table, feed)
    n_markers = sum(
        m["n"]
        for r in results
        for m in r["metrics"]
        if m["_status"] == "txn_marker"
    )
    # deferred rows re-enter with their markers already counted in the
    # earlier batch, so markers are counted exactly once
    assert n_markers == feed.expected_counts["txn_marker"]


def test_dead_letter_replay_bypasses_split(spark, tmp_path):
    """Quarantined rows replay as standalone — their txn committed when
    first seen, so replay must not wait for a marker that won't come."""
    pipe, table = _mk_pipeline(
        spark, tmp_path, dead_letter_dir=str(tmp_path / "dl")
    )
    bad = (300, 42, "{not json")
    res = pipe.apply_batch(_raw(spark, TXN7 + [bad]), epoch_id="d/0")
    assert res["dead_letter"]["rows"] == 1
    fixed_dir = str(tmp_path / "fixed")
    fixed = _raw(spark, [_ins(300, 42, "r9", "fixed.py", "v1")])
    fixed.write.parquet(fixed_dir)
    pipe.replay_dead_letters(fixed_dir, epoch_id="d/fix")
    assert ("r9", "fixed.py") in _live_keys(table)
