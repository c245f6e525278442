"""End-to-end: synthetic WAL feed → CdcPipeline → lake table == oracle.

The flagship correctness gate (BASELINE.json): final-table-state equality
with per-row content sha256 equality, replaying an insert/update/delete
mix (with every injected edge case) against an independent row-at-a-time
oracle fold — the reference's own execution model.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_postgres_spark.feedgen import (
    FQN,
    PG_TYPES,
    SCHEMA_NAME,
    TABLE_NAME,
    FeedConfig,
    generate_feed,
    oracle_apply,
    write_feed,
    write_snapshot,
)
from tap_postgres_spark.lake import LakeTable
from tap_postgres_spark.modes.log_based import CdcPipeline
from tap_postgres_spark.schema import StreamDef, widen_for_cdc
from tap_postgres_spark.state import StateStore

BASE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        # NOTE: `stars` is intentionally absent — it appears mid-feed and
        # must arrive via schema evolution (tap.py:693-741 analog).
    ]
)


def make_pipeline(spark, tmp_path, **pipeline_kw):
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
        num_buckets=8,
    )
    state = StateStore(str(tmp_path / "state.json"))
    pipeline = CdcPipeline(
        spark,
        [stream],
        {FQN: {k: v for k, v in PG_TYPES.items() if k != "stars"}},
        {FQN: table},
        state,
        metrics_dir=str(tmp_path / "metrics"),
        **pipeline_kw,
    )
    return pipeline, table, state


def load_snapshot(spark, pipeline, table, feed, tmp_path):
    """Initial FULL_TABLE load of the snapshot into the lake table with
    _sdc_lsn=0 (any WAL event outranks snapshot rows)."""
    snap_path = str(tmp_path / "snapshot.parquet")
    write_snapshot(feed, snap_path)
    snap = (
        spark.read.parquet(snap_path)
        .drop("stars")  # not yet evolved at snapshot time
        .withColumn("_sdc_lsn", F.lit(0).cast("long"))
        .withColumn("_sdc_deleted_at", F.lit(None).cast("string"))
    )
    table.overwrite(snap, epoch_id="snapshot")


def assert_state_matches_oracle(spark, table, feed):
    expected = oracle_apply(feed)
    got = {
        (r["repo"], r["path"]): r
        for r in table.read().drop("_sdc_deleted_at").collect()
    }
    assert set(got) == set(expected), (
        f"key sets differ: missing={set(expected) - set(got)} "
        f"extra={set(got) - set(expected)}"
    )
    for key, exp in expected.items():
        g = got[key]
        # per-row content sha256 invariant (BASELINE.json)
        exp_sha = hashlib.sha256((exp["content"] or "").encode()).hexdigest()
        got_sha = hashlib.sha256((g["content"] or "").encode()).hexdigest()
        assert got_sha == exp_sha, f"content hash mismatch for {key}"
        assert g["commit"] == exp["commit"], key
        assert g["lang"] == exp["lang"], key
        assert (g["tags"] or None) == (exp["tags"] or None) or list(g["tags"] or []) == list(
            exp["tags"] or []
        ), key
        assert g["_sdc_lsn"] == exp["_sdc_lsn"], key
        if "stars" in g.asDict():
            assert g["stars"] == exp.get("stars"), key
    # engine-side sha2 matches the Python hashlib oracle for a sample row
    sample_key = next(iter(expected))
    row = (
        table.read()
        .filter((F.col("repo") == sample_key[0]) & (F.col("path") == sample_key[1]))
        .select(F.sha2(F.col("content"), 256).alias("h"))
        .collect()[0]
    )
    assert row["h"] == hashlib.sha256(expected[sample_key]["content"].encode()).hexdigest()


def test_single_batch_replay_matches_oracle(spark, tmp_path):
    feed = generate_feed(FeedConfig(n_events=600, n_initial_paths=120))
    pipeline, table, _ = make_pipeline(spark, tmp_path)
    load_snapshot(spark, pipeline, table, feed, tmp_path)

    raw = spark.createDataFrame(
        [(e["lsn"], e["txid"], e["payload"]) for e in feed.events],
        "lsn long, txid long, payload string",
    )
    result = pipeline.apply_batch(raw, epoch_id="batch-0")
    assert result["max_lsn_seen"] is not None
    # schema evolved mid-feed
    assert "stars" in [f.name for f in table.schema.fields]
    assert_state_matches_oracle(spark, table, feed)


def test_multi_batch_replay_matches_oracle(spark, tmp_path):
    feed = generate_feed(FeedConfig(n_events=600, n_initial_paths=120))
    pipeline, table, state = make_pipeline(spark, tmp_path)
    load_snapshot(spark, pipeline, table, feed, tmp_path)

    # split the ordered feed into 4 sequential micro-batches
    ev = feed.events
    q = (len(ev) + 3) // 4
    for i in range(4):
        chunk = ev[i * q : (i + 1) * q]
        if not chunk:
            continue
        raw = spark.createDataFrame(
            [(e["lsn"], e["txid"], e["payload"]) for e in chunk],
            "lsn long, txid long, payload string",
        )
        pipeline.apply_batch(raw, epoch_id=f"batch-{i}")
    assert_state_matches_oracle(spark, table, feed)
    # watermark tracked the feed tip; the filter floor only advances on an
    # explicit idle-exit (reference wal_reader.py:167-176 semantics)
    tip = max(e["lsn"] for e in feed.events)
    assert state.watermark(FQN) == tip
    pipeline.advance_to_tip(tip)
    assert state.bookmark(FQN) == tip


def test_out_of_order_batches_match_oracle(spark, tmp_path):
    """Spark's file source may deliver micro-batches out of LSN order
    across a crash-restart.  Final state must be order-independent:
    the filter floor stays put during the run and the merge resolves by
    LSN, so any batch permutation converges to the oracle state."""
    feed = generate_feed(FeedConfig(n_events=400, n_initial_paths=80))
    pipeline, table, state = make_pipeline(spark, tmp_path)
    load_snapshot(spark, pipeline, table, feed, tmp_path)

    ev = feed.events
    q = (len(ev) + 3) // 4
    chunks = [ev[i * q : (i + 1) * q] for i in range(4)]
    for i in (2, 0, 3, 1):  # adversarial permutation
        chunk = chunks[i]
        if not chunk:
            continue
        raw = spark.createDataFrame(
            [(e["lsn"], e["txid"], e["payload"]) for e in chunk],
            "lsn long, txid long, payload string",
        )
        pipeline.apply_batch(raw, epoch_id=f"batch-{i}")
    assert_state_matches_oracle(spark, table, feed)


def test_batch_replay_is_idempotent(spark, tmp_path):
    feed = generate_feed(FeedConfig(n_events=200, n_initial_paths=50))
    pipeline, table, _ = make_pipeline(spark, tmp_path)
    load_snapshot(spark, pipeline, table, feed, tmp_path)
    raw = spark.createDataFrame(
        [(e["lsn"], e["txid"], e["payload"]) for e in feed.events],
        "lsn long, txid long, payload string",
    )
    pipeline.apply_batch(raw, epoch_id="batch-0")
    v = table.current_version()
    # replay same epoch: dedup guard → no new version
    pipeline.apply_batch(raw, epoch_id="batch-0")
    assert table.current_version() == v
    assert_state_matches_oracle(spark, table, feed)


def test_metrics_counters_match_feed(spark, tmp_path):
    feed = generate_feed(FeedConfig(n_events=300, n_initial_paths=60))
    pipeline, table, _ = make_pipeline(spark, tmp_path)
    load_snapshot(spark, pipeline, table, feed, tmp_path)
    raw = spark.createDataFrame(
        [(e["lsn"], e["txid"], e["payload"]) for e in feed.events],
        "lsn long, txid long, payload string",
    )
    res = pipeline.apply_batch(raw, epoch_id="batch-0")
    counts: dict[tuple[str | None, str], int] = {}
    for m in res["metrics"]:
        counts[(m["_fqn"], m["_status"])] = m["n"]
    exp = feed.expected_counts
    # per-stream emitted count + global drop counters, matching the
    # reference's counter taxonomy (wal_reader.py:116-122)
    assert counts.get((FQN, "ok"), 0) == exp["I"] + exp["U"] + exp["D"]
    assert counts.get((None, "unroutable"), 0) == exp["other_table"]
    assert counts.get((None, "malformed"), 0) == exp["malformed"]
    assert counts.get((None, "txn_marker"), 0) == exp["txn_marker"]
    assert counts.get((None, "truncate"), 0) == exp["truncate"]
    assert counts.get((None, "unknown_action"), 0) == exp["unknown_action"]
