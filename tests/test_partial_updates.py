"""TOAST-safe partial updates (operators/partial.py).

wal2json omits unchanged TOASTed columns from U events under REPLICA
IDENTITY DEFAULT (the Postgres default).  These tests pin:

- the decode-side presence bitmask (absent ≠ explicitly NULL ≠ delete),
- the per-column LWW fold against a row-at-a-time Python oracle,
- the end-to-end pipeline over a TOAST-omitting feed (incl. mid-feed
  schema evolution) against ``oracle_apply(feed, partial=True)``,
- the corruption the flag exists to prevent (wholesale LWW NULLs the
  stored value — documented, not fixed, when the flag is off),
- crash-replay idempotence and the unresolved-prior-image counter.
"""

from __future__ import annotations

import hashlib
import json
import random

import pytest
from pyspark.sql import functions as F

from tap_postgres_spark.decode import (
    classify,
    data_columns,
    decode_stream,
    parse_raw_payloads,
)
from tap_postgres_spark.feedgen import (
    FQN,
    FeedConfig,
    generate_feed,
    oracle_apply,
)
from tap_postgres_spark.operators.partial import fold_partial_lww, full_mask
from tap_postgres_spark.schema import SDC_MASK

from tests.test_end_to_end import (
    BASE_SCHEMA,
    load_snapshot,
    make_pipeline,
)

STREAM_COLS = ["repo", "path", "commit", "lang", "content", "tags"]


def _raw(spark, payloads):
    return spark.createDataFrame(
        [(i * 10 + 100, 7, json.dumps(p)) for i, p in enumerate(payloads)],
        "lsn long, txid long, payload string",
    )


def _payload(action, repo, path, **cols):
    if action == "D":
        return {
            "action": "D", "schema": "public", "table": "source_code_repos",
            "identity": [
                {"name": "repo", "type": "text", "value": repo},
                {"name": "path", "type": "text", "value": path},
            ],
        }
    entries = [
        {"name": "repo", "type": "text", "value": repo},
        {"name": "path", "type": "text", "value": path},
    ]
    for k, v in cols.items():
        entries.append({"name": k, "type": "text", "value": v})
    return {
        "action": action, "schema": "public", "table": "source_code_repos",
        "columns": entries,
    }


def _stream():
    from tap_postgres_spark.schema import StreamDef

    return StreamDef(
        schema_name="public",
        table_name="source_code_repos",
        spark_schema=BASE_SCHEMA,
        key_properties=("repo", "path"),
    )


# ---------------------------------------------------------------------------
# decode mask
# ---------------------------------------------------------------------------
def test_mask_distinguishes_absent_null_and_delete(spark):
    stream = _stream()
    payloads = [
        _payload("I", "r", "a", commit="c1", lang="py", content="X", tags=None),
        # unchanged-TOAST omission: content ABSENT
        _payload("U", "r", "a", commit="c2", lang="py", tags=None),
        # explicit NULL content: present, value null
        _payload("U", "r", "a", commit="c3", lang="py", content=None, tags=None),
        _payload("D", "r", "a"),
    ]
    classified = classify(parse_raw_payloads(_raw(spark, payloads)), [FQN])
    rows = (
        decode_stream(classified, stream, {}, with_mask=True)
        .orderBy("_sdc_lsn")
        .collect()
    )
    names = data_columns(stream)
    bit = {c: 1 << i for i, c in enumerate(names)}
    fm = full_mask(len(names))

    insert, omitted, explicit_null, delete = rows
    assert insert[SDC_MASK] == fm
    assert omitted[SDC_MASK] == fm - bit["content"]
    # explicitly NULL content is PRESENT (its bit is set) — the value is
    # an intentional overwrite, not an omission
    assert explicit_null[SDC_MASK] == fm
    assert explicit_null["content"] is None
    # deletes carry only the identity columns
    assert delete[SDC_MASK] == bit["repo"] + bit["path"]


# ---------------------------------------------------------------------------
# per-column fold vs row-at-a-time oracle
# ---------------------------------------------------------------------------
def test_fold_partial_matches_python_oracle(spark):
    stream = _stream()
    rng = random.Random(7)
    names = data_columns(stream)
    payloads = []
    # event stream over 6 keys: full inserts, then partial/full updates
    # with random column subsets, occasional deletes + resurrections
    live = set()
    for i in range(120):
        key = f"k{rng.randrange(6)}"
        if key not in live:
            payloads.append(
                _payload("I", "r", key, commit=f"c{i}", lang="py",
                         content=f"body{i}", tags=None)
            )
            live.add(key)
        elif rng.random() < 0.12:
            payloads.append(_payload("D", "r", key))
            live.discard(key)
        else:
            cols = {}
            for c in ("commit", "lang", "content", "tags"):
                if rng.random() < 0.55:
                    cols[c] = f"{c}{i}" if c != "tags" else None
            payloads.append(_payload("U", "r", key, **cols))
    classified = classify(parse_raw_payloads(_raw(spark, payloads)), [FQN])
    decoded = decode_stream(classified, stream, {}, with_mask=True)
    folded = {
        (r["repo"], r["path"]): r
        for r in fold_partial_lww(
            decoded, ["repo", "path"], names
        ).collect()
    }

    # oracle: per-column LWW, one event at a time in LSN order
    exp: dict[tuple, dict] = {}
    for i, p in enumerate(payloads):
        lsn = i * 10 + 100
        if p["action"] == "D":
            ident = {c["name"]: c["value"] for c in p["identity"]}
            key = (ident["repo"], ident["path"])
            row = exp.setdefault(key, {c: None for c in names})
            row["_deleted"] = True
            row["_lsn"] = lsn
            continue
        cols = {c["name"]: c["value"] for c in p["columns"]}
        key = (cols["repo"], cols["path"])
        row = exp.setdefault(key, {c: None for c in names})
        for c, v in cols.items():
            row[c] = v
        row["_deleted"] = False
        row["_lsn"] = lsn

    assert set(folded) == set(exp)
    for key, e in exp.items():
        g = folded[key]
        assert g["_sdc_lsn"] == e["_lsn"], key
        assert (g["_sdc_deleted_at"] is not None) == e["_deleted"], key
        if not e["_deleted"]:
            assert g["commit"] == e["commit"], key
            assert g["content"] == e["content"], key
            assert g["lang"] == e["lang"], key


# ---------------------------------------------------------------------------
# end-to-end pipeline over a TOAST-omitting feed
# ---------------------------------------------------------------------------
def _replay(pipeline, spark, feed, n_batches=3):
    ev = feed.events
    q = (len(ev) + n_batches - 1) // n_batches
    for i in range(n_batches):
        chunk = ev[i * q : (i + 1) * q]
        if not chunk:
            continue
        raw = spark.createDataFrame(
            [(e["lsn"], e["txid"], e["payload"]) for e in chunk],
            "lsn long, txid long, payload string",
        )
        pipeline.apply_batch(raw, epoch_id=f"batch-{i}")


def _assert_partial_oracle(table, feed):
    expected = oracle_apply(feed, partial=True)
    got = {
        (r["repo"], r["path"]): r for r in table.read().collect()
    }
    assert set(got) == set(expected)
    for key, exp in expected.items():
        g = got[key]
        exp_sha = hashlib.sha256((exp["content"] or "").encode()).hexdigest()
        got_sha = hashlib.sha256((g["content"] or "").encode()).hexdigest()
        assert got_sha == exp_sha, f"content mismatch for {key}"
        assert g["commit"] == exp["commit"], key
        assert g["_sdc_lsn"] == exp["_sdc_lsn"], key
        if "stars" in g.asDict():
            assert g["stars"] == exp.get("stars"), key


def test_toast_feed_matches_partial_oracle(spark, tmp_path):
    """Multi-batch replay of a feed where 40% of U events omit `content`
    (and the feed also evolves `stars` mid-stream): final state must be
    the per-column fold — content survives TOAST-omitting updates both
    within a batch (fold) and across batches (fill point-read)."""
    feed = generate_feed(
        FeedConfig(n_events=500, n_initial_paths=100, toast_omit_prob=0.4)
    )
    pipeline, table, _ = make_pipeline(spark, tmp_path, partial_updates=True)
    load_snapshot(spark, pipeline, table, feed, tmp_path)
    _replay(pipeline, spark, feed)
    _assert_partial_oracle(table, feed)


def test_without_flag_wholesale_lww_corrupts(spark, tmp_path):
    """The hazard the flag exists for: with partial_updates OFF, a
    TOAST-omitting update NULLs the stored content (documented)."""
    feed = generate_feed(
        FeedConfig(n_events=500, n_initial_paths=100, toast_omit_prob=0.4)
    )
    pipeline, table, _ = make_pipeline(spark, tmp_path)
    load_snapshot(spark, pipeline, table, feed, tmp_path)
    _replay(pipeline, spark, feed)
    expected = oracle_apply(feed, partial=True)
    got = {(r["repo"], r["path"]): r for r in table.read().collect()}
    nulled = [
        k
        for k, exp in expected.items()
        if exp["content"] is not None
        and k in got
        and got[k]["content"] is None
    ]
    assert nulled, "expected wholesale LWW to NULL at least one content"


def test_partial_replay_is_idempotent(spark, tmp_path):
    feed = generate_feed(
        FeedConfig(n_events=300, n_initial_paths=60, toast_omit_prob=0.4)
    )
    pipeline, table, _ = make_pipeline(
        spark, tmp_path, partial_updates=True
    )
    load_snapshot(spark, pipeline, table, feed, tmp_path)
    raw = spark.createDataFrame(
        [(e["lsn"], e["txid"], e["payload"]) for e in feed.events],
        "lsn long, txid long, payload string",
    )
    r1 = pipeline.apply_batch(raw, epoch_id="batch-0")
    v1 = table.metadata()["version"]
    r2 = pipeline.apply_batch(raw, epoch_id="batch-0")  # crash replay
    assert r2["streams"][FQN]["skipped"] is True
    assert table.metadata()["version"] == v1
    _assert_partial_oracle(table, feed)
    assert r1["streams"][FQN]["partial"]["buckets"], "fill path exercised"


def test_unresolved_prior_image_is_counted(spark, tmp_path):
    """A partial U whose key has NO prior image anywhere (bookmark floor
    started mid-stream) keeps NULL and is counted — not silently
    invented."""
    pipeline, table, _ = make_pipeline(
        spark, tmp_path, partial_updates=True
    )
    payloads = [
        # no prior I anywhere for (r, orphan): content omitted
        _payload("U", "r", "orphan", commit="c9", lang="py", tags=None),
        _payload("I", "r", "whole", commit="c1", lang="py",
                 content="keep", tags=None),
    ]
    res = pipeline.apply_batch(_raw(spark, payloads), epoch_id="b0")
    info = res["streams"][FQN]["partial"]
    assert info["unresolved"] == 1
    rows = {r["path"]: r for r in table.read().collect()}
    assert rows["orphan"]["content"] is None
    assert rows["whole"]["content"] == "keep"


def test_clean_batch_passes_through_without_fill(spark, tmp_path):
    """A batch of full images never touches the fill path (no point
    read, empty bucket list) — the zero-overhead case for non-TOAST
    workloads."""
    pipeline, table, _ = make_pipeline(
        spark, tmp_path, partial_updates=True
    )
    payloads = [
        _payload("I", "r", "a", commit="c1", lang="py", content="X", tags=None),
        _payload("U", "r", "a", commit="c2", lang="py", content="Y", tags=None),
    ]
    res = pipeline.apply_batch(_raw(spark, payloads), epoch_id="b0")
    info = res["streams"][FQN]["partial"]
    assert info["buckets"] == []
    assert "unresolved" not in info
    row = table.read().collect()[0]
    assert row["content"] == "Y"


def test_partial_fold_plan_is_one_mapside_combined_shuffle(spark):
    """Plan pin: the per-column fold stays in the wholesale fold's cost
    class — ONE Exchange, with partial_max_by combine below it (a hot
    key's events pre-fold per map task before anything moves)."""
    stream = _stream()
    payloads = [
        _payload("I", "r", "a", commit="c1", lang="py", content="X", tags=None),
        _payload("U", "r", "a", commit="c2", lang="py", tags=None),
    ]
    classified = classify(parse_raw_payloads(_raw(spark, payloads)), [FQN])
    decoded = decode_stream(classified, stream, {}, with_mask=True)
    folded = fold_partial_lww(
        decoded, ["repo", "path"], data_columns(stream)
    )
    plan = folded._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    before_exchange = plan.split("Exchange")[1]
    assert "partial_max_by" in before_exchange


def test_partial_rejects_stream_maps(spark, tmp_path):
    with pytest.raises(ValueError, match="exclusive"):
        make_pipeline(
            spark,
            tmp_path,
            partial_updates=True,
            stream_maps={FQN: {"select": ["repo", "path"]}},
        )
