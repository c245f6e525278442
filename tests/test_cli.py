"""Singer CLI surface (python -m tap_postgres_spark): discovery catalog,
catalog selection, FULL_TABLE / INCREMENTAL / LOG_BASED sync."""

from __future__ import annotations

import io
import json
import subprocess
import sys

from tap_postgres_spark.__main__ import catalog_dict, select_streams, sync
from tap_postgres_spark.catalog import discover_parquet_dir
from tap_postgres_spark.state import StateStore

SF = "/root/testdata/sf0.001"


def test_catalog_dict_and_selection(spark):
    streams = discover_parquet_dir(
        spark, SF, key_properties={"nation": ["n_nationkey"]},
        replication={"events": {"method": "INCREMENTAL", "key": "event_id"}},
    )
    cat = catalog_dict(streams)
    by_id = {e["tap_stream_id"]: e for e in cat["streams"]}
    assert "public.nation" in by_id and "public.events" in by_id
    assert by_id["public.nation"]["key_properties"] == ["n_nationkey"]
    md = by_id["public.events"]["metadata"][0]["metadata"]
    assert md["replication-method"] == "INCREMENTAL"
    assert md["replication-key"] == "event_id"
    # json-schema present per column
    assert "n_name" in by_id["public.nation"]["schema"]["properties"]

    # deselect everything except nation; override events off
    for e in cat["streams"]:
        e["metadata"][0]["metadata"]["selected"] = (
            e["tap_stream_id"] == "public.nation"
        )
    picked = select_streams(streams, cat)
    assert [s.fqn for s in picked] == ["public.nation"]


def test_sync_full_table_and_incremental(spark, tmp_path):
    streams = discover_parquet_dir(
        spark, SF, filter_tables=["region", "events"],
        key_properties={"region": ["r_regionkey"], "events": ["event_id"]},
        replication={"events": {"method": "INCREMENTAL", "key": "event_id"}},
    )
    state = StateStore(str(tmp_path / "state.json"))
    out = io.StringIO()
    summary = sync(spark, streams, {"source_dir": SF}, state, out=out)

    lines = [json.loads(l) for l in out.getvalue().splitlines()]
    types = [l["type"] for l in lines]
    # SCHEMA precedes RECORDs per stream; STATE follows the incremental one
    assert types[0] == "SCHEMA" and types.count("STATE") == 1
    n_region = spark.read.parquet(f"{SF}/region.parquet").count()
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert summary["public.region"]["records"] == n_region
    assert summary["public.events"]["records"] == n_events
    assert types.count("RECORD") == n_region + n_events

    # the STATE message carries the committed bookmark
    st = [l for l in lines if l["type"] == "STATE"][0]
    max_id = spark.read.parquet(f"{SF}/events.parquet").agg(
        {"event_id": "max"}
    ).first()[0]
    assert st["value"]["bookmarks"]["public.events"]["replication_key_value"] == max_id

    # second incremental run: bookmark >= max emits only the boundary row
    out2 = io.StringIO()
    ev_only = [s for s in streams if s.fqn == "public.events"]
    summary2 = sync(spark, ev_only, {"source_dir": SF}, state, out=out2)
    assert summary2["public.events"]["records"] == 1  # >= bookmark boundary


def test_sync_log_based_replay(spark, tmp_path):
    from tap_postgres_spark.feedgen import (
        PG_TYPES, FeedConfig, generate_feed, write_feed, write_snapshot,
    )

    feed = generate_feed(FeedConfig(n_events=200, n_initial_paths=30,
                                    evolution_at=2.0, n_numeric_empty=0))
    src = tmp_path / "src"
    src.mkdir()
    write_snapshot(feed, str(src / "source_code_repos.parquet"))
    write_feed(feed, str(tmp_path / "feed"))

    config = {
        "source_dir": str(src),
        "wal_feed_dir": str(tmp_path / "feed"),
        "lake_dir": str(tmp_path / "lake"),
        "checkpoint_dir": str(tmp_path / "ckpt"),
        "key_properties": {"source_code_repos": ["repo", "path"]},
        "replication": {"source_code_repos": {"method": "LOG_BASED"}},
        "pg_types": {"source_code_repos": dict(PG_TYPES)},
    }
    streams = discover_parquet_dir(
        spark, str(src),
        key_properties=config["key_properties"],
        replication=config["replication"],
    )
    # drop the snapshot-only 'stars' column absent from the WAL schema
    state = StateStore(str(tmp_path / "state.json"))
    out = io.StringIO()
    summary = sync(spark, streams, config, state, out=out)
    s = summary["public.source_code_repos"]
    assert s["events_applied"] > 0 and s["batches"] >= 1
    # STATE message emitted for the log-based stream
    lines = [json.loads(l) for l in out.getvalue().splitlines()]
    assert any(l["type"] == "STATE" for l in lines)
    # exactly-once: second invocation applies nothing new
    out2 = io.StringIO()
    summary2 = sync(spark, streams, config, state, out=out2)
    assert summary2["public.source_code_repos"]["events_applied"] == 0


def test_cli_discover_subprocess(tmp_path):
    cfg = tmp_path / "config.json"
    cfg.write_text(json.dumps({
        "source_dir": SF,
        "filter_tables": ["region", "nation"],
        "spark": {"master": "local[2]"},
    }))
    r = subprocess.run(
        [sys.executable, "-m", "tap_postgres_spark", "--config", str(cfg),
         "--discover"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    cat = json.loads(r.stdout)
    assert {e["stream"] for e in cat["streams"]} == {"region", "nation"}


def test_cli_session_comes_from_get_spark(monkeypatch):
    """The CLI's session is ``session.get_spark``'s, so CLI syncs get its
    defaults (UTC, AQE settings, driver heap sizing, the worker daemon
    module), with the config's master and shuffle width."""
    import tap_postgres_spark.__main__ as cli

    calls = []
    monkeypatch.setattr(
        cli, "get_spark", lambda *a, **kw: calls.append((a, kw)) or "session"
    )
    config = {"spark": {"master": "local[2]", "shuffle_partitions": 3}}
    assert cli._spark(config) == "session"
    assert cli._spark({}) == "session"
    assert calls == [
        (("tap-postgres-spark",), {"cores": "local[2]", "shuffle_partitions": 3}),
        (("tap-postgres-spark",), {"cores": "local[8]", "shuffle_partitions": 8}),
    ]


def test_sync_applies_stream_maps(spark, tmp_path):
    streams = discover_parquet_dir(
        spark, SF, filter_tables=["region"],
        key_properties={"region": ["r_regionkey"]},
    )
    state = StateStore(str(tmp_path / "state.json"))
    out = io.StringIO()
    config = {
        "source_dir": SF,
        "stream_maps": {"region": {"r_comment": None,
                                   "key2": "r_regionkey * 10"}},
    }
    sync(spark, streams, config, state, out=out)
    lines = [json.loads(l) for l in out.getvalue().splitlines()]
    schema = [l for l in lines if l["type"] == "SCHEMA"][0]
    rec = [l for l in lines if l["type"] == "RECORD"][0]
    # dropped column gone from BOTH schema and records; computed col present
    assert "r_comment" not in schema["schema"]["properties"]
    assert "key2" in schema["schema"]["properties"]
    assert rec["record"]["key2"] == rec["record"]["r_regionkey"] * 10
    assert "r_comment" not in rec["record"]


def test_about_and_config_validation():
    import pytest

    from tap_postgres_spark.__main__ import about, validate_config

    doc = about()
    assert "FULL_TABLE INCREMENTAL LOG_BASED" in " ".join(doc["capabilities"])
    assert "source_dir" in doc["settings"]
    validate_config({"source_dir": "/x"})
    with pytest.raises(ValueError, match="unknown config keys.*sourc_dir"):
        validate_config({"sourc_dir": "/x"})
    with pytest.raises(ValueError, match="requires source_dir"):
        validate_config({})
    # --about needs no config and no Spark
    r = subprocess.run(
        [sys.executable, "-m", "tap_postgres_spark", "--about"],
        capture_output=True, text=True, timeout=60, cwd="/root/repo",
    )
    assert r.returncode == 0 and json.loads(r.stdout)["name"] == "tap-postgres-spark"


def test_config_accepts_partial_and_key_updates():
    """``_sync_log_based`` reads ``partial_updates`` and ``key_updates``,
    so a config file may set them and ``--about`` lists them."""
    from tap_postgres_spark.__main__ import about, validate_config

    validate_config(
        {"source_dir": "/x", "partial_updates": True, "key_updates": True}
    )
    assert {"partial_updates", "key_updates"} <= set(about()["settings"])


def test_explain_list_subprocess():
    """--explain list enumerates every __spark_entry__ query without a
    SparkSession; an unknown name exits 2 with a hint."""
    r = subprocess.run(
        [sys.executable, "-m", "tap_postgres_spark", "--explain", "list"],
        capture_output=True, text=True, timeout=120, cwd="/root/repo",
    )
    assert r.returncode == 0
    names = r.stdout.split()
    assert "q5_nation_volume" in names and len(names) >= 70
    r2 = subprocess.run(
        [sys.executable, "-m", "tap_postgres_spark", "--explain", "nope"],
        capture_output=True, text=True, timeout=120, cwd="/root/repo",
    )
    assert r2.returncode == 2 and "unknown query" in r2.stderr


def test_sync_log_based_partial_and_key_updates_config(spark, tmp_path):
    """The partial_updates / key_updates config keys plumb through sync()
    to the pipeline: a TOAST-omitting + renaming feed converges to the
    per-column oracle (content survives omission; old keys absent)."""
    from tap_postgres_spark.feedgen import (
        PG_TYPES, FeedConfig, generate_feed, oracle_apply, write_feed,
        write_snapshot,
    )

    feed = generate_feed(
        FeedConfig(
            n_events=200, n_initial_paths=30, evolution_at=2.0,
            n_numeric_empty=0, toast_omit_prob=0.4, n_key_updates=5,
        )
    )
    src = tmp_path / "src"
    src.mkdir()
    write_snapshot(feed, str(src / "source_code_repos.parquet"))
    write_feed(feed, str(tmp_path / "feed"))
    config = {
        "source_dir": str(src),
        "wal_feed_dir": str(tmp_path / "feed"),
        "lake_dir": str(tmp_path / "lake"),
        "checkpoint_dir": str(tmp_path / "ckpt"),
        "key_properties": {"source_code_repos": ["repo", "path"]},
        "replication": {"source_code_repos": {"method": "LOG_BASED"}},
        "pg_types": {"source_code_repos": dict(PG_TYPES)},
        "partial_updates": True,
        "key_updates": True,
    }
    streams = discover_parquet_dir(
        spark, str(src),
        key_properties=config["key_properties"],
        replication=config["replication"],
    )

    # FULL_TABLE bootstrap into the lake first (lsn 0 — any WAL event
    # outranks snapshot rows), as a real deployment would, so partial
    # fills of snapshot-era values have a prior image to read
    from pyspark.sql import functions as F

    from tap_postgres_spark.lake import LakeTable
    from tap_postgres_spark.schema import widen_for_cdc

    stream = next(s for s in streams if s.table_name == "source_code_repos")
    table = LakeTable.create(
        spark,
        str(tmp_path / "lake" / "source_code_repos"),
        widen_for_cdc(stream.spark_schema),
        list(stream.key_properties),
        num_buckets=8,
    )
    snap = (
        spark.read.parquet(str(src / "source_code_repos.parquet"))
        .withColumn("_sdc_lsn", F.lit(0).cast("long"))
        .withColumn("_sdc_deleted_at", F.lit(None).cast("string"))
    )
    table.overwrite(snap, epoch_id="snapshot")

    state = StateStore(str(tmp_path / "state.json"))
    summary = sync(spark, streams, config, state, out=io.StringIO())
    assert summary["public.source_code_repos"]["events_applied"] > 0
    expected = oracle_apply(feed, partial=True)
    got = {(r["repo"], r["path"]): r for r in table.read().collect()}
    assert set(got) == set(expected)  # renames applied, no ghosts
    mismatch = [
        k for k, e in expected.items() if got[k]["content"] != e["content"]
    ]
    assert not mismatch  # TOAST omission never NULLed a stored value
