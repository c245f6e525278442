"""Singer-style CLI: ``python -m tap_postgres_spark``.

The reference's user surface is the Singer tap contract
(/root/reference/tap_postgres/tap.py:1-60 + README):

    tap-postgres --config config.json --discover > catalog.json
    tap-postgres --config config.json --catalog catalog.json \
                 --state state.json

This module re-creates that surface over the Spark engine: discovery
emits a Singer catalog document, sync emits SCHEMA/RECORD/STATE message
lines to stdout for FULL_TABLE / INCREMENTAL streams and runs the
WAL-feed replay pipeline for LOG_BASED streams.  State is the Singer
bookmark document (``{"bookmarks": {...}}`` — byte-compatible with
:class:`~tap_postgres_spark.state.StateStore`).

Config keys (JSON file passed via --config):

- ``source_dir``        parquet dataset dir (one ``<table>.parquet`` each)
- ``filter_tables``     optional table whitelist (client.py:180-193 analog)
- ``key_properties``    {table: [cols]} primary keys
- ``replication``       {table: {"method": ..., "key": ...}}
- ``wal_feed_dir`` / ``lake_dir`` / ``checkpoint_dir``  LOG_BASED replay dirs
- ``txn_boundary_dir``  defer uncommitted transactions across batches (modes/txn.py)
- ``snapshots_dir``     publish cross-table consistent snapshots per epoch (lake/snapshots.py)
- ``changefeed_dir``    re-publish each stream's changelog as a WAL feed per epoch (lake/changefeed.py)
- ``partial_updates``   fill TOAST-unchanged columns from the table's image (operators/partial.py)
- ``key_updates``       apply primary-key-changing UPDATEs as delete + insert
- ``spark``             {"master": "local[8]", "shuffle_partitions": N}

Stdout carries ONLY Singer messages (one JSON per line); diagnostics go
to stderr — the Singer pipe contract a downstream target depends on.
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Any

from pyspark.sql import SparkSession

from . import singer
from .catalog import apply_overrides, discover_parquet_dir, read_parquet
from .lake import LakeTable
from .modes.full_table import full_table_scan
from .modes.incremental import commit_bookmark, incremental_scan
from .modes.log_based import CdcPipeline
from .schema import StreamDef, widen_for_cdc
from .session import get_spark
from .state import StateStore


def catalog_dict(streams: list[StreamDef]) -> dict[str, Any]:
    """Singer catalog document (tap.py ``catalog_dict`` analog): one entry
    per stream with JSON-schema and stream-level metadata."""
    entries = []
    for s in streams:
        schema_msg = singer.schema_message(s)
        entries.append(
            {
                "tap_stream_id": s.fqn,
                "stream": s.table_name,
                "schema": schema_msg["schema"],
                "key_properties": list(s.key_properties),
                "metadata": [
                    {
                        "breadcrumb": [],
                        "metadata": {
                            "selected": True,
                            "schema-name": s.schema_name,
                            "replication-method": s.replication_method,
                            "replication-key": s.replication_key,
                        },
                    }
                ],
            }
        )
    return {"streams": entries}


def select_streams(
    streams: list[StreamDef], catalog: dict[str, Any]
) -> list[StreamDef]:
    """Apply a user catalog to discovered streams: drop unselected
    entries, honor replication-method/key/key_properties overrides
    (the reference's input-catalog precedence, tap.py:675-676)."""
    by_fqn = {}
    for e in catalog.get("streams", []):
        md = {}
        for m in e.get("metadata", []):
            if not m.get("breadcrumb"):
                md = m.get("metadata", {})
        by_fqn[e["tap_stream_id"]] = (e, md)
    out = []
    overrides: dict[str, dict[str, Any]] = {}
    for s in streams:
        got = by_fqn.get(s.fqn)
        if got is None:
            continue  # not in catalog → not selected
        e, md = got
        if not md.get("selected", True):
            continue
        o: dict[str, Any] = {}
        if md.get("replication-method"):
            o["replication_method"] = md["replication-method"]
        if md.get("replication-key"):
            o["replication_key"] = md["replication-key"]
        if e.get("key_properties"):
            o["key_properties"] = tuple(e["key_properties"])
        overrides[s.fqn] = o
        out.append(s)
    return apply_overrides(out, overrides)


def _spark(config: dict[str, Any]) -> SparkSession:
    sconf = config.get("spark", {})
    return get_spark(
        "tap-postgres-spark",
        cores=sconf.get("master", "local[8]"),
        shuffle_partitions=int(sconf.get("shuffle_partitions", 8)),
    )


def _discover(spark: SparkSession, config: dict[str, Any]) -> list[StreamDef]:
    return discover_parquet_dir(
        spark,
        config["source_dir"],
        filter_tables=config.get("filter_tables"),
        key_properties=config.get("key_properties"),
        replication=config.get("replication"),
    )


def _sync_log_based(
    spark: SparkSession,
    stream: StreamDef,
    config: dict[str, Any],
    state: StateStore,
    out,
) -> dict[str, Any]:
    """LOG_BASED sync = the flagship replay: available feed files →
    CdcPipeline → lake table; a STATE message carries the bookmarks."""
    from .streaming import StreamingCdcRunner

    lake_path = f"{config['lake_dir']}/{stream.table_name}"
    if LakeTable.exists(lake_path):
        table = LakeTable(spark, lake_path)
    else:
        table = LakeTable.create(
            spark,
            lake_path,
            widen_for_cdc(stream.spark_schema),
            list(stream.key_properties),
            num_buckets=int(config.get("num_buckets", 32)),
        )
    pipeline = CdcPipeline(
        spark,
        [stream],
        {stream.fqn: config.get("pg_types", {}).get(stream.table_name, {})},
        {stream.fqn: table},
        state,
        metrics_dir=f"{lake_path}/_metrics",
        dead_letter_dir=config.get("dead_letter_dir"),
        retention_keep_last=config.get("retention_keep_last"),
        txn_boundary_dir=config.get("txn_boundary_dir"),
        snapshots_dir=config.get("snapshots_dir"),
        changefeed_dir=config.get("changefeed_dir"),
        # TOAST-safe partial updates / key-changing UPDATEs (decode.py,
        # operators/partial.py) — real wal2json semantics under REPLICA
        # IDENTITY DEFAULT, opt-in per deployment
        partial_updates=bool(config.get("partial_updates", False)),
        key_updates=bool(config.get("key_updates", False)),
    )
    runner = StreamingCdcRunner(
        pipeline,
        config["wal_feed_dir"],
        f"{config['checkpoint_dir']}/{stream.table_name}",
        max_files_per_trigger=int(config.get("max_files_per_trigger", 32)),
    )
    results = runner.run_available_now()
    out.write(json.dumps(singer.state_message(state)) + "\n")
    applied = sum(
        m["n"] for r in results for m in r["metrics"] if m["_status"] == "ok"
    )
    return {"batches": len(results), "events_applied": applied,
            "table_version": table.current_version()}


def _mapped(df, smap, config, stream: StreamDef):
    """Apply a config stream map (filter / drop / computed columns) to the
    outgoing records — the SDK applies maps to every RECORD before
    emission (reference README.md:13,51-53).  Returns (mapped_df,
    stream-with-mapped-schema) so the SCHEMA message matches the RECORD
    shape."""
    if not smap:
        return df, stream
    from dataclasses import replace

    from . import stream_maps

    mapped = stream_maps.apply_stream_map(
        df, smap, config=config.get("stream_map_config", {})
    )
    return mapped, replace(stream, spark_schema=mapped.schema)


def sync(
    spark: SparkSession,
    streams: list[StreamDef],
    config: dict[str, Any],
    state: StateStore,
    out=sys.stdout,
) -> dict[str, Any]:
    summary: dict[str, Any] = {}
    for s in streams:
        if s.replication_method == "LOG_BASED":
            summary[s.fqn] = _sync_log_based(spark, s, config, state, out)
            continue
        source = read_parquet(spark, f"{config['source_dir']}/{s.table_name}.parquet")
        smap = config.get("stream_maps", {}).get(s.table_name)
        if s.replication_method == "INCREMENTAL":
            df = incremental_scan(
                source, s, state, start_value=config.get("start_date")
            )
            mdf, ms = _mapped(df, smap, config, s)
            n = singer.emit_stream(mdf, ms, out)
            commit_bookmark(df, s, state)
            out.write(json.dumps(singer.state_message(state)) + "\n")
        else:  # FULL_TABLE
            df = full_table_scan(source, s)
            mdf, ms = _mapped(df, smap, config, s)
            n = singer.emit_stream(mdf, ms, out)
        summary[s.fqn] = {"records": n}
    return summary


_CONFIG_KEYS = {
    "source_dir", "filter_tables", "key_properties", "replication",
    "wal_feed_dir", "lake_dir", "checkpoint_dir", "dead_letter_dir",
    "pg_types", "num_buckets", "max_files_per_trigger", "start_date",
    "stream_maps", "stream_map_config", "spark", "retention_keep_last",
    "txn_boundary_dir", "snapshots_dir", "changefeed_dir",
    "partial_updates", "key_updates",
}


def about() -> dict[str, Any]:
    """``--about`` document (reference README.md:66: settings +
    capabilities listing)."""
    return {
        "name": "tap-postgres-spark",
        "capabilities": [
            "catalog", "discover", "state", "stream-maps",
            "replication-methods: FULL_TABLE INCREMENTAL LOG_BASED",
            "exactly-once lake sink (idempotent MERGE + epoch dedup)",
            "schema evolution (additive)", "dead-letter quarantine",
            "snapshot-to-stream bootstrap", "timestamp time travel",
            "snapshot retention (expire_versions)",
            "incrementally-maintained derived tables",
            "partial updates (TOAST-unchanged columns)",
            "primary-key-changing updates",
        ],
        "settings": sorted(_CONFIG_KEYS),
    }


def validate_config(config: dict[str, Any]) -> None:
    """Fail fast on typo'd / missing settings (the SDK validates config
    against its declared JSON schema before running)."""
    unknown = set(config) - _CONFIG_KEYS
    if unknown:
        raise ValueError(f"unknown config keys: {sorted(unknown)}")
    if "source_dir" not in config:
        raise ValueError("config requires source_dir")


def _explain(query: str, sf_dir: str) -> int:
    """``--explain``: print the formatted physical plan of a named
    ``__spark_entry__`` query (the one-command plan audit — same
    rendering as ``tools/plan_report.py``, which writes EXPLAIN.md for
    the flagship paths)."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def _load(name: str, rel: str):
        spec = importlib.util.spec_from_file_location(name, os.path.join(repo, rel))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    entry = _load("entry", "__spark_entry__.py")
    queries = entry.queries()
    if query == "list":
        for name in queries:
            print(name)
        return 0
    if query not in queries:
        print(f"unknown query {query!r}; --explain list shows all", file=sys.stderr)
        return 2
    report = _load("plan_report", os.path.join("tools", "plan_report.py"))
    spark = get_spark("tps-explain", cores=8, shuffle_partitions=8)
    try:
        print(report.formatted(queries[query](spark, sf_dir)))
    finally:
        spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="python -m tap_postgres_spark")
    p.add_argument("--config")
    p.add_argument("--catalog")
    p.add_argument("--state")
    p.add_argument("--discover", action="store_true")
    p.add_argument("--about", action="store_true")
    p.add_argument(
        "--explain",
        metavar="QUERY",
        help="print the formatted physical plan of a named __spark_entry__ "
        "query ('list' enumerates); reads tables from --sf-dir",
    )
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = p.parse_args(argv)

    if args.explain:
        return _explain(args.explain, args.sf_dir)
    if args.about:
        json.dump(about(), sys.stdout, indent=2)
        sys.stdout.write("\n")
        return 0
    if not args.config:
        p.error("--config is required (except with --about)")
    with open(args.config) as f:
        config = json.load(f)
    validate_config(config)
    spark = _spark(config)
    try:
        streams = _discover(spark, config)
        if args.discover:
            json.dump(catalog_dict(streams), sys.stdout, indent=2)
            sys.stdout.write("\n")
            return 0
        if args.catalog:
            with open(args.catalog) as f:
                streams = select_streams(streams, json.load(f))
        if args.state:
            state_path = args.state
        else:
            # no --state: run stateless (reference behavior) — bookmarks
            # still stream to stdout as STATE messages; the backing file
            # is a throwaway temp
            import tempfile

            state_path = tempfile.mktemp(prefix="tap-postgres-spark-", suffix=".state.json")
        state = StateStore(state_path)
        summary = sync(spark, streams, config, state)
        print(json.dumps({"summary": summary}), file=sys.stderr)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
