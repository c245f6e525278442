"""Catalog discovery: inspect a data directory / lake and build StreamDefs.

Re-creates the reference's discovery flow (SURVEY.md §2.1 S1;
/root/reference/tap_postgres/tap.py:663-682 ``catalog_dict`` →
``discover_catalog_entries``; schema filtering client.py:180-193) against
the artifacts this engine reads: parquet datasets and LakeTables take the
place of Postgres schemas reflected over SQLAlchemy.

Like the reference, discovery output can be overridden by a user-supplied
catalog (tap.py:675-676): pass ``overrides`` keyed by FQN.

Like the reference's catalog, a dataset's schema is discovered once and
reused: :func:`read_parquet` memoizes Spark's inferred schema per file
version, so discovery, ``sync`` and the query builders run the
schema-inference job only the first time they read a file version.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .lake import LakeTable
from .plancache import memo
from .schema import StreamDef

# a flat directory with more files than this is not listed per read: the
# schema memo and the footer fast paths leave it to Spark
MAX_FLAT_FILES = 64

# the session confs that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def input_files(path: str) -> list[str] | None:
    """The files Spark reads behind a parquet path: the file itself, or
    the files of a flat directory, less the names Spark skips (a leading
    ``.``, or a leading ``_`` outside a ``k=v`` name).  None when the
    path is missing, or is a directory holding a subdirectory
    (partitioned) or more than ``MAX_FLAT_FILES`` files: file sets that
    a fast path must not vouch for, so its caller takes the Spark path."""
    if os.path.isfile(path):
        return [path]
    try:
        it = os.scandir(path)
    except OSError:
        return None
    files = []
    with it:
        for e in it:
            if e.name.startswith(".") or (e.name.startswith("_") and "=" not in e.name):
                continue
            if not e.is_file() or len(files) == MAX_FLAT_FILES:
                return None
            files.append(e.path)
    return sorted(files)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that runs the schema-inference job
    once per file version, not once per read.

    The schema is Spark's own inferred one, memoized (plancache.py) by
    every file's ``(path, size, mtime_ns, inode)`` and the session confs
    that change inference, then handed back as an explicit schema: a
    rewritten file or a flipped conf infers again, and the types are
    inference's by construction.  A path :func:`input_files` cannot
    list (missing, partitioned, too many files) is a plain read."""
    files = input_files(path)
    if not files:
        return spark.read.parquet(path)
    try:
        stats = [os.stat(f) for f in files]
    except OSError:  # a file went away since the listing
        return spark.read.parquet(path)
    version = tuple(
        (os.path.abspath(f), st.st_size, st.st_mtime_ns, st.st_ino)
        for f, st in zip(files, stats)
    )
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    schema = memo(
        ("read_parquet", version, confs),
        lambda: spark.read.parquet(path).schema,
    )
    return spark.read.schema(schema).parquet(path)


def discover_parquet_dir(
    spark: SparkSession,
    base_dir: str,
    *,
    schema_name: str = "public",
    filter_tables: Sequence[str] | None = None,
    key_properties: dict[str, Sequence[str]] | None = None,
    replication: dict[str, dict[str, Any]] | None = None,
) -> list[StreamDef]:
    """One StreamDef per ``<table>.parquet`` dataset under ``base_dir``.

    ``filter_tables`` is the ``filter_schemas`` analog (client.py:180-193):
    only matching table names are discovered.  ``key_properties`` /
    ``replication`` supply per-table catalog metadata the files cannot
    carry (≙ Singer catalog ``key_properties`` / ``replication-method``).
    """
    key_properties = key_properties or {}
    replication = replication or {}
    streams: list[StreamDef] = []
    for entry in sorted(os.listdir(base_dir)):
        if not entry.endswith(".parquet"):
            continue
        table = entry[: -len(".parquet")]
        if filter_tables is not None and table not in filter_tables:
            continue
        # Spark's inferred schema: one job per file version, memoized
        # for the reads that follow (sync, the query builders)
        schema = read_parquet(spark, os.path.join(base_dir, entry)).schema
        rep = replication.get(table, {})
        streams.append(
            StreamDef(
                schema_name=schema_name,
                table_name=table,
                spark_schema=schema,
                key_properties=tuple(key_properties.get(table, ())),
                replication_method=rep.get("method", "FULL_TABLE"),
                replication_key=rep.get("key"),
            )
        )
    return streams


def discover_lake_table(
    spark: SparkSession, path: str, *, schema_name: str = "public"
) -> StreamDef:
    """StreamDef from a LakeTable's own metadata (schema + key columns are
    authoritative there — the Iceberg-metadata analog)."""
    t = LakeTable(spark, path)
    meta = t.metadata()
    return StreamDef(
        schema_name=schema_name,
        table_name=os.path.basename(path.rstrip("/")),
        spark_schema=T.StructType.fromJson(meta["schema"]),
        key_properties=tuple(meta["key_columns"]),
        replication_method="LOG_BASED",
    )


def apply_overrides(
    streams: list[StreamDef], overrides: dict[str, dict[str, Any]]
) -> list[StreamDef]:
    """User-supplied catalog wins over discovery (tap.py:675-676):
    ``overrides[fqn]`` may set selected_columns, custom_where_clauses,
    max_record_count, replication method/key, key_properties."""
    out = []
    for s in streams:
        o = overrides.get(s.fqn)
        if not o:
            out.append(s)
            continue
        out.append(
            StreamDef(
                schema_name=s.schema_name,
                table_name=s.table_name,
                spark_schema=o.get("spark_schema", s.spark_schema),
                key_properties=tuple(o.get("key_properties", s.key_properties)),
                replication_method=o.get("replication_method", s.replication_method),
                replication_key=o.get("replication_key", s.replication_key),
                selected_columns=tuple(o.get("selected_columns", s.selected_columns)),
                custom_where_clauses=tuple(
                    o.get("custom_where_clauses", s.custom_where_clauses)
                ),
                max_record_count=o.get("max_record_count", s.max_record_count),
            )
        )
    return out
