"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is an operator from SURVEY.md §2 (CDC engine
semantics, run over the driver's `events` table) or a training-data
pipeline operator (dedup / similarity / text analysis over `documents` /
`embeddings`), each with an exact DuckDB oracle in ``oracle_sql()``.

Hash-dependent operators (minhash, simhash, fingerprint) use the shared
md5-derived 60-bit hash (tap_postgres_spark.functions.md5_60bit) so Spark
and DuckDB agree bit-for-bit; their SQL is generated from the SAME
constants the Spark implementation uses.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_postgres_spark import pipelineops, stream_maps, textops, vectorops
from tap_postgres_spark.catalog import input_files, read_parquet
from tap_postgres_spark.modes import full_table_scan, incremental_scan
from tap_postgres_spark.operators import fold_last_writer_wins_agg
from tap_postgres_spark.operators.temporal import asof_join, range_join
from tap_postgres_spark.schema import StreamDef
from tap_postgres_spark.textops import _hash_family, _MERSENNE

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------
def _pin_session(spark: SparkSession) -> None:
    """The driver runs these callables in ITS session.  Timestamp-NTZ →
    timestamp casts are session-timezone dependent; pin UTC (and
    permissive casts) so results match the DuckDB oracle regardless of
    the host session's defaults."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    except Exception:
        pass  # fine if the conf is locked — no oracle query needs it


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    return _fan_out(
        spark, read_parquet(spark, f"{sf_dir}/events.parquet"),
        path=f"{sf_dir}/events.parquet",
    )


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    try:
        v = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    if v.endswith("b"):
        v = v[:-1]
    mult = 1
    for suf, m in (("k", 1024), ("m", 1024**2), ("g", 1024**3)):
        if v.endswith(suf):
            v, mult = v[:-1], m
            break
    try:
        return int(v) * mult
    except ValueError:
        return default


def _scan_splits_estimate(spark: SparkSession, files: list[str]) -> int:
    """Spark's FilePartition packing formula over the file sizes — the
    split count the scan will get, WITHOUT df.rdd.getNumPartitions()
    (which forces a JVM RDD conversion, measured 60-700 ms per call ×
    ~100 calls per sweep).  Only feeds the fan-out *decision*, so an
    off-by-a-few estimate near the threshold costs at most one
    unnecessary (or missed) repartition of a small scan."""
    sizes = [os.path.getsize(f) for f in files]
    maxpb = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024**2)
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 * 1024**2)
    p = spark.sparkContext.defaultParallelism
    total = sum(sizes) + open_cost * len(sizes)
    max_split = min(maxpb, max(open_cost, total // max(p, 1)))
    est, cur = 0, 0
    for s in sizes:
        while s > max_split:  # parquet splits at max_split boundaries
            est += 1
            s -= max_split
        cost = s + open_cost
        if cur + cost > max_split and cur > 0:
            est += 1
            cur = 0
        cur += cost
    return max(est + (1 if cur > 0 else 0), 1)


def _fan_out(spark: SparkSession, df: DataFrame, path: str | None = None) -> DataFrame:
    """Widen tiny scans to the session's parallelism.  The sf0.01/sf0.1
    tables are single-row-group parquet files → ONE scan split, which
    serializes every CPU-heavy per-row expression (measured: the md5
    char-gram sketch at sf0.1 dropped 3.2 s → 0.4 s on local[32] after
    fan-out).  Gated on the split count so it is a no-op at real scale —
    a 100-TB table scans as thousands of splits and must NOT pay a
    whole-corpus shuffle here.  With ``path`` given and listable
    (``catalog.input_files``) the split count is estimated from file
    sizes (no JVM round trip); the estimate only drives this performance
    decision, never row placement."""
    p = spark.sparkContext.defaultParallelism
    files = input_files(path) if path is not None else None
    splits = (
        _scan_splits_estimate(spark, files)
        if files
        else df.rdd.getNumPartitions()
    )
    if splits < p:
        return df.repartition(p)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    return _fan_out(
        spark, read_parquet(spark, f"{sf_dir}/documents.parquet"),
        path=f"{sf_dir}/documents.parquet",
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    return _fan_out(
        spark, read_parquet(spark, f"{sf_dir}/embeddings.parquet"),
        path=f"{sf_dir}/embeddings.parquet",
    )


def _parquet_footer_max(path: str, column: str):
    """Exact max(column) from parquet footer row-group statistics — the
    same value a Spark ``agg(max(column))`` job computes, read in ~1 ms
    instead of a scan+shuffle job.  Returns None (caller falls back to
    the Spark job) when any row group lacks min/max stats, or when
    ``catalog.input_files`` will not list the path (missing, partitioned,
    more than ``MAX_FLAT_FILES`` files), so a partial max never passes."""
    import pyarrow.parquet as pq

    files = input_files(path)
    if not files:
        return None
    mx = None
    for fp in files:
        try:
            md = pq.ParquetFile(fp).metadata
        except Exception:
            return None
        try:
            idx = [md.schema.column(i).name for i in range(md.num_columns)].index(
                column
            )
        except ValueError:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            mx = st.max if mx is None else max(mx, st.max)
    return mx


def _parquet_num_rows(path: str):
    """Exact row count from parquet footers (no Spark job); None, as in
    :func:`_parquet_footer_max`, for a path ``catalog.input_files`` will
    not list."""
    import pyarrow.parquet as pq

    files = input_files(path)
    if not files:
        return None
    try:
        return sum(pq.ParquetFile(fp).metadata.num_rows for fp in files)
    except Exception:
        return None


def _half_max_event_id(spark: SparkSession, sf_dir: str, ev: DataFrame) -> int:
    """The two-epoch split point max(event_id)/2 used by the lake-pipeline
    drills, from footer stats when available (saves one scan+shuffle job
    per drill; the value is bit-identical to the Spark agg)."""
    mx = _parquet_footer_max(f"{sf_dir}/events.parquet", "event_id")
    if mx is None:
        return int(ev.agg((F.max("event_id") / 2).cast("long")).first()[0])
    return int(mx / 2)


_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# the events stream registered as a CDC-style StreamDef (events ≙ WAL feed;
# user_id ≙ key; ts ≙ LSN ordering; event_type 'error' ≙ delete marker)
_EVENTS_STREAM = StreamDef(
    schema_name="public",
    table_name="events",
    spark_schema=_EVENTS_SCHEMA,
    key_properties=("user_id",),
    replication_method="INCREMENTAL",
    replication_key="ts",
)

_BOOKMARK_TS = "2024-01-15 00:00:00"  # mid-range of the events feed
_ROUTABLE = ("click", "view", "purchase")


# ---------------------------------------------------------------------------
# CDC-operator queries (SURVEY.md §2) over `events`
# ---------------------------------------------------------------------------
def q_full_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 + P1/P2: FULL_TABLE scan with projection + custom WHERE clauses
    (AND-combined), Catalyst-pushed to the parquet scan."""
    stream = StreamDef(
        schema_name="public",
        table_name="events",
        spark_schema=_EVENTS_SCHEMA,
        key_properties=("event_id",),
        replication_method="FULL_TABLE",
        custom_where_clauses=("event_type = 'purchase'", "value > 50"),
        selected_columns=("event_id", "user_id", "value"),
    )
    return full_table_scan(_events(spark, sf_dir), stream)


def q_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: INCREMENTAL scan — replication_key >= bookmark; NULL keys
    excluded when a bookmark exists.  Timestamps exposed as epoch micros
    for engine-neutral comparison."""
    out = incremental_scan(
        _events(spark, sf_dir), _EVENTS_STREAM, state=None, start_value=_BOOKMARK_TS
    )
    return out.select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"), "user_id", "event_type", "value"
    )


def q_event_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/F4 analog: JSON payload decode to typed columns (`props.k`)."""
    return _events(spark, sf_dir).select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


def q_lww_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6: last-writer-wins fold — one row per key, ordered by the
    (ts, event_id) total order (≙ (lsn, txid)).  Only the output's
    columns enter the fold: its winner struct carries every non-key
    column, so column pruning cannot narrow the scan below it."""
    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    latest = fold_last_writer_wins_agg(ev, ["user_id"], ("ts_us", "event_id"))
    return latest.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 analog: apply the event stream as a keyed upsert with deletes —
    final state per user_id; users whose last event is 'error' (the
    delete marker) are absent."""
    latest = q_lww_latest(spark, sf_dir)
    return latest.filter(F.col("last_event_type") != "error").select(
        "user_id", "last_event_id", F.col("last_value").alias("value")
    )


def q_order_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order delivery monitor (batch-window twin of the
    applyInPandasWithState streaming operator): per user, events whose
    event_id is below the running max over previously-ARRIVED events.
    Arrival order is a deterministic md5 pseudo-shuffle of event_id so
    the operator sees genuine regressions on the monotone test feed."""
    from tap_postgres_spark.functions import md5_60bit
    from tap_postgres_spark.streaming.stateful import monotonicity_violations

    _pin_session(spark)
    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", md5_60bit(F.col("event_id")).alias("arr")
    )
    return monotonicity_violations(ev, "user_id", "event_id", "arr")


def q_lake_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental changelog read over the REAL LakeTable: events applied
    in two merge epochs split at the median event_id; read_changes after
    the first returns the second epoch's per-key folded upserts +
    tombstones without scanning the base (lake/table.py read_changes —
    Iceberg incremental-scan parity)."""
    import tempfile

    from pyspark.sql import types as T

    from tap_postgres_spark.lake import LakeTable
    from tap_postgres_spark.schema import widen_for_cdc

    _pin_session(spark)
    ev = _events(spark, sf_dir)
    h = _half_max_event_id(spark, sf_dir, ev)
    schema = widen_for_cdc(
        T.StructType(
            [
                T.StructField("user_id", T.LongType(), False),
                T.StructField("value", T.DoubleType(), True),
            ]
        )
    )

    def as_batch(df: DataFrame) -> DataFrame:
        is_del = F.col("event_type") == "error"
        return df.select(
            F.col("user_id"),
            F.when(is_del, F.lit(None)).otherwise(F.col("value")).alias("value"),
            F.col("event_id").alias("_sdc_lsn"),
            F.when(is_del, F.lit("2024-01-01T00:00:00Z"))
            .otherwise(F.lit(None).cast("string"))
            .alias("_sdc_deleted_at"),
        )

    d = tempfile.mkdtemp(prefix="tps-changelog-")
    tbl = LakeTable.create(spark, f"{d}/t", schema, ["user_id"], num_buckets=8)
    tbl.merge_into(as_batch(ev.filter(F.col("event_id") <= h)), epoch_id="c1")
    v1 = tbl.current_version()
    tbl.merge_into(as_batch(ev.filter(F.col("event_id") > h)), epoch_id="c2")
    return tbl.read_changes(v1).select(
        "user_id",
        "value",
        "_sdc_lsn",
        F.col("_sdc_deleted_at").isNotNull().alias("deleted"),
    )


def q_merge_partial_toast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOAST-safe partial updates (operators/partial.py) through the REAL
    pipeline: events become wal2json payloads where U events
    deterministically OMIT columns (v when event_id%3==0, w when
    event_id%5==0) — wal2json's unchanged-TOAST omission under REPLICA
    IDENTITY DEFAULT.  Replayed in TWO batches split at the median
    event_id so the cross-batch fill point-read executes, not just the
    in-batch per-column fold.  Final state per user = per-COLUMN LWW:
    each column's value from the latest event that carried it.  Deletes
    = event_type 'error'; the first event per user and the first after
    a delete are full-image INSERTs (the Postgres invariant: an UPDATE
    never follows a DELETE without an INSERT between)."""
    import tempfile

    from pyspark.sql import types as T

    from tap_postgres_spark.lake import LakeTable
    from tap_postgres_spark.modes.log_based import CdcPipeline
    from tap_postgres_spark.schema import widen_for_cdc
    from tap_postgres_spark.state import StateStore

    _pin_session(spark)
    w_user = Window.partitionBy("user_id").orderBy("event_id")
    ev = (
        _events(spark, sf_dir)
        .select(
            "user_id", "event_id", "event_type", "value",
            F.length("props").cast("long").alias("w"),
        )
        .withColumn(
            "action",
            F.when(F.col("event_type") == "error", F.lit("D"))
            .when(
                F.lag("event_type").over(w_user).isNull()
                | (F.lag("event_type").over(w_user) == "error"),
                F.lit("I"),
            )
            .otherwise(F.lit("U")),
        )
        .withColumn(
            "has_v",
            (F.col("action") == "I") | (F.col("event_id") % 3 != 0),
        )
        .withColumn(
            "has_w",
            (F.col("action") == "I") | (F.col("event_id") % 5 != 0),
        )
    )

    def entry(name: str, pg: str, val) -> Column:
        return F.struct(
            F.lit(name).alias("name"),
            F.lit(pg).alias("type"),
            val.cast("string").alias("value"),
        )

    empty = F.array().cast(
        "array<struct<name:string,type:string,value:string>>"
    )
    key_entry = F.array(entry("user_id", "int8", F.col("user_id")))
    cols_arr = F.concat(
        key_entry,
        F.when(F.col("has_v"), F.array(entry("v", "float8", F.col("value"))))
        .otherwise(empty),
        F.when(F.col("has_w"), F.array(entry("w", "int8", F.col("w"))))
        .otherwise(empty),
    )
    payload = F.to_json(
        F.struct(
            F.col("action"),
            F.lit("public").alias("schema"),
            F.lit("toast_rows").alias("table"),
            F.when(F.col("action") != "D", cols_arr).alias("columns"),
            F.when(F.col("action") == "D", key_entry).alias("identity"),
        )
    )
    feed = ev.select(
        F.col("event_id").alias("lsn"),
        F.lit(1).cast("long").alias("txid"),
        payload.alias("payload"),
    )

    schema = widen_for_cdc(
        T.StructType(
            [
                T.StructField("user_id", T.LongType(), False),
                T.StructField("v", T.DoubleType(), True),
                T.StructField("w", T.LongType(), True),
            ]
        )
    )
    stream = StreamDef(
        schema_name="public",
        table_name="toast_rows",
        spark_schema=schema,
        key_properties=("user_id",),
    )
    d = tempfile.mkdtemp(prefix="tps-toast-")
    table = LakeTable.create(
        spark, f"{d}/t", schema, ["user_id"], num_buckets=8
    )
    pipeline = CdcPipeline(
        spark,
        [stream],
        {"public.toast_rows": {"user_id": "int8", "v": "float8", "w": "int8"}},
        {"public.toast_rows": table},
        StateStore(f"{d}/state.json"),
        detect_evolution=False,
        partial_updates=True,
    )
    h = _half_max_event_id(spark, sf_dir, ev)
    # persist the feed: both epochs re-scan it, and rebuilding it costs
    # two window shuffles + a to_json pass per scan (guide §2.4 — one
    # materialization instead of two recomputes)
    feed = feed.persist()
    pipeline.apply_batch(feed.filter(F.col("lsn") <= h), epoch_id="t1")
    pipeline.apply_batch(feed.filter(F.col("lsn") > h), epoch_id="t2")
    feed.unpersist()
    # integer fixed-point outputs (driver-hash parity: no doubles)
    return table.read().select(
        "user_id",
        F.col("_sdc_lsn").alias("last_event_id"),
        F.round(F.col("v") * 100).cast("long").alias("v_cents"),
        F.col("w").alias("w_last"),
    )


def q_merge_key_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key-changing UPDATEs (decode.py key_updates) through the
    REAL pipeline: each user's LAST event, when its event_id % 7 == 0 and
    it is not a delete, becomes a rename U — identity = the OLD user_id,
    columns = the full row under user_id + 10^7 (wal2json attaches
    identity to U exactly when replica-identity columns changed).  The
    engine must emit tombstone(old key) + upsert(new key) from the ONE
    event; the reference ignores identity on U (client.py:556-562) and
    would leave a ghost row.  Renames are single-hop and terminal per
    user, so the oracle is plain SQL.  Two batches split at the median
    event_id."""
    import tempfile

    from pyspark.sql import types as T

    from tap_postgres_spark.lake import LakeTable
    from tap_postgres_spark.modes.log_based import CdcPipeline
    from tap_postgres_spark.schema import widen_for_cdc
    from tap_postgres_spark.state import StateStore

    _pin_session(spark)
    w_user = Window.partitionBy("user_id").orderBy("event_id")
    w_last = Window.partitionBy("user_id")
    ev = (
        _events(spark, sf_dir)
        .select(
            "user_id", "event_id", "event_type", "value",
            F.length("props").cast("long").alias("w"),
        )
        .withColumn(
            "action",
            F.when(F.col("event_type") == "error", F.lit("D"))
            .when(
                F.lag("event_type").over(w_user).isNull()
                | (F.lag("event_type").over(w_user) == "error"),
                F.lit("I"),
            )
            .otherwise(F.lit("U")),
        )
        .withColumn(
            "rename",
            (F.col("event_id") == F.max("event_id").over(w_last))
            & (F.col("event_id") % 7 == 0)
            & (F.col("action") != "D"),
        )
    )

    def entry(name: str, pg: str, val) -> Column:
        return F.struct(
            F.lit(name).alias("name"),
            F.lit(pg).alias("type"),
            val.cast("string").alias("value"),
        )

    out_uid = F.when(
        F.col("rename"), F.col("user_id") + F.lit(10_000_000)
    ).otherwise(F.col("user_id"))
    cols_arr = F.array(
        entry("user_id", "int8", out_uid),
        entry("v", "float8", F.col("value")),
        entry("w", "int8", F.col("w")),
    )
    ident_arr = F.array(entry("user_id", "int8", F.col("user_id")))
    payload = F.to_json(
        F.struct(
            F.when(F.col("rename"), F.lit("U")).otherwise(F.col("action")).alias("action"),
            F.lit("public").alias("schema"),
            F.lit("rekey_rows").alias("table"),
            F.when(F.col("action") != "D", cols_arr).alias("columns"),
            F.when(
                (F.col("action") == "D") | F.col("rename"), ident_arr
            ).alias("identity"),
        )
    )
    feed = ev.select(
        F.col("event_id").alias("lsn"),
        F.lit(1).cast("long").alias("txid"),
        payload.alias("payload"),
    )

    schema = widen_for_cdc(
        T.StructType(
            [
                T.StructField("user_id", T.LongType(), False),
                T.StructField("v", T.DoubleType(), True),
                T.StructField("w", T.LongType(), True),
            ]
        )
    )
    stream = StreamDef(
        schema_name="public",
        table_name="rekey_rows",
        spark_schema=schema,
        key_properties=("user_id",),
    )
    d = tempfile.mkdtemp(prefix="tps-rekey-")
    table = LakeTable.create(
        spark, f"{d}/t", schema, ["user_id"], num_buckets=8
    )
    pipeline = CdcPipeline(
        spark,
        [stream],
        {"public.rekey_rows": {"user_id": "int8", "v": "float8", "w": "int8"}},
        {"public.rekey_rows": table},
        StateStore(f"{d}/state.json"),
        detect_evolution=False,
        key_updates=True,
    )
    h = _half_max_event_id(spark, sf_dir, ev)
    # persist the feed: both epochs re-scan it (two window shuffles + a
    # to_json pass per rebuild otherwise — guide §2.4)
    feed = feed.persist()
    pipeline.apply_batch(feed.filter(F.col("lsn") <= h), epoch_id="k1")
    pipeline.apply_batch(feed.filter(F.col("lsn") > h), epoch_id="k2")
    feed.unpersist()
    return table.read().select(
        "user_id",
        F.col("_sdc_lsn").alias("last_event_id"),
        F.round(F.col("v") * 100).cast("long").alias("v_cents"),
        F.col("w").alias("w_last"),
    )


def q_derived_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained derived table (lake/derived.py): a base
    CDC table is built in two merge epochs split at the median event_id;
    a derived table (value doubled per key) is BOOTSTRAPPED after epoch
    one and then REFRESHED from the changelog only — epoch two's keys
    are the only rows transformed/merged.  Final derived state must
    equal a full recompute of the base head (the oracle)."""
    import tempfile

    from pyspark.sql import types as T

    from tap_postgres_spark.lake import LakeTable
    from tap_postgres_spark.lake.derived import bootstrap_derived, refresh_derived
    from tap_postgres_spark.schema import widen_for_cdc

    _pin_session(spark)
    ev = _events(spark, sf_dir)
    h = _half_max_event_id(spark, sf_dir, ev)
    schema = widen_for_cdc(
        T.StructType(
            [
                T.StructField("user_id", T.LongType(), False),
                T.StructField("value", T.DoubleType(), True),
            ]
        )
    )

    def as_batch(df: DataFrame) -> DataFrame:
        is_del = F.col("event_type") == "error"
        return df.select(
            F.col("user_id"),
            F.when(is_del, F.lit(None)).otherwise(F.col("value")).alias("value"),
            F.col("event_id").alias("_sdc_lsn"),
            F.when(is_del, F.lit("2024-01-01T00:00:00Z"))
            .otherwise(F.lit(None).cast("string"))
            .alias("_sdc_deleted_at"),
        )

    def xform(df: DataFrame) -> DataFrame:
        return df.select(
            "user_id", "_sdc_lsn",
            F.round(F.col("value") * 2, 6).alias("value_x2"),
        )

    d = tempfile.mkdtemp(prefix="tps-derived-")
    base = LakeTable.create(spark, f"{d}/base", schema, ["user_id"], num_buckets=8)
    base.merge_into(as_batch(ev.filter(F.col("event_id") <= h)), epoch_id="d1")
    derived = bootstrap_derived(spark, base, f"{d}/derived", xform)
    base.merge_into(as_batch(ev.filter(F.col("event_id") > h)), epoch_id="d2")
    refresh_derived(base, derived, xform)
    return derived.read().select("user_id", "value_x2", "_sdc_lsn")


def q_aggregate_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate view (lake/aggview.py): a base CDC table is
    built in two merge epochs split at the median event_id; the view
    (per-event-type COUNT/SUM/AVG over live users) is BOOTSTRAPPED after
    epoch one and then delta-REFRESHED from the changelog only — O(the
    second epoch's keys), never a rescan of the base.  Final contents
    must equal a full GROUP BY of the base head (the oracle)."""
    import tempfile

    from pyspark.sql import types as T

    from tap_postgres_spark.lake import LakeTable
    from tap_postgres_spark.lake.aggview import (
        Agg,
        bootstrap_aggregate_view,
        read_aggregate_view,
        refresh_aggregate_view,
    )
    from tap_postgres_spark.schema import widen_for_cdc

    _pin_session(spark)
    ev = _events(spark, sf_dir)
    h = _half_max_event_id(spark, sf_dir, ev)
    schema = widen_for_cdc(
        T.StructType(
            [
                T.StructField("user_id", T.LongType(), False),
                T.StructField("etype", T.StringType(), True),
                T.StructField("value", T.DoubleType(), True),
            ]
        )
    )

    def as_batch(df: DataFrame) -> DataFrame:
        is_del = F.col("event_type") == "error"
        return df.select(
            F.col("user_id"),
            F.col("event_type").alias("etype"),
            F.when(is_del, F.lit(None)).otherwise(F.col("value")).alias("value"),
            F.col("event_id").alias("_sdc_lsn"),
            F.when(is_del, F.lit("2024-01-01T00:00:00Z"))
            .otherwise(F.lit(None).cast("string"))
            .alias("_sdc_deleted_at"),
        )

    aggs = [
        Agg("count", None, "n_users"),
        Agg("sum", "value", "sum_value"),
        Agg("avg", "value", "avg_value"),
        Agg("count_col", "value", "n_values"),
    ]
    d = tempfile.mkdtemp(prefix="tps-aggview-")
    # 4 buckets: this drill is commit-count-bound at test scale (6 table
    # commits), so bucket width sets the per-commit task/file count
    base = LakeTable.create(spark, f"{d}/base", schema, ["user_id"], num_buckets=4)
    base.merge_into(as_batch(ev.filter(F.col("event_id") <= h)), epoch_id="a1")
    view = bootstrap_aggregate_view(spark, base, f"{d}/view", ["etype"], aggs)
    base.merge_into(as_batch(ev.filter(F.col("event_id") > h)), epoch_id="a2")
    refresh_aggregate_view(base, view, aggs)
    out = read_aggregate_view(view, aggs)
    return out.select(
        "etype",
        "n_users",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("avg_value", 4).alias("avg_value"),
        "n_values",
    )


def q_bootstrap_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot→stream handoff over the REAL LakeTable + bootstrap API
    (modes/bootstrap.py): a consistent snapshot of the events-derived
    keyed state at LSN h (median event_id) is bootstrapped with
    ``snapshot_lsn=h``, then the WAL tail replays from the handed-off
    bookmark; LWW resolves the overlap.  Final state must equal a full
    replay — rows untouched after h keep the snapshot stamp h."""
    import tempfile

    from tap_postgres_spark.lake import LakeTable
    from tap_postgres_spark.modes.bootstrap import bootstrap_snapshot
    from tap_postgres_spark.schema import widen_for_cdc
    from tap_postgres_spark.state import StateStore

    _pin_session(spark)
    ev = _events(spark, sf_dir)
    h = _half_max_event_id(spark, sf_dir, ev)
    snap = (
        ev.filter(F.col("event_id") <= h)
        .groupBy("user_id")
        .agg(
            F.max_by("value", "event_id").alias("value"),
            F.max_by("event_type", "event_id").alias("_lt"),
        )
        .filter(F.col("_lt") != "error")
        .drop("_lt")
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    stream = StreamDef(
        schema_name="public",
        table_name="events_state",
        spark_schema=schema,
        key_properties=("user_id",),
    )
    d = tempfile.mkdtemp(prefix="tps-bootstrap-")
    tbl = LakeTable.create(
        spark, f"{d}/t", widen_for_cdc(schema), ["user_id"], num_buckets=8
    )
    state = StateStore(f"{d}/state.json")
    bootstrap_snapshot(snap, stream, tbl, state, snapshot_lsn=h)

    is_del = F.col("event_type") == "error"
    tail = ev.filter(F.col("event_id") >= state.bookmark(stream.fqn)).select(
        "user_id",
        F.when(is_del, F.lit(None)).otherwise(F.col("value")).alias("value"),
        F.col("event_id").alias("_sdc_lsn"),
        F.when(is_del, F.lit("2024-01-01T00:00:00Z"))
        .otherwise(F.lit(None).cast("string"))
        .alias("_sdc_deleted_at"),
    )
    tbl.merge_into(tail, epoch_id="tail")
    return tbl.read().select("user_id", "value", "_sdc_lsn")


def q_bookmark_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3: forward-only max bookmark per stream (per event_type)."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.max("event_id").alias("max_event_id"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("bookmark_us"),
            F.count("*").alias("n_events"),
        )
    )


def q_routing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1/A4: route-by-type with unroutable counter."""
    status = (
        F.when(F.col("event_type").isin(*_ROUTABLE), F.lit("ok"))
        .otherwise(F.lit("unroutable"))
        .alias("status")
    )
    return (
        _events(spark, sf_dir)
        .select("event_type", status)
        .groupBy("event_type", "status")
        .agg(F.count("*").alias("n"))
    )


def q_bookmark_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/J2: per-stream LSN filter via broadcast-joined bookmark table —
    bookmarks derived from the first half of the feed (event_id < median
    proxy 500000 is sf-dependent; use max(event_id)/2 computed in-plan)."""
    ev = _events(spark, sf_dir).withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    half = ev.agg((F.max("event_id") / 2).cast("long").alias("h"))
    bookmarks = (
        ev.join(F.broadcast(half))
        .filter(F.col("event_id") <= F.col("h"))
        .groupBy("event_type")
        .agg(F.max("ts_us").alias("bm"))
    )
    return (
        ev.join(F.broadcast(bookmarks), "event_type")
        .filter(F.col("ts_us") >= F.col("bm"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_after_bookmark"))
    )


# ---------------------------------------------------------------------------
# Relational coverage (scan/join/agg/window/top-k)
# ---------------------------------------------------------------------------
def q_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_session(spark)
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q_q5_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join where customer and supplier must share a
    nation, restricted to one region.  Scale story: the three dimension
    tables (region→nation→customer/supplier) are broadcast — the only
    shuffle is lineitem⋈orders on orderkey; the region predicate prunes
    through the broadcast chain before any fact rows move."""
    _pin_session(spark)
    region = read_parquet(spark, f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "ASIA"
    )
    nation = read_parquet(spark, f"{sf_dir}/nation.parquet")
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    supp = read_parquet(spark, f"{sf_dir}/supplier.parquet")
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    dim = (
        nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select("n_nationkey", "n_name")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(supp),
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(F.broadcast(dim), supp["s_nationkey"] == dim["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


def q_event_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 beyond-reference breadth: CUBE rollup over (event_type,
    user bucket) — all four grouping-set levels in one pass (Spark plans
    an Expand + single hash aggregate, not four scans).  GROUPING()
    indicators disambiguate the NULL-as-total rows from genuine NULL
    group values, keeping the DuckDB comparison exact."""
    ev = _events(spark, sf_dir).select(
        "event_type", (F.col("user_id") % 4).alias("ub"), "value"
    )
    return ev.cube("event_type", "ub").agg(
        F.grouping("event_type").alias("g_type"),
        F.grouping("ub").alias("g_ub"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    _pin_session(spark)
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Text / dedup over `documents`
# ---------------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.dedup_exact(_docs(spark, sf_dir))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", textops.token_count(F.col("text")).cast("long").alias("n_tokens")
    )


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.quality_features(_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("q_chars").cast("long").alias("q_chars"),
        F.col("q_tokens").cast("long").alias("q_tokens"),
        "q_punct_ratio",
        "q_stopword_ratio",
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.lang_id(_docs(spark, sf_dir)).select("doc_id", "lang_pred")


def q_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier score (fixed documented weights) + keep
    decision — the fastText-style filter shape over the standard
    feature set; raw logit only, so both engines compare exact
    polynomials."""
    return pipelineops.quality_logit(_docs(spark, sf_dir))


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance sampling: keep probability proportional
    to document length (capped at 1) — the data-mixing primitive."""
    docs = _docs(spark, sf_dir).withColumn(
        "_w", F.least(F.col("n_chars") / F.lit(2000.0), F.lit(1.0))
    )
    return pipelineops.weighted_sample(docs, "_w").select("doc_id", "n_chars")


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture table: per (lang, source) doc counts, token sums,
    and token fraction — the statistics a data-mixing scheduler sets
    sampling weights from."""
    return pipelineops.mixture_weights(_docs(spark, sf_dir))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", textops.fingerprint(F.col("text")).alias("fp")
    )


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex pre-tokenizer count (letters runs / single digits /
    punctuation) — the budget metric, alongside whitespace token_count."""
    return _docs(spark, sf_dir).select(
        "doc_id", textops.token_count_bpe(F.col("text")).cast("long").alias("n_bpe")
    )


def q_chargram_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint: bottom-8 sketch of char-5-gram hashes,
    rendered as a canonical comma-joined string."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            ",", textops.chargram_sketch(F.col("text"), k=5, sketch_size=8)
        ).alias("sketch"),
    )


_MH_HASHES = 8
_MH_BANDS = 4
_SH_K = 3
_SIMHASH_BITS = 32
_MAX_HAMMING = 3
# hot-bucket guard for the LSH pair join — exercised in the driver query
# AND replicated in the DuckDB oracle (a HAVING over bucket counts)
_MH_MAX_BUCKET = 64


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.minhash_signatures(
        _docs(spark, sf_dir), num_hashes=_MH_HASHES, shingle_k=_SH_K
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.minhash_lsh_pairs(
        _docs(spark, sf_dir), num_hashes=_MH_HASHES, bands=_MH_BANDS,
        shingle_k=_SH_K, max_bucket_size=_MH_MAX_BUCKET,
    )


# demo cap for the oversized-bucket enumerator: band buckets max out at 4
# docs at sf0.01, so a cap of 3 makes the enumerator return real rows
_MH_DEMO_CAP = 3


def q_minhash_lsh_oversized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'No silent caps' enumerator for the MinHash-LSH guard: the (band,
    key) buckets a cap of ``_MH_DEMO_CAP`` would drop from the pair join."""
    return textops.minhash_lsh_oversized_buckets(
        _docs(spark, sf_dir), num_hashes=_MH_HASHES, bands=_MH_BANDS,
        shingle_k=_SH_K, max_bucket_size=_MH_DEMO_CAP,
    )


def q_minhash_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup (round 4): NEW documents (doc_id % 10
    == 0) probe a PREBUILT banded-signature index over the corpus (the
    other 90%) — textops.probe_minhash_index, the O(|new|) half of
    dedup against a 10^10-doc corpus.  The index side never shuffles
    (probe side broadcast); the hot-bucket cap is evaluated over
    matched buckets only.  In production the index is the `minhash`
    derived table maintained off the CDC changelog
    (tools/submit_derived.py)."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    index = textops.minhash_banded(
        corpus, num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_k=_SH_K
    )
    return textops.probe_minhash_index(
        index, new, num_hashes=_MH_HASHES, bands=_MH_BANDS,
        shingle_k=_SH_K, max_bucket_size=_MH_MAX_BUCKET,
    ).select("probe_doc_id", F.col("doc_id").alias("corpus_doc_id"))


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram overlap matrix (round 4): distinct token-
    3-gram digests shared by each source pair — the provenance audit
    run before mixing corpora.  One gram-digest groupBy (collect_set
    bounded by |sources|), pair expansion as an array expression, NO
    digest self-join; the oracle deliberately uses the self-join shape
    as an independent implementation."""
    return pipelineops.source_overlap(_docs(spark, sf_dir), k=3)


def q_minhash_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup materializer: documents surviving MinHash-LSH dedup
    (pair losers dropped; oversized-bucket members deduped by the
    keep-lowest-id-per-bucket rule) — the keep-list a training pipeline
    would feed downstream."""
    return textops.minhash_dedup_keep(
        _docs(spark, sf_dir), num_hashes=_MH_HASHES, bands=_MH_BANDS,
        shingle_k=_SH_K, max_bucket_size=_MH_MAX_BUCKET,
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.simhash(_docs(spark, sf_dir), bits=_SIMHASH_BITS)


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.simhash_neardup_pairs(
        _docs(spark, sf_dir), bits=_SIMHASH_BITS, max_hamming=_MAX_HAMMING
    )


# ---------------------------------------------------------------------------
# Similarity search over `embeddings`
# ---------------------------------------------------------------------------
def _emb_lookup(sf_dir: str, vec_ids: list[int]) -> dict[int, list[float]] | None:
    """Point-read embedding rows straight off the parquet file (pyarrow,
    row-group pruned) — the values are bit-identical to a Spark
    filter+collect, without paying a scan+shuffle job per query vector.
    Returns None on any surprise (caller falls back to the Spark job)."""
    import pyarrow.parquet as pq

    files = input_files(f"{sf_dir}/embeddings.parquet")
    if not files:
        return None
    try:
        out: dict[int, list[float]] = {}
        for fp in files:
            t = pq.read_table(
                fp,
                columns=["vec_id", "embedding"],
                filters=[("vec_id", "in", list(vec_ids))],
            )
            for i, v in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist()):
                out[int(i)] = [float(x) for x in v]
        return out if len(out) == len(set(vec_ids)) else None
    except Exception:
        return None


def _emb_lowest(sf_dir: str, k: int) -> list[tuple[int, list[float]]] | None:
    """The k lowest-id (vec_id, embedding) rows straight off parquet —
    exactly what ``orderBy(vec_id).limit(k).collect()`` returns, without
    the TakeOrdered job.  Only the ``vec_id`` column is read in full; the
    k embeddings come through the row-group-pruned :func:`_emb_lookup`.
    None on any surprise, duplicate ids included (caller falls back)."""
    import heapq

    import pyarrow.parquet as pq

    files = input_files(f"{sf_dir}/embeddings.parquet")
    if not files:
        return None
    try:
        ids = heapq.nsmallest(
            k,
            (
                int(i)
                for fp in files
                for i in pq.read_table(fp, columns=["vec_id"])["vec_id"].to_pylist()
            ),
        )
        if len(set(ids)) != k:
            return None
        hit = _emb_lookup(sf_dir, ids)
        return None if hit is None else [(i, hit[i]) for i in ids]
    except Exception:
        return None


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    hit = _emb_lookup(sf_dir, [vec_id])
    if hit is not None:
        return hit[vec_id]
    row = _emb(spark, sf_dir).filter(F.col("vec_id") == vec_id).collect()[0]
    return list(row["embedding"])


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _query_vec(spark, sf_dir, 0)
    return vectorops.cosine_topk(_emb(spark, sf_dir), q, k=10, round_to=4)


def q_neardup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vectorops.neardup_pairs_blocked(
        _emb(spark, sf_dir), block_col="label", threshold=0.30, round_to=4
    )


# LSH constants shared by the Spark queries and the SQL oracles
_LSH_DIM = 64
_ND_PLANES = 6
_ND_SEEDS = (7, 13, 29, 41)
_ND_THRESHOLD = 0.35
# hot-bucket guard on the embedding-LSH pair join: 16 ≈ 2× the target
# bucket size, binds on several buckets at sf0.01 (max observed 18), so
# the guard is exercised by the driver query and replicated in the
# DuckDB oracle
_ND_MAX_BUCKET = 16
_TOPK_PLANES = 4
_TOPK_SEED = 7


def _emb_count(spark: SparkSession, sf_dir: str, emb: DataFrame) -> int:
    """Corpus size for the scale-adaptive LSH width, from parquet footer
    row counts (saves a count job per query; identical value)."""
    n = _parquet_num_rows(f"{sf_dir}/embeddings.parquet")
    return int(n) if n is not None else emb.count()


def _nd_planes(n: int) -> int:
    """Scale-adaptive hash-table width: target ~8 vectors per bucket per
    table (planes = ceil(log2(n/8)), floor ``_ND_PLANES``) — the knob a
    100-TB corpus turns so expected bucket size stays constant as n
    grows, instead of letting every bucket blow past the hot-bucket cap.
    At the driver's correctness scale (sf0.01, n=500) this is exactly
    ``_ND_PLANES`` = 6, the constant the static oracle SQL inlines."""
    import math

    return max(_ND_PLANES, math.ceil(math.log2(max(n / 8.0, 2.0))))


def q_neardup_embeddings_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path near-dup: hyperplane-LSH bucket blocking (bounded
    block sizes by construction) instead of the data-column blocking of
    ``neardup_embeddings``; hot buckets above the cap are excluded from
    the pair join (enumerable via ``neardup_lsh_oversized``)."""
    emb = _emb(spark, sf_dir)
    return vectorops.neardup_pairs_lsh(
        emb, dim=_LSH_DIM, threshold=_ND_THRESHOLD,
        n_planes=_nd_planes(_emb_count(spark, sf_dir, emb)), seeds=_ND_SEEDS, round_to=4,
        max_bucket_size=_ND_MAX_BUCKET,
    )


def q_neardup_lsh_oversized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'No silent caps' enumerator: the (table, bucket) cells the
    hot-bucket guard dropped from the embedding-LSH pair join."""
    emb = _emb(spark, sf_dir)
    return vectorops.lsh_oversized_buckets(
        emb, dim=_LSH_DIM,
        n_planes=_nd_planes(_emb_count(spark, sf_dir, emb)), seeds=_ND_SEEDS,
        max_bucket_size=_ND_MAX_BUCKET,
    )


def q_emb_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup dedup keep-list: pair losers drop, capped-bucket
    members dedup by keep-lowest-id-per-bucket — the embedding analog of
    ``minhash_dedup_docs``."""
    emb = _emb(spark, sf_dir)
    return vectorops.neardup_dedup_keep(
        emb, dim=_LSH_DIM, threshold=_ND_THRESHOLD,
        n_planes=_nd_planes(_emb_count(spark, sf_dir, emb)), seeds=_ND_SEEDS, round_to=4,
        max_bucket_size=_ND_MAX_BUCKET,
    )


def q_lsh_bucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _query_vec(spark, sf_dir, 0)
    return vectorops.lsh_bucket_topk(
        _emb(spark, sf_dir), q, k=10,
        n_planes=_TOPK_PLANES, seed=_TOPK_SEED, round_to=4,
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard verify stage over the LSH candidate pairs."""
    docs = _docs(spark, sf_dir)
    pairs = textops.minhash_lsh_pairs(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS,
        shingle_k=_SH_K, max_bucket_size=_MH_MAX_BUCKET,
    )
    return textops.ngram_jaccard(docs, pairs, shingle_k=_SH_K)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    cids = [0, 50, 100, 150]
    rows = _emb_lookup(sf_dir, cids)
    if rows is None:
        rows = {r["vec_id"]: list(r["embedding"]) for r in emb.filter(
            F.col("vec_id").isin(cids)
        ).collect()}
    centroids = [(cid, rows[cid]) for cid in cids]
    q = _query_vec(spark, sf_dir, 7)
    return vectorops.ivf_topk(emb, q, centroids, k=10, n_probe=1, round_to=4)


_KM_K = 4
_KM_ITER = 2
_KM_ROUND = 6


def q_ivf_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over TRAINED centroids (deterministic Lloyd k-means,
    VERDICT round-1 item #8) instead of caller-supplied ones."""
    emb = _emb(spark, sf_dir)
    cents = vectorops.train_centroids(
        emb, k=_KM_K, n_iter=_KM_ITER, round_to=_KM_ROUND,
        n_rows=_emb_count(spark, sf_dir, emb),
    )
    q = _query_vec(spark, sf_dir, 7)
    return vectorops.ivf_topk(
        emb, q, cents, k=10, n_probe=1, round_to=4, assign_round_to=_KM_ROUND
    )


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 ANN: top-10 by cosine over int8-quantized vectors (scales
    cancel — pure integer dot products, exact in double on both
    engines)."""
    q = _query_vec(spark, sf_dir, 0)
    return vectorops.quantized_topk(_emb(spark, sf_dir), q, k=10, round_to=6)


# binary-rerank constants shared with the SQL oracle
_HAM_PLANES = 24
_HAM_SEED = 11
_HAM_SHORTLIST = 64


def q_ann_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-signature ANN: hamming-distance shortlist over 24-plane
    sign signatures, exact cosine rerank of the 64 survivors."""
    q = _query_vec(spark, sf_dir, 0)
    return vectorops.hamming_rerank_topk(
        _emb(spark, sf_dir), q, k=10,
        shortlist=_HAM_SHORTLIST, n_planes=_HAM_PLANES, seed=_HAM_SEED,
        round_to=4,
    )


_PQ_M = 8
_PQ_K = 16
_PQ_ENC_ROUND = 6


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance scoring: 64-dim
    float32 → 8 one-byte codes (32× compression); scoring reads codes
    only, via per-subspace lookup tables against the full-precision
    query."""
    emb = _emb(spark, sf_dir)
    cbs = vectorops.pq_codebooks(
        emb, m=_PQ_M, k=_PQ_K, seed_rows=_emb_lowest(sf_dir, _PQ_K)
    )
    q = _query_vec(spark, sf_dir, 0)
    return vectorops.pq_adc_topk(
        emb, q, cbs, k=10, encode_round_to=_PQ_ENC_ROUND, round_to=4
    )


_SD_THRESHOLD = 0.3


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup survivors: k-means clusters block the pairwise cosine
    comparison; the higher id of every within-cluster pair above the
    threshold drops.  Same trained centroids as ivf_topk_trained."""
    emb = _emb(spark, sf_dir)
    return vectorops.semantic_dedup(
        emb, k=_KM_K, n_iter=_KM_ITER,
        threshold=_SD_THRESHOLD, assign_round_to=_KM_ROUND, round_to=6,
        n_rows=_emb_count(spark, sf_dir, emb),
    )


_SD_MAXC = 125  # recursive-dedup cluster cap: sf0.01 level-0 sizes are
# (119, 115, 140, 126), so TWO clusters recurse — the depth-2 path is
# genuinely exercised by the driver gate, not just structurally present


def q_semantic_dedup_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive SemDeDup (round-4 'no silent caps' completion): clusters
    over the cap are re-clustered with a fresh per-subset Lloyd training
    and pairwise-compared at depth 2 instead of skipped.  Oracle = the
    same two levels unrolled as SQL CTE chains."""
    emb = _emb(spark, sf_dir)
    return vectorops.semantic_dedup_recursive(
        emb, k=_KM_K, n_iter=_KM_ITER,
        threshold=_SD_THRESHOLD, assign_round_to=_KM_ROUND, round_to=6,
        max_cluster_size=_SD_MAXC, max_depth=2,
        n_rows=_emb_count(spark, sf_dir, emb),
    )


def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN: coarse quantizer prunes to 1 of 4 cells (a
    partition-prunable predicate at scale), then survivors are scored
    from 8 one-byte PQ codes via asymmetric-distance lookup tables —
    the production shape where search reads n_probe/k_cells of the
    data and m bytes per survivor."""
    emb = _emb(spark, sf_dir)
    cids = [0, 50, 100, 150]
    rows = _emb_lookup(sf_dir, cids)
    if rows is None:
        rows = {r["vec_id"]: list(r["embedding"]) for r in emb.filter(
            F.col("vec_id").isin(cids)
        ).collect()}
    centroids = [(cid, rows[cid]) for cid in cids]
    cbs = vectorops.pq_codebooks(
        emb, m=_PQ_M, k=_PQ_K, seed_rows=_emb_lowest(sf_dir, _PQ_K)
    )
    q = _query_vec(spark, sf_dir, 7)
    return vectorops.ivf_pq_topk(
        emb, q, centroids, cbs, k=10, n_probe=1,
        encode_round_to=_PQ_ENC_ROUND, round_to=4,
    )


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KNN join: 3 query vectors x whole corpus, top-5 each —
    broadcast query side, vectors pruned before the per-query ranking
    shuffle (only id/id/score triples move)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return vectorops.knn_join(queries, emb, k=5, round_to=4)


def q_singer_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Singer RECORD rendering (the reference's stdout message stream,
    tap.py:784-797) — executor-side to_json, one message line per row."""
    from tap_postgres_spark import singer

    nation = read_parquet(spark, os.path.join(sf_dir, "nation.parquet"))
    stream = StreamDef("public", "nation", nation.schema, ("n_nationkey",))
    return singer.record_messages(nation, stream)


def q_stream_map_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-map + schema-flattening surface (reference README.md:13-14):
    row filter with config interpolation, PII-style column drop, computed
    column, and nested-JSON flattening to props__k — all one projection."""
    ev = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    nested = ev.withColumn("props", F.from_json("props", "k int"))
    mapped = stream_maps.apply_stream_map(
        nested,
        {
            "__filter__": "event_type <> {drop_type}",
            "ts": None,
            "value": None,
            "value_cents": "CAST(floor(value * 100) AS BIGINT)",
        },
        config={"drop_type": "view"},
    )
    return stream_maps.flatten(mapped, max_depth=1)


def q_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing over text-as-bytes (no binary test table in
    the driver set): byte length + sha256 without decoding."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("long").alias("n_bytes"),
        F.sha2(F.col("text"), 256).alias("content_sha256"),
    )


def q_multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END binary decode: deterministic PCM samples → real RIFF/WAV
    bytes (multimodal.encode_wav) → real parser (multimodal.decode_wav via
    the mapInPandas decode stage) → audio features.  The oracle computes
    the same features straight from the sample formula, so any encoder or
    parser bug breaks the match."""
    import pandas as pd

    from tap_postgres_spark import multimodal

    docs = _docs(spark, sf_dir).select("doc_id")

    def _mk(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "audio",
                    "mime": "audio/wav",
                    "data": pdf["doc_id"].map(
                        lambda i: multimodal.encode_wav(
                            multimodal.synth_samples(int(i))
                        )
                    ),
                }
            )

    wav = docs.mapInPandas(
        _mk, schema="media_id long, kind string, mime string, data binary"
    )
    dec = multimodal.decode_media(wav)
    return dec.select(
        "media_id",
        "n_samples",
        "sample_rate",
        "duration_ms",
        F.round("mean_sample", 6).alias("mean_sample"),
        F.round("rms", 6).alias("rms"),
    )


def q_multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END image decode: deterministic RGB pixels → real PNG bytes
    (stdlib zlib, CRC'd chunks) → real parser (multimodal.decode_png via
    the mapInPandas decode stage) → dimensions + channel means.  The
    oracle computes the same stats straight from the pixel formula
    ((id*31 + p*97) % 256), so any encoder, inflate, unfilter or parser
    bug breaks the match."""
    import pandas as pd

    from tap_postgres_spark import multimodal

    docs = _docs(spark, sf_dir).select("doc_id")

    def _mk(batches):
        for pdf in batches:
            def one(i: int) -> bytes:
                w, h = 8 + (i % 8) * 4, 8 + (i % 5) * 4
                return multimodal.encode_png(w, h, multimodal.synth_pixels(i, w, h))

            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "image",
                    "mime": "image/png",
                    "data": pdf["doc_id"].map(lambda i: one(int(i))),
                }
            )

    png = docs.mapInPandas(
        _mk, schema="media_id long, kind string, mime string, data binary"
    )
    dec = multimodal.decode_media(png)
    return dec.select(
        "media_id",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


def q_multimodal_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END video decode: deterministic luma frames → real YUV4MPEG2
    bytes (multimodal.encode_y4m) → real parser (multimodal.decode_y4m via
    the mapInPandas decode stage) → stream stats.  The oracle computes the
    same stats straight from the pixel formula ((id*31 + f*17 + p*97) %
    256), so any encoder, header, frame-walk or stats bug breaks the
    match."""
    import pandas as pd

    from tap_postgres_spark import multimodal

    docs = _docs(spark, sf_dir).select("doc_id")

    def _mk(batches):
        for pdf in batches:
            def one(i: int) -> bytes:
                w, h = 8 + (i % 4) * 4, 8 + (i % 3) * 4
                nf = 2 + i % 3
                return multimodal.encode_y4m(
                    w, h, multimodal.synth_frames(i, w, h, nf)
                )

            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "video",
                    "mime": "video/x-yuv4mpeg",
                    "data": pdf["doc_id"].map(lambda i: one(int(i))),
                }
            )

    vid = docs.mapInPandas(
        _mk, schema="media_id long, kind string, mime string, data binary"
    )
    dec = multimodal.decode_media(vid)
    return dec.select(
        "media_id",
        "width",
        "height",
        F.col("n_samples").alias("n_frames"),
        "duration_ms",
        F.round("mean_sample", 6).alias("mean_luma"),
        F.round("rms", 6).alias("rms_luma"),
    )


# ---------------------------------------------------------------------------
# pipeline operators (round 3): sessionization, window rollups, repetition /
# TF-IDF / vocabulary stats, PII scrubbing, chunking, corpus anti-join,
# label centroids — tap_postgres_spark.pipelineops
# ---------------------------------------------------------------------------
_SESSION_GAP_S = 4 * 3600
_ROLLUP_WINDOW_S = 86_400
_TFIDF_TOP_N = 5
_VOCAB_TOP_N = 50
_CHUNK_TOKENS = 32
_CHUNK_OVERLAP = 8


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → dedup groups: connected components (min-label propagation)
    over the MinHash-LSH near-dup pairs."""
    pairs = textops.minhash_lsh_pairs(
        _docs(spark, sf_dir), num_hashes=_MH_HASHES, bands=_MH_BANDS,
        shingle_k=_SH_K, max_bucket_size=_MH_MAX_BUCKET,
    )
    return pipelineops.neardup_clusters(pairs)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: per-language concat-then-split shard
    assignment at a 256-token budget."""
    return pipelineops.pack_sequences(_docs(spark, sf_dir), budget_tokens=256)


_DECON_K = 8
_DECON_BENCH_MOD = 50  # every 50th doc plays the "benchmark" set


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any 8-token shingle with
    the benchmark subset (doc_id % 50 == 0), with distinct-overlap
    counts — the GPT-3/PaLM n-gram collision rule."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % _DECON_BENCH_MOD == 0)
    return pipelineops.decontaminate(docs, bench, shingle_k=_DECON_K)


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram token entropy per document (perplexity-proxy quality
    signal)."""
    return pipelineops.token_entropy(_docs(spark, sf_dir))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event stream (4 h gap)."""
    return pipelineops.sessionize(_events(spark, sf_dir), gap_s=_SESSION_GAP_S)


def q_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling daily window aggregate by event type."""
    return pipelineops.window_rollup(
        _events(spark, sf_dir), window_s=_ROLLUP_WINDOW_S
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document."""
    return pipelineops.repetition_stats(_docs(spark, sf_dir))


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (smoothed idf, deterministic ties)."""
    df = pipelineops.tfidf_top_terms(_docs(spark, sf_dir), top_n=_TFIDF_TOP_N)
    return df.select(
        "doc_id", F.col("rk").cast("long").alias("rk"), "term", "tf", "score"
    )


def q_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 terms by frequency."""
    return pipelineops.vocab_top(_docs(spark, sf_dir), n=_VOCAB_TOP_N)


def _with_pii(docs: DataFrame) -> DataFrame:
    """Deterministically inject PII spans (emails / IPs / phone numbers)
    keyed on doc_id — the synthetic corpus has none, and the oracle
    replays the identical injection, so scan/redact bugs break the match."""
    did = F.col("doc_id")
    text2 = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" contact u"), did.cast("string"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" host 10.0."), (did % 256).cast("string"), F.lit(".1")
            ),
        ).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit(" call +555 123-4567")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", text2.alias("text"))


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII hit counts over the injected-PII corpus."""
    return pipelineops.pii_scan(_with_pii(_docs(spark, sf_dir)))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the injected-PII corpus (string equality with
    the oracle's RE2 replacement — any span/ordering bug mismatches)."""
    return pipelineops.pii_redact(_with_pii(_docs(spark, sf_dir)))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-token chunks with 8-token overlap — training-shard splitting."""
    df = pipelineops.chunk_documents(
        _docs(spark, sf_dir),
        chunk_tokens=_CHUNK_TOKENS,
        overlap=_CHUNK_OVERLAP,
    )
    return df.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        "chunk_text",
    )


def q_dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup: documents whose content hash is absent
    from the even-doc_id half of the corpus (the 'already ingested' set)."""
    docs = _docs(spark, sf_dir)
    corpus = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    return pipelineops.dedup_against_corpus(docs, corpus).select("doc_id")


def q_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length distribution with exact percentiles."""
    return pipelineops.length_stats(_docs(spark, sf_dir), group_col="lang")


_MIX_TARGETS = {"en": 0.4, "fr": 0.25, "de": 0.25}  # es/zh dropped


def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data mixer: per-language keep-probability
    min(1, target_token_frac / current_token_frac), decided by the
    key-hash uniform — composed from mixture stats + weighted_sample."""
    return pipelineops.build_training_mix(
        _docs(spark, sf_dir), _MIX_TARGETS
    ).select("doc_id", "lang")


def q_frequent_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level frequent 3-grams (boilerplate/template detector):
    phrases in ≥ 5 distinct documents, with doc and occurrence counts."""
    return pipelineops.frequent_ngrams(_docs(spark, sf_dir), k=3, min_docs=5)


def q_length_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass Greenwald-Khanna percentile sketch (the 10^10-doc scale
    path of length_stats); exact below the accuracy bound, so the
    quantile_disc oracle matches bit-for-bit at this sf."""
    return pipelineops.length_stats_approx(_docs(spark, sf_dir), group_col="lang")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% hash sample of the corpus."""
    return pipelineops.stratified_sample(_docs(spark, sf_dir), pct=10).select(
        "doc_id", "lang", "source"
    )


def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap: at most 10 docs per source, hash-rank selected —
    the web-pipeline guard against one crawled domain dominating the
    mix; salted two-stage rank so a hot domain can't funnel through one
    task."""
    return pipelineops.cap_per_source(_docs(spark, sf_dir), cap=10).select(
        "doc_id", "source"
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding in (label, dim, centroid) row form."""
    df = pipelineops.label_centroids(_emb(spark, sf_dir), dim=_LSH_DIM)
    return df.select(
        "label", F.col("dim").cast("long").alias("dim"), "centroid"
    )


_CURATE_CAP = 20  # per-source cap in the composed curation query


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED curation pipeline (round 4): quality gate → exact
    dedup → MinHash near-dup dedup → benchmark decontamination →
    per-source cap → mixture downsampling → sequence packing, end to
    end in one declarative plan (curation.curate_corpus) — the job a
    training-data team actually runs.  Every stage is an
    individually-oracled operator; this query pins the COMPOSITION
    (stage order, id-only keep/drop joins, no text reshuffles) against
    a single stitched DuckDB CTE chain."""
    from tap_postgres_spark import curation

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % _DECON_BENCH_MOD == 0)
    return curation.curate_corpus(
        docs, bench,
        num_hashes=_MH_HASHES, bands=_MH_BANDS, shingle_k=_SH_K,
        decon_shingle_k=_DECON_K, cap=_CURATE_CAP,
        mix_targets=_MIX_TARGETS, pack_budget=256,
    ).select(
        "doc_id", "lang", "source",
        F.col("n_tokens").cast("long").alias("n_tokens"), "shard_seq",
    )


def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event picks up the user's most recent
    purchase value at or before the click (backward inclusive), via the
    segmented hot-key-safe plan (operators/temporal.py).  Right side is
    pre-aggregated to one row per (user_id, ts) with an event_id
    tie-break, per the operator's determinism contract."""
    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("pval"))
    )
    out = asof_join(
        clicks, purchases, ["user_id"], "ts", "ts", {"pval": "last_purchase_value"},
        chunk_seconds=7 * 86400.0,
    )
    return out.select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "last_purchase_value",
    )


def q_asof_forward_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click picks up the user's NEXT purchase
    value at or after the click — the backward machinery on negated
    time (operators/temporal.py)."""
    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("pval"))
    )
    out = asof_join(
        clicks, purchases, ["user_id"], "ts", "ts",
        {"pval": "next_purchase_value"},
        direction="forward", chunk_seconds=7 * 86400.0,
    )
    return out.select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "next_purchase_value",
    )


def q_range_join_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: lineitems whose extended price falls within ±5 of an
    order's total price, counted per order — bucket-blocked so Catalyst
    plans a hash join instead of the BroadcastNestedLoopJoin the raw
    non-equi predicate forces (operators/temporal.py)."""
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_extendedprice", "l_quantity"
    )
    bands = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        (F.col("o_totalprice") - 5).alias("lo"),
        (F.col("o_totalprice") + 5).alias("hi"),
    )
    j = range_join(
        _fan_out(spark, li), bands, "l_extendedprice", "lo", "hi",
        bucket_width=10.0,
        max_span_buckets=None,  # ±5 bands are known-bounded: pure hash plan
    )
    return j.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_close"),
        F.round(F.sum("l_quantity"), 2).alias("qty_close"),
    )


# ---------------------------------------------------------------------------
# entry / queries / oracle_sql
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: LWW fold of the event stream into latest-state-per-key —
    the CDC apply semantics on sf0.001."""
    return q_merge_apply(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING = driver-certification rotation (documented at the end of
    # SURVEY.md).  The driver's CORRECTNESS window covers the FIRST 50
    # entries only, so each round the front of this dict holds, in order:
    # (a) entries never driver-certified, (b) entries whose output
    # changed since their last certification, (c) entries last certified
    # in an older round (rotating back in), then everything certified in
    # the immediately previous round.  r05 window: 4 never-certified +
    # 4 changed to integer fixed-point this round + new r05 entries +
    # the 28 r03-certified rows rotated out of the r04 window.
    return {
        # --- (a0) new in round 5: never driver-certified ---
        "merge_partial_toast": q_merge_partial_toast,
        "merge_key_updates": q_merge_key_updates,
        # --- (a) never driver-certified (added late in round 4) ---
        "curate_corpus": q_curate_corpus,
        "asof_join_events": q_asof_join_events,
        "asof_forward_events": q_asof_forward_events,
        "range_join_prices": q_range_join_prices,
        # --- (b) output changed this round (doubles → integer
        #     fixed-point: cents / parts-per-million) ---
        "sessionize": q_sessionize,
        "token_entropy": q_token_entropy,
        "mixture_weights": q_mixture_weights,
        "window_rollup": q_window_rollup,
        # --- (c) last certified in CORRECTNESS_r03; rotate back in ---
        "chargram_sketch": q_chargram_sketch,
        "minhash_signature": q_minhash_signature,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "minhash_lsh_oversized": q_minhash_lsh_oversized,
        "minhash_dedup_docs": q_minhash_dedup_docs,
        "simhash": q_simhash,
        "simhash_neardup": q_simhash_neardup,
        "cosine_topk": q_cosine_topk,
        "neardup_embeddings": q_neardup_embeddings,
        "neardup_embeddings_lsh": q_neardup_embeddings_lsh,
        "neardup_lsh_oversized": q_neardup_lsh_oversized,
        "emb_dedup_docs": q_emb_dedup_docs,
        "lsh_bucket_topk": q_lsh_bucket_topk,
        "ngram_jaccard": q_ngram_jaccard,
        "ivf_topk": q_ivf_topk,
        "ivf_topk_trained": q_ivf_topk_trained,
        "knn_join": q_knn_join,
        "ann_quantized": q_ann_quantized,
        "ann_hamming": q_ann_hamming,
        "ann_pq": q_ann_pq,
        "ann_ivf_pq": q_ann_ivf_pq,
        "semantic_dedup": q_semantic_dedup,
        "singer_records": q_singer_records,
        "stream_map_events": q_stream_map_events,
        "multimodal_stats": q_multimodal_stats,
        "multimodal_wav_decode": q_multimodal_wav_decode,
        "multimodal_png_decode": q_multimodal_png_decode,
        "multimodal_video_decode": q_multimodal_video_decode,
        # --- certified green in CORRECTNESS_r04; rotate out of the
        #     window (positions 37+; re-certify in a later round) ---
        "decontaminate": q_decontaminate,
        "neardup_clusters": q_neardup_clusters,
        "pack_sequences": q_pack_sequences,
        "repetition_stats": q_repetition_stats,
        "tfidf_top_terms": q_tfidf_top_terms,
        "vocab_top": q_vocab_top,
        "pii_scan": q_pii_scan,
        "pii_redact": q_pii_redact,
        "chunk_documents": q_chunk_documents,
        "dedup_against_corpus": q_dedup_against_corpus,
        "label_centroids": q_label_centroids,
        "length_stats": q_length_stats,
        "length_stats_approx": q_length_stats_approx,
        "frequent_ngrams": q_frequent_ngrams,
        "training_mix": q_training_mix,
        "stratified_sample": q_stratified_sample,
        "cap_per_source": q_cap_per_source,
        "quality_logit": q_quality_logit,
        "weighted_sample": q_weighted_sample,
        "semantic_dedup_deep": q_semantic_dedup_deep,
        "minhash_index_probe": q_minhash_index_probe,
        "source_overlap": q_source_overlap,
        "aggregate_view": q_aggregate_view,
        "event_cube": q_event_cube,
        "full_table_scan": q_full_table_scan,
        "incremental_scan": q_incremental_scan,
        "event_decode": q_event_decode,
        "lww_latest": q_lww_latest,
        "merge_apply": q_merge_apply,
        "lake_changelog": q_lake_changelog,
        "derived_refresh": q_derived_refresh,
        "bootstrap_handoff": q_bootstrap_handoff,
        "order_monitor": q_order_monitor,
        "bookmark_max": q_bookmark_max,
        "routing_counts": q_routing_counts,
        "bookmark_filter": q_bookmark_filter,
        "q1_pricing": q_q1_pricing,
        "q3_top_orders": q_q3_top_orders,
        "q5_nation_volume": q_q5_nation_volume,
        "topk_per_group": q_topk_per_group,
        "dedup_exact": q_dedup_exact,
        "token_count": q_token_count,
        "quality_features": q_quality,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "token_count_bpe": q_token_count_bpe,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL — generated from the same constants as the Spark side.
# ---------------------------------------------------------------------------
_TOKS = (
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
)

_H60 = "(('0x' || substr(md5({expr}), 1, 15))::bigint)"


def _shingle_cte(table: str = "documents") -> str:
    """CTE producing (doc_id, sh) word-3-shingles, matching textops.shingles."""
    return f"""
toks AS (SELECT doc_id, {_TOKS} AS t FROM {table}),
sh AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3
  UNION ALL
  SELECT doc_id, array_to_string(t, ' ') AS sh FROM toks WHERE len(t) < 3
)"""


def _minhash_sig_sql(table: str = "documents") -> str:
    fam = _hash_family(_MH_HASHES)
    p = _MERSENNE
    aggs = ",\n    ".join(
        f"min(({a} * (h % {p}) + {b}) % {p}) AS mh{i}" for i, (a, b) in enumerate(fam)
    )
    return f"""
WITH {_shingle_cte(table)},
hashed AS (SELECT doc_id, {_H60.format(expr='sh')} AS h FROM sh)
SELECT doc_id,
    {aggs}
FROM hashed GROUP BY doc_id
"""


def _banded_sql(sig_cte: str) -> str:
    """(doc_id, band, key) rows from a minhash-signature CTE — shared by
    the pair join and the oversized-bucket dedup rule."""
    rows_per_band = _MH_HASHES // _MH_BANDS
    band_selects = []
    for bi in range(_MH_BANDS):
        cols = " || ',' || ".join(
            f"mh{bi * rows_per_band + r}::varchar" for r in range(rows_per_band)
        )
        band_selects.append(
            f"SELECT doc_id, {bi} AS band, {cols} AS key FROM {sig_cte}"
        )
    return " UNION ALL ".join(band_selects)


def _minhash_pairs_sql() -> str:
    # ok_buckets replicates the hot-bucket guard (max_bucket_size)
    return f"""
WITH sig AS ({_minhash_sig_sql()}),
banded0 AS ({_banded_sql('sig')}),
ok_buckets AS (
  SELECT band, key FROM banded0 GROUP BY band, key
  HAVING count(*) <= {_MH_MAX_BUCKET}
),
banded AS (SELECT b.* FROM banded0 b JOIN ok_buckets USING (band, key))
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM banded l JOIN banded r
  ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
"""


def _simhash_sql() -> str:
    sums = ",\n    ".join(
        f"sum((((h >> {i}) & 1) * 2 - 1)) AS s{i}" for i in range(_SIMHASH_BITS)
    )
    pack = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN 1::bigint ELSE 0 END << {i})"
        for i in range(_SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS t FROM documents
),
hashed AS (SELECT doc_id, {_H60.format(expr='t')} AS h FROM tok),
sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
SELECT doc_id, {pack} AS simhash FROM sums
"""


def _simhash_pairs_sql() -> str:
    # pigeonhole chunk blocking, same (offset, width) table as
    # textops.simhash_chunks — recall 1 for hamming <= _MAX_HAMMING
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS ck,"
        f" (simhash >> {off}) & {(1 << w) - 1} AS cv FROM s"
        for c, off, w in textops.simhash_chunks(_SIMHASH_BITS, _MAX_HAMMING)
    )
    return f"""
WITH s AS ({_simhash_sql()}),
blk AS ({chunk_selects})
SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM blk a JOIN blk b
  ON a.ck = b.ck AND a.cv = b.cv AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_MAX_HAMMING}
"""


def _hplane_bits_sql(n_planes: int, seed: int, vec_expr: str) -> str:
    """Hyperplane sign-bit bucket expression, same LCG plane constants as
    vectorops.make_planes — repr() round-trips doubles exactly, so both
    engines evaluate the identical literals."""
    planes = vectorops.make_planes(_LSH_DIM, n_planes, seed)
    terms = []
    for i, p in enumerate(planes):
        lits = ", ".join(repr(x) for x in p)
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, [{lits}]) >= 0"
            f" THEN 1::BIGINT ELSE 0::BIGINT END << {i})"
        )
    return " + ".join(terms)


def _lsh_blocked_sql() -> str:
    """(vec_id, t, bkt) blocking CTE body — ids only, same plane constants
    as vectorops.lsh_blocked."""
    return " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t,"
        f" {_hplane_bits_sql(_ND_PLANES, seed, 'embedding::DOUBLE[]')} AS bkt"
        " FROM embeddings"
        for t, seed in enumerate(_ND_SEEDS)
    )


def _neardup_lsh_sql() -> str:
    # ok_buckets replicates the hot-bucket guard; the candidate set is
    # id-only, then one re-join against embeddings fetches both vectors —
    # the same shape the Spark plan runs
    return f"""
WITH blocked0 AS ({_lsh_blocked_sql()}),
ok_buckets AS (
  SELECT t, bkt FROM blocked0 GROUP BY t, bkt
  HAVING count(*) <= {_ND_MAX_BUCKET}
),
blocked AS (SELECT b.* FROM blocked0 b JOIN ok_buckets USING (t, bkt)),
cand AS (
  SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
  FROM blocked a JOIN blocked b
    ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id < b.vec_id
)
SELECT c.a, c.b,
       round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                    eb.embedding::DOUBLE[]), 4) AS cos_sim
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.a
JOIN embeddings eb ON eb.vec_id = c.b
WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                   eb.embedding::DOUBLE[]), 4) >= {_ND_THRESHOLD}
"""


def _lsh_oversized_sql() -> str:
    return f"""
WITH blocked0 AS ({_lsh_blocked_sql()})
SELECT t, bkt, count(*) AS n FROM blocked0
GROUP BY t, bkt HAVING count(*) > {_ND_MAX_BUCKET}
"""


def _emb_dedup_sql() -> str:
    return f"""
WITH pairs AS ({_neardup_lsh_sql()}),
blocked2 AS ({_lsh_blocked_sql()}),
over_drop AS (
  SELECT vec_id FROM blocked2
  QUALIFY count(*) OVER (PARTITION BY t, bkt) > {_ND_MAX_BUCKET}
      AND vec_id <> min(vec_id) OVER (PARTITION BY t, bkt)
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT b FROM pairs)
  AND vec_id NOT IN (SELECT vec_id FROM over_drop)
"""


def _decon_hash_cte(table: str = "documents") -> str:
    """Inner CTE chain producing per-doc DISTINCT 8-token-shingle digests
    (``hashed(doc_id, h)``) — shared by the standalone decontaminate
    oracle and the composed curation oracle, incl. the whole-text
    fallback for docs shorter than k tokens."""
    k = _DECON_K
    shingle = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return f"""
toks AS (SELECT doc_id, {_TOKS} AS t FROM {table}),
sh0 AS (
  SELECT doc_id, {shingle} AS sh
  FROM toks, UNNEST(range(1, len(t) - {k - 2})) AS u(i)
  WHERE len(t) >= {k}
  UNION ALL
  SELECT doc_id, array_to_string(t, ' ') AS sh FROM toks WHERE len(t) < {k}
),
hashed AS (SELECT DISTINCT doc_id, {_H60.format(expr='sh')} AS h FROM sh0)
"""


def _decontaminate_sql() -> str:
    """8-token shingles on both sides (corpus = documents, benchmark =
    doc_id % mod == 0), 60-bit digests, distinct-overlap count per doc —
    replicates pipelineops.decontaminate."""
    cte = _decon_hash_cte()
    return f"""
WITH {cte}
SELECT c.doc_id, count(*) AS n_contaminated_shingles
FROM hashed c
JOIN (SELECT DISTINCT h FROM hashed WHERE doc_id % {_DECON_BENCH_MOD} = 0) b
  ON c.h = b.h
GROUP BY c.doc_id
"""


def _curate_corpus_sql() -> str:
    """DuckDB replay of curation.curate_corpus — the component oracles
    (quality_logit, dedup_exact, minhash_dedup_docs, decontaminate,
    cap_per_source, training_mix, pack_sequences) stitched into one CTE
    chain over the survivor relations s1..s6, mirroring the Spark
    composition stage for stage."""
    stop = ", ".join(f"'{w}'" for w in textops._STOPWORDS)
    h60_id = _H60.format(expr="doc_id::VARCHAR")
    return f"""
WITH feats AS (
  SELECT doc_id, text, lang, source,
         length(text) AS qc, len({_TOKS}) AS qt,
         round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
               / greatest(length(text), 1), 6) AS pr,
         round(len(list_filter({_TOKS}, x -> x IN ({stop})))
               / greatest(len({_TOKS}), 1), 6) AS sr
  FROM documents),
s1 AS (
  SELECT doc_id, text, lang, source FROM feats
  WHERE round(-1.0 + 4.0 * sr - 6.0 * pr + 0.4 * ln(greatest(qt, 1))
              - 0.2 * abs(qc / greatest(qt, 1) - 5.0), 6) > 0.0),
ek AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY md5(text)),
s2 AS (SELECT s1.* FROM s1 JOIN ek USING (doc_id)),
sig AS ({_minhash_sig_sql('s2')}),
banded AS ({_banded_sql('sig')}),
mdrop AS (
  SELECT doc_id FROM banded
  QUALIFY doc_id <> min(doc_id) OVER (PARTITION BY band, key)),
s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM mdrop)),
csh AS (WITH {_decon_hash_cte('s3')} SELECT * FROM hashed),
bsh AS (WITH {_decon_hash_cte('documents')}
        SELECT DISTINCT h FROM hashed WHERE doc_id % {_DECON_BENCH_MOD} = 0),
contam AS (SELECT DISTINCT c.doc_id FROM csh c JOIN bsh b ON c.h = b.h),
s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
s5 AS (
  SELECT doc_id, text, lang, source FROM (
    SELECT *, row_number() OVER (
      PARTITION BY source ORDER BY {h60_id} ASC, doc_id ASC) AS rn
    FROM s4) WHERE rn <= {_CURATE_CAP}),
st AS (SELECT lang, sum(len({_TOKS})) AS nt FROM s5 GROUP BY lang),
tot AS (SELECT sum(nt) AS t FROM st),
wt AS (SELECT lang,
              least(1.0, (CASE lang WHEN 'en' THEN 0.4
                                    WHEN 'fr' THEN 0.25
                                    WHEN 'de' THEN 0.25
                                    ELSE 0.0 END) / (nt / t)) AS w
       FROM st, tot),
s6 AS (SELECT s5.* FROM s5 JOIN wt USING (lang)
       WHERE ({h60_id} % 1000000) / 1000000.0 < wt.w),
d AS (SELECT doc_id, lang, source, len({_TOKS}) AS n_tokens FROM s6),
c AS (SELECT *, sum(n_tokens) OVER (
        PARTITION BY lang ORDER BY doc_id
        ROWS UNBOUNDED PRECEDING) AS cum FROM d)
SELECT doc_id, lang, source, n_tokens,
       CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS shard_seq
FROM c
"""


def _ann_pq_sql() -> str:
    """SQL replay of pq_codebooks → pq_encode → pq_adc_topk: codebooks =
    subvector slices of the 16 lowest-id vectors (cid = rank), encode =
    rounded-score argmax with lowest-cid ties, ADC = summed subspace
    lookups.  Rounding before the argmax absorbs last-ulp summation-order
    differences between the engines' dot products."""
    sub = _LSH_DIM // _PQ_M
    return f"""
WITH cb AS (
  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cid,
         embedding::DOUBLE[] AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC
        LIMIT {_PQ_K})
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
sc AS (
  SELECT e.vec_id, s.s, cb.cid,
         round(2.0 * list_dot_product(
                 (e.embedding::DOUBLE[])[s.s*{sub}+1 : s.s*{sub}+{sub}],
                 cb.cv[s.s*{sub}+1 : s.s*{sub}+{sub}])
               - list_dot_product(
                 cb.cv[s.s*{sub}+1 : s.s*{sub}+{sub}],
                 cb.cv[s.s*{sub}+1 : s.s*{sub}+{sub}]),
               {_PQ_ENC_ROUND}) AS score
  FROM embeddings e, range({_PQ_M}) AS s(s), cb
),
codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s
                ORDER BY score DESC, cid ASC) AS rn
    FROM sc) WHERE rn = 1
),
adc AS (
  SELECT c.vec_id,
         sum(list_dot_product(q.qv[c.s*{sub}+1 : c.s*{sub}+{sub}],
                              cb.cv[c.s*{sub}+1 : c.s*{sub}+{sub}])) AS sc
  FROM codes c JOIN cb ON cb.cid = c.cid, q
  GROUP BY c.vec_id
)
SELECT vec_id, round(sc, 4) AS adc_score
FROM adc ORDER BY adc_score DESC, vec_id ASC LIMIT 10
"""


def _ann_ivf_pq_sql() -> str:
    """SQL replay of ivf_pq_topk: the ivf_topk assignment/probe CTEs
    (unrounded cosine argmax, lowest-cid ties) restrict the corpus to
    the probed cell; the ann_pq encode/ADC CTEs then score only those
    candidates.  Codebooks stay trained on the FULL corpus (16
    lowest-id vectors), matching pq_codebooks."""
    sub = _LSH_DIM // _PQ_M
    return f"""
WITH c AS (SELECT vec_id AS ccid, embedding::DOUBLE[] AS cvec FROM embeddings
           WHERE vec_id IN (0, 50, 100, 150)),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7),
probe AS (SELECT ccid AS probe_cid FROM c, q
          ORDER BY list_cosine_similarity(cvec, qv) DESC, ccid ASC LIMIT 1),
asg AS (
  SELECT e.vec_id, e.embedding, c.ccid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec)
                    DESC, c.ccid ASC) AS rn
  FROM embeddings e CROSS JOIN c
),
cand AS (SELECT vec_id, embedding FROM asg, probe
         WHERE rn = 1 AND ccid = probe_cid),
cb AS (
  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cid,
         embedding::DOUBLE[] AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC
        LIMIT {_PQ_K})
),
sc AS (
  SELECT e.vec_id, s.s, cb.cid,
         round(2.0 * list_dot_product(
                 (e.embedding::DOUBLE[])[s.s*{sub}+1 : s.s*{sub}+{sub}],
                 cb.cv[s.s*{sub}+1 : s.s*{sub}+{sub}])
               - list_dot_product(
                 cb.cv[s.s*{sub}+1 : s.s*{sub}+{sub}],
                 cb.cv[s.s*{sub}+1 : s.s*{sub}+{sub}]),
               {_PQ_ENC_ROUND}) AS score
  FROM cand e, range({_PQ_M}) AS s(s), cb
),
codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s
                ORDER BY score DESC, cid ASC) AS rn
    FROM sc) WHERE rn = 1
),
adc AS (
  SELECT c2.vec_id,
         sum(list_dot_product(q.qv[c2.s*{sub}+1 : c2.s*{sub}+{sub}],
                              cb.cv[c2.s*{sub}+1 : c2.s*{sub}+{sub}])) AS sc
  FROM codes c2 JOIN cb ON cb.cid = c2.cid, q
  GROUP BY c2.vec_id
)
SELECT vec_id, round(sc, 4) AS adc_score
FROM adc ORDER BY adc_score DESC, vec_id ASC LIMIT 10
"""


def _ann_hamming_sql() -> str:
    bits = _hplane_bits_sql(_HAM_PLANES, _HAM_SEED, "embedding::DOUBLE[]")
    qbits = _hplane_bits_sql(
        _HAM_PLANES, _HAM_SEED,
        "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)",
    )
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
qs AS (SELECT ({qbits}) AS qsig),
s AS (SELECT vec_id, embedding::DOUBLE[] AS v, {bits} AS sig FROM embeddings),
short AS (
  SELECT s.vec_id, s.v,
         CAST(bit_count(xor(s.sig, (SELECT qsig FROM qs))) AS INTEGER) AS hamming
  FROM s ORDER BY hamming ASC, vec_id ASC LIMIT {_HAM_SHORTLIST}
)
SELECT vec_id, hamming,
       round(list_cosine_similarity(v, (SELECT qv FROM q)), 4) AS cos_sim
FROM short ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""


def _lsh_topk_sql() -> str:
    bits = _hplane_bits_sql(_TOPK_PLANES, _TOPK_SEED, "embedding::DOUBLE[]")
    qbits = _hplane_bits_sql(
        _TOPK_PLANES, _TOPK_SEED, "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)"
    )
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
b AS (SELECT vec_id, embedding, {bits} AS bkt FROM embeddings)
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cos_sim
FROM b, q
WHERE bkt = ({qbits})
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""


def _ngram_jaccard_sql() -> str:
    return f"""
WITH pairs AS ({_minhash_pairs_sql()}),
{_shingle_cte()},
dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
inter AS (
  SELECT p.a, p.b, count(*) AS n_inter
  FROM pairs p
  JOIN dsh sa ON sa.doc_id = p.a
  JOIN dsh sb ON sb.doc_id = p.b AND sb.sh = sa.sh
  GROUP BY p.a, p.b
)
SELECT i.a, i.b,
       round(i.n_inter::DOUBLE / (na.n + nb.n - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.a
JOIN sizes nb ON nb.doc_id = i.b
"""


def _km_assign_cte(src_cent: str, name: str) -> str:
    """DuckDB CTE assigning every embedding to its nearest centroid in
    ``src_cent`` — the SQL replay of ivf_assign (rounded-similarity
    argmax, lowest-cid ties)."""
    return f"""
{name} AS (
  SELECT vec_id, emb, cid FROM (
    SELECT e.vec_id, e.embedding::DOUBLE[] AS emb, s.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], s.cvec),
                            {_KM_ROUND}) DESC, s.cid ASC) AS rn
    FROM embeddings e CROSS JOIN {src_cent} s) WHERE rn = 1
)"""


def _km_ctes() -> tuple[list[str], str]:
    """Unrolled Lloyd iterations — the SQL replay of train_centroids:
    same seeds (k lowest ids), same rounded-similarity argmax with
    lowest-cid tie-break, same rounded per-dimension means.  Returns
    (cte_fragments, name_of_final_centroid_cte)."""
    parts = [
        f"""seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cid,
         embedding::DOUBLE[] AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id ASC LIMIT {_KM_K})
)"""
    ]
    src = "seeds"
    for i in range(1, _KM_ITER + 1):
        parts.append(_km_assign_cte(src, f"a{i}"))
        parts.append(
            f"""u{i} AS (
  SELECT cid, g.ord AS ord, round(avg(emb[g.ord]), {_KM_ROUND}) AS m
  FROM a{i}, range(1, {_LSH_DIM + 1}) AS g(ord) GROUP BY cid, g.ord
)"""
        )
        parts.append(
            f"c{i} AS (SELECT cid, list(m ORDER BY ord) AS cvec FROM u{i} GROUP BY cid)"
        )
        src = f"c{i}"
    return parts, src


def _ivf_trained_sql() -> str:
    """IVF search over the replayed trained centroids (see _km_ctes)."""
    assign = _km_assign_cte
    parts, src = _km_ctes()
    parts.append(
        "q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7)"
    )
    parts.append(
        f"""probe AS (
  SELECT cid AS probe_cid FROM {src}, q
  ORDER BY list_cosine_similarity(cvec, qv) DESC, cid ASC LIMIT 1
)"""
    )
    parts.append(assign(src, "fin"))
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT vec_id, round(list_cosine_similarity(emb, qv), 4) AS cos_sim
FROM fin, q, probe WHERE cid = probe_cid
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""


def _km_assign_for(src: str, cent: str, name: str) -> str:
    """Generalized :func:`_km_assign_cte`: assign ``src`` rows
    (vec_id, emb DOUBLE[]) to nearest centroid in ``cent``."""
    return f"""
{name} AS (
  SELECT vec_id, emb, cid FROM (
    SELECT e.vec_id, e.emb, s.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.emb, s.cvec),
                            {_KM_ROUND}) DESC, s.cid ASC) AS rn
    FROM {src} e CROSS JOIN {cent} s) WHERE rn = 1
)"""


def _km_ctes_for(src: str, prefix: str) -> tuple[list[str], str]:
    """Generalized :func:`_km_ctes`: unrolled Lloyd training over an
    arbitrary (vec_id, emb) CTE — seeds are the k smallest ids OF THAT
    SUBSET, matching semantic_dedup_recursive's per-level training."""
    parts = [
        f"""{prefix}seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cid, emb AS cvec
  FROM (SELECT vec_id, emb FROM {src} ORDER BY vec_id ASC LIMIT {_KM_K})
)"""
    ]
    cent = f"{prefix}seeds"
    for i in range(1, _KM_ITER + 1):
        parts.append(_km_assign_for(src, cent, f"{prefix}a{i}"))
        parts.append(
            f"""{prefix}u{i} AS (
  SELECT cid, g.ord AS ord, round(avg(emb[g.ord]), {_KM_ROUND}) AS m
  FROM {prefix}a{i}, range(1, {_LSH_DIM + 1}) AS g(ord) GROUP BY cid, g.ord
)"""
        )
        parts.append(
            f"{prefix}c{i} AS (SELECT cid, list(m ORDER BY ord) AS cvec "
            f"FROM {prefix}u{i} GROUP BY cid)"
        )
        cent = f"{prefix}c{i}"
    return parts, cent


def _semantic_dedup_deep_sql() -> str:
    """SQL replay of semantic_dedup_recursive at max_depth=2: two
    unrolled levels of (train on subset → assign → size split →
    within-OK-cluster pairs), oversized members feeding level 2.  A
    level-0 pass with no oversized clusters makes every level-1 CTE
    empty — exactly the Spark loop's early break."""
    parts = ["base0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)"]
    drops = []
    src = "base0"
    for lvl in range(2):
        p = f"l{lvl}"
        km, cent = _km_ctes_for(src, p)
        parts += km
        parts.append(_km_assign_for(src, cent, f"{p}fin"))
        parts.append(
            f"{p}over AS (SELECT cid FROM {p}fin GROUP BY cid "
            f"HAVING count(*) > {_SD_MAXC})"
        )
        parts.append(
            f"{p}ok AS (SELECT f.* FROM {p}fin f "
            f"WHERE f.cid NOT IN (SELECT cid FROM {p}over))"
        )
        drops.append(
            f"""SELECT DISTINCT y.vec_id AS b
  FROM {p}ok x JOIN {p}ok y ON x.cid = y.cid AND x.vec_id < y.vec_id
  WHERE round(list_cosine_similarity(x.emb, y.emb), 6) >= {_SD_THRESHOLD}"""
        )
        parts.append(
            f"base{lvl + 1} AS (SELECT f.vec_id, f.emb FROM {p}fin f "
            f"JOIN {p}over o ON f.cid = o.cid)"
        )
        src = f"base{lvl + 1}"
    ctes = ",\n".join(parts)
    union = "\nUNION\n".join(drops)
    return f"""
WITH {ctes},
drops AS ({union})
SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT b FROM drops)
"""


def _semantic_dedup_sql() -> str:
    """SQL replay of semantic_dedup: trained-centroid assignment (the
    _km_ctes chain), within-cluster pairs above the rounded-cosine
    threshold, higher id of each pair dropped."""
    parts, src = _km_ctes()
    parts.append(_km_assign_cte(src, "fin"))
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes},
drops AS (
  SELECT DISTINCT y.vec_id AS b
  FROM fin x JOIN fin y ON x.cid = y.cid AND x.vec_id < y.vec_id
  WHERE round(list_cosine_similarity(x.emb, y.emb), 6) >= {_SD_THRESHOLD}
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT b FROM drops)
"""


def _lang_id_sql() -> str:
    langs = sorted(textops.LANG_PROFILES)
    score_exprs = []
    for lg in langs:
        words = ", ".join(f"'{w}'" for w in textops.LANG_PROFILES[lg])
        score_exprs.append(
            f"len(list_filter({_TOKS}, x -> x IN ({words}))) AS score_{lg}"
        )
    best = f"greatest({', '.join('score_' + lg for lg in langs)})"
    pred = "'und'"
    for lg in reversed(langs):
        pred = f"CASE WHEN score_{lg} = best THEN '{lg}' ELSE {pred} END"
    return f"""
WITH scored AS (SELECT doc_id, {", ".join(score_exprs)} FROM documents),
withbest AS (SELECT *, {best} AS best FROM scored)
SELECT doc_id, CASE WHEN best > 0 THEN {pred} ELSE 'und' END AS lang_pred
FROM withbest
"""


def _pii_text_sql() -> str:
    """SQL twin of ``_with_pii`` — identical injected spans per doc_id."""
    return """
SELECT doc_id,
       text
       || CASE WHEN doc_id % 3 = 0
               THEN ' contact u' || doc_id::VARCHAR || '@example.com'
               ELSE '' END
       || CASE WHEN doc_id % 5 = 0
               THEN ' host 10.0.' || (doc_id % 256)::VARCHAR || '.1'
               ELSE '' END
       || CASE WHEN doc_id % 7 = 0 THEN ' call +555 123-4567' ELSE '' END
           AS text
FROM documents
"""


def oracle_sql() -> dict[str, str]:
    fp_norm = (
        "trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),"
        " '\\s+', ' ', 'g'))"
    )
    stop = ", ".join(f"'{w}'" for w in textops._STOPWORDS)
    routable = ", ".join(f"'{t}'" for t in _ROUTABLE)
    return {
        "full_table_scan": """
            SELECT event_id, user_id, value FROM events
            WHERE event_type = 'purchase' AND value > 50
        """,
        "incremental_scan": f"""
            SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
            FROM events WHERE ts >= TIMESTAMP '{_BOOKMARK_TS}'
        """,
        "event_decode": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
            FROM events
        """,
        "lww_latest": """
            SELECT user_id, event_id AS last_event_id,
                   event_type AS last_event_type, value AS last_value
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
                  FROM events) WHERE rn = 1
        """,
        "order_monitor": """
            WITH e AS (
              SELECT user_id, event_id,
                     ('0x' || substr(md5(event_id::varchar), 1, 15))::bigint AS arr
              FROM events
            ),
            v AS (
              SELECT user_id, event_id,
                     max(event_id) OVER (PARTITION BY user_id ORDER BY arr
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
              FROM e
            )
            SELECT user_id::varchar AS key, event_id AS ordinal,
                   prev_max AS max_seen, prev_max - event_id AS lag
            FROM v WHERE event_id < prev_max
        """,
        "lake_changelog": """
            WITH half AS (SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS h FROM events),
            second AS (SELECT user_id, value, event_id, event_type
                       FROM events, half WHERE event_id > h),
            latest AS (SELECT *, row_number() OVER (
                         PARTITION BY user_id ORDER BY event_id DESC) AS rn
                       FROM second)
            SELECT user_id,
                   CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value,
                   event_id AS _sdc_lsn,
                   (event_type = 'error') AS deleted
            FROM latest WHERE rn = 1
        """,
        "derived_refresh": """
            WITH latest AS (SELECT user_id,
                                   max_by(value, event_id) AS value,
                                   max_by(event_type, event_id) AS last_type,
                                   max(event_id) AS lsn
                            FROM events GROUP BY user_id)
            SELECT user_id, round(value * 2, 6) AS value_x2, lsn AS _sdc_lsn
            FROM latest WHERE last_type <> 'error'
        """,
        "event_cube": """
            SELECT event_type, user_id % 4 AS ub,
                   CAST(grouping(event_type) AS TINYINT) AS g_type,
                   CAST(grouping(user_id % 4) AS TINYINT) AS g_ub,
                   count(*) AS n,
                   round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY CUBE (event_type, user_id % 4)
        """,
        "aggregate_view": """
            WITH latest AS (SELECT user_id,
                                   max_by(event_type, event_id) AS etype,
                                   max_by(value, event_id) AS value
                            FROM events GROUP BY user_id),
            live AS (SELECT * FROM latest WHERE etype <> 'error')
            SELECT etype, count(*) AS n_users,
                   round(sum(value), 4) AS sum_value,
                   round(avg(value), 4) AS avg_value,
                   count(value) AS n_values
            FROM live GROUP BY etype
        """,
        "merge_apply": """
            SELECT user_id, event_id AS last_event_id, value
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
                  FROM events) WHERE rn = 1 AND event_type <> 'error'
        """,
        "merge_key_updates": """
            WITH agg AS (
              SELECT user_id,
                     max(event_id) AS last_event_id,
                     arg_max(event_type, event_id) AS last_type,
                     arg_max(value, event_id) AS v_last,
                     arg_max(CAST(length(props) AS BIGINT), event_id) AS w_last
              FROM events GROUP BY user_id
            )
            SELECT CASE WHEN last_event_id % 7 = 0
                        THEN user_id + 10000000 ELSE user_id END AS user_id,
                   last_event_id,
                   CAST(round(v_last * 100) AS BIGINT) AS v_cents,
                   w_last
            FROM agg WHERE last_type <> 'error'
        """,
        "merge_partial_toast": """
            WITH ev AS (
              SELECT user_id, event_id, event_type, value,
                     CAST(length(props) AS BIGINT) AS w,
                     CASE WHEN event_type = 'error' THEN 'D'
                          WHEN lag(event_type) OVER
                                 (PARTITION BY user_id ORDER BY event_id)
                               IS NULL
                            OR lag(event_type) OVER
                                 (PARTITION BY user_id ORDER BY event_id)
                               = 'error' THEN 'I'
                          ELSE 'U' END AS action
              FROM events
            ),
            flags AS (
              SELECT *,
                     action <> 'D'
                       AND (action = 'I' OR event_id % 3 <> 0) AS has_v,
                     action <> 'D'
                       AND (action = 'I' OR event_id % 5 <> 0) AS has_w
              FROM ev
            ),
            agg AS (
              SELECT user_id,
                     max(event_id) AS last_event_id,
                     arg_max(event_type, event_id) AS last_type,
                     arg_max(value, event_id) FILTER (WHERE has_v) AS v_last,
                     arg_max(w, event_id) FILTER (WHERE has_w) AS w_last
              FROM flags GROUP BY user_id
            )
            SELECT user_id, last_event_id,
                   CAST(round(v_last * 100) AS BIGINT) AS v_cents,
                   w_last
            FROM agg WHERE last_type <> 'error'
        """,
        "bootstrap_handoff": """
            WITH half AS (SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS h FROM events),
            last_all AS (SELECT user_id,
                                max_by(value, event_id) AS value,
                                max_by(event_type, event_id) AS last_type,
                                max(event_id) AS last_id
                         FROM events GROUP BY user_id)
            SELECT user_id, value,
                   greatest(last_id, (SELECT h FROM half)) AS _sdc_lsn
            FROM last_all WHERE last_type <> 'error'
        """,
        "bookmark_max": """
            SELECT event_type, max(event_id) AS max_event_id,
                   epoch_us(max(ts)) AS bookmark_us, count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "routing_counts": f"""
            SELECT event_type,
                   CASE WHEN event_type IN ({routable}) THEN 'ok'
                        ELSE 'unroutable' END AS status,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "bookmark_filter": """
            WITH half AS (SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS h FROM events),
            bm AS (SELECT event_type, max(epoch_us(ts)) AS bm
                   FROM events, half WHERE event_id <= h GROUP BY event_type)
            SELECT e.event_type, count(*) AS n_after_bookmark
            FROM events e JOIN bm ON e.event_type = bm.event_type
            WHERE epoch_us(e.ts) >= bm.bm
            GROUP BY e.event_type
        """,
        "q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_top_orders": """
            SELECT o_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                 JOIN customer ON o_custkey = c_custkey
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """,
        "q5_nation_volume": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
                 JOIN orders ON l_orderkey = o_orderkey
                 JOIN customer ON o_custkey = c_custkey
                 JOIN supplier ON l_suppkey = s_suppkey
                                  AND c_nationkey = s_nationkey
                 JOIN nation ON s_nationkey = n_nationkey
                 JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name ASC
        """,
        "topk_per_group": """
            SELECT o_orderpriority, rk, o_orderkey, o_totalprice
            FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                         row_number() OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
                  FROM orders) WHERE rk <= 3
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id, count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "token_count": f"""
            SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents
        """,
        "quality_features": f"""
            SELECT doc_id,
                   length(text) AS q_chars,
                   len({_TOKS}) AS q_tokens,
                   round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                         / greatest(length(text), 1), 6) AS q_punct_ratio,
                   round(len(list_filter({_TOKS}, x -> x IN ({stop})))
                         / greatest(len({_TOKS}), 1), 6) AS q_stopword_ratio
            FROM documents
        """,
        "lang_id": _lang_id_sql(),
        "fingerprint": f"""
            SELECT doc_id, {_H60.format(expr=fp_norm)} AS fp FROM documents
        """,
        "token_count_bpe": f"""
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '{textops.BPE_SPLIT_PATTERN}'))::BIGINT AS n_bpe
            FROM documents
        """,
        "chargram_sketch": f"""
            WITH g AS (
              SELECT doc_id,
                     {_H60.format(expr="substr(text, r.i, 5)")} AS h
              FROM documents, UNNEST(range(1, greatest(len(text) - 4, 1) + 1)) AS r(i)
            ),
            d AS (SELECT DISTINCT doc_id, h FROM g),
            ranked AS (
              SELECT doc_id, h,
                     row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
              FROM d
            )
            SELECT doc_id, array_to_string(list(h ORDER BY h), ',') AS sketch
            FROM ranked WHERE rn <= 8 GROUP BY doc_id
        """,
        "minhash_signature": _minhash_sig_sql(),
        "minhash_lsh_pairs": _minhash_pairs_sql(),
        "minhash_index_probe": f"""
            WITH sig AS ({_minhash_sig_sql()}),
            banded0 AS ({_banded_sql('sig')}),
            corpus AS (SELECT * FROM banded0 WHERE doc_id % 10 <> 0),
            probe AS (SELECT * FROM banded0 WHERE doc_id % 10 = 0),
            ok AS (
              SELECT band, key FROM corpus GROUP BY band, key
              HAVING count(DISTINCT doc_id) <= {_MH_MAX_BUCKET}
            )
            SELECT DISTINCT p.doc_id AS probe_doc_id,
                            c.doc_id AS corpus_doc_id
            FROM probe p
            JOIN corpus c ON p.band = c.band AND p.key = c.key
            JOIN ok ON ok.band = c.band AND ok.key = c.key
        """,
        "source_overlap": f"""
            WITH toks AS (SELECT source, {_TOKS} AS t FROM documents),
            sh0 AS (
              SELECT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
              FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
              WHERE len(t) >= 3
              UNION ALL
              SELECT source, array_to_string(t, ' ') AS sh
              FROM toks WHERE len(t) < 3
            ),
            g AS (SELECT DISTINCT source, {_H60.format(expr='sh')} AS h
                  FROM sh0)
            SELECT a.source AS source_a, b.source AS source_b,
                   count(*) AS shared_grams
            FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        "minhash_lsh_oversized": f"""
            WITH sig AS ({_minhash_sig_sql()}),
            banded0 AS ({_banded_sql('sig')})
            SELECT band, key, count(*) AS n FROM banded0
            GROUP BY band, key HAVING count(*) > {_MH_DEMO_CAP}
        """,
        # pair-loser ∪ oversized-keep collapses to "not the min of some
        # bucket" (textops.minhash_dedup_keep docstring) — one window min
        "minhash_dedup_docs": f"""
            WITH sig AS ({_minhash_sig_sql()}),
            banded AS ({_banded_sql('sig')}),
            dropped AS (
              SELECT doc_id FROM banded
              QUALIFY doc_id <> min(doc_id) OVER (PARTITION BY band, key)
            )
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        """,
        "simhash": _simhash_sql(),
        "simhash_neardup": _simhash_pairs_sql(),
        # embeddings are float32 on disk: cast to DOUBLE[] so DuckDB's
        # cosine matches Spark's double-precision aggregate bit-for-bit
        "cosine_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cos_sim
            FROM embeddings, q
            ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
        """,
        "neardup_embeddings": """
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 4) AS cos_sim
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 4) >= 0.30
        """,
        "neardup_embeddings_lsh": _neardup_lsh_sql(),
        "neardup_lsh_oversized": _lsh_oversized_sql(),
        "emb_dedup_docs": _emb_dedup_sql(),
        "lsh_bucket_topk": _lsh_topk_sql(),
        "ngram_jaccard": _ngram_jaccard_sql(),
        "ivf_topk": """
            WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings
                       WHERE vec_id IN (0, 50, 100, 150)),
            q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7),
            probe AS (SELECT cid AS probe_cid FROM c, q
                      ORDER BY list_cosine_similarity(cvec, qv) DESC, cid ASC LIMIT 1),
            sims AS (
              SELECT e.vec_id, e.embedding, c.cid,
                     row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec)
                                DESC, c.cid ASC) AS rn
              FROM embeddings e CROSS JOIN c
            )
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cos_sim
            FROM sims, q, probe WHERE rn = 1 AND cid = probe_cid
            ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
        """,
        "ivf_topk_trained": _ivf_trained_sql(),
        "ann_quantized": """
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            s AS (SELECT vec_id, v,
                         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
                  FROM v),
            q AS (SELECT vec_id,
                         CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
                              ELSE list_transform(v, x -> greatest(-127.0,
                                     least(127.0, floor(x / scale + 0.5))))
                         END AS qv
                  FROM s),
            qq AS (SELECT qv FROM q WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_cosine_similarity(qv, (SELECT qv FROM qq)), 6)
                     AS cos_sim
            FROM q ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
        """,
        "ann_hamming": _ann_hamming_sql(),
        "ann_pq": _ann_pq_sql(),
        "ann_ivf_pq": _ann_ivf_pq_sql(),
        "semantic_dedup": _semantic_dedup_sql(),
        "semantic_dedup_deep": _semantic_dedup_deep_sql(),
        "knn_join": """
            WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 3),
            scored AS (
              SELECT q.q_id, e.vec_id,
                     round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4)
                       AS cos_sim
              FROM embeddings e CROSS JOIN q
              WHERE e.vec_id <> q.q_id
            )
            SELECT q_id, vec_id, cos_sim FROM (
              SELECT q_id, vec_id, cos_sim,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY cos_sim DESC, vec_id ASC) AS rn
              FROM scored
            ) WHERE rn <= 5
        """,
        "singer_records": """
            SELECT '{"type": "RECORD", "stream": "public.nation", "record": '
                   || to_json(struct_pack(
                        n_nationkey := n_nationkey,
                        n_name := n_name,
                        n_regionkey := n_regionkey))
                   || '}' AS message
            FROM nation
        """,
        "stream_map_events": """
            SELECT event_id, user_id, event_type,
                   CAST(json_extract(props, '$.k') AS INTEGER) AS props__k,
                   CAST(floor(value * 100) AS BIGINT) AS value_cents
            FROM events WHERE event_type <> 'view'
        """,
        "multimodal_stats": """
            SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                   sha256(text) AS content_sha256
            FROM documents
        """,
        # replays the synth-sample formula directly — the Spark side must
        # round-trip the same numbers through real WAV bytes to match
        "multimodal_wav_decode": """
            WITH g AS (
              SELECT doc_id, ((doc_id * 7919 + i.ord * 104729) % 65536) - 32768 AS s
              FROM documents, range(0, 128) AS i(ord)
            )
            SELECT doc_id AS media_id,
                   count(*)::BIGINT AS n_samples,
                   8000 AS sample_rate,
                   16::BIGINT AS duration_ms,
                   round(sum(s)::DOUBLE / count(*), 6) AS mean_sample,
                   round(sqrt(sum(s::DOUBLE * s::DOUBLE) / count(*)), 6) AS rms
            FROM g GROUP BY doc_id
        """,
        # replays the synth-pixel formula directly — the Spark side must
        # round-trip the same bytes through real zlib'd PNG chunks to match
        "multimodal_png_decode": """
            WITH dims AS (
              SELECT doc_id, 8 + (doc_id % 8) * 4 AS w, 8 + (doc_id % 5) * 4 AS h
              FROM documents
            ),
            px AS (
              -- constant range bound (max w*h*3 = 36*24*3), filtered per
              -- image: DuckDB's range() takes no lateral column params
              SELECT doc_id, w, h, g.p AS p,
                     ((doc_id * 31 + g.p * 97) % 256)::DOUBLE AS v
              FROM dims, range(0, 2592) AS g(p)
              WHERE g.p < w * h * 3
            )
            SELECT doc_id AS media_id, w::INT AS width, h::INT AS height,
                   round(avg(CASE WHEN p % 3 = 0 THEN v END), 6) AS mean_r,
                   round(avg(CASE WHEN p % 3 = 1 THEN v END), 6) AS mean_g,
                   round(avg(CASE WHEN p % 3 = 2 THEN v END), 6) AS mean_b
            FROM px GROUP BY doc_id, w, h
        """,
        "multimodal_video_decode": """
            WITH p AS (
              SELECT doc_id, 8 + (doc_id % 4) * 4 AS w, 8 + (doc_id % 3) * 4 AS h,
                     2 + doc_id % 3 AS nf
              FROM documents
            ),
            px AS (
              SELECT p.doc_id, p.w, p.h, p.nf,
                     ((p.doc_id * 31 + f.f * 17 + pp.pp * 97) % 256)::DOUBLE AS v
              FROM p, unnest(range(p.nf)) AS f(f),
                      unnest(range(p.w * p.h)) AS pp(pp)
            )
            SELECT doc_id AS media_id, w::INT AS width, h::INT AS height,
                   nf AS n_frames, nf * 40 AS duration_ms,
                   round(avg(v), 6) AS mean_luma,
                   round(sqrt(avg(v * v)), 6) AS rms_luma
            FROM px GROUP BY doc_id, w, h, nf
        """,
        "decontaminate": _decontaminate_sql(),
        "neardup_clusters": f"""
            WITH pairs AS ({_minhash_pairs_sql()}),
            edges AS (SELECT a AS src, b AS dst FROM pairs
                      UNION SELECT b, a FROM pairs),
            reach AS (
              WITH RECURSIVE r(src, dst) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
              ) SELECT * FROM r
            )
            SELECT src AS id, least(min(dst), src) AS cluster_id
            FROM reach GROUP BY src
        """,
        "pack_sequences": """
            WITH d AS (
              SELECT doc_id, lang,
                     len(list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '')) AS n_tokens
              FROM documents
            ),
            c AS (SELECT *, sum(n_tokens) OVER (
                      PARTITION BY lang ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum
                  FROM d)
            SELECT doc_id, lang, n_tokens,
                   CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS shard_seq
            FROM c
        """,
        "token_entropy": """
            WITH tf AS (
              SELECT doc_id, t, count(*) AS c
              FROM (SELECT doc_id, unnest(list_filter(
                        string_split_regex(lower(text), '\\s+'), x -> x <> ''))
                        AS t
                    FROM documents)
              GROUP BY doc_id, t
            )
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(round((ln(sum(c)) - sum(c * ln(c)) / sum(c))
                              * 1000000) AS BIGINT)
                     AS entropy_ppm
            FROM tf GROUP BY doc_id
        """,
        "sessionize": f"""
            WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
                       FROM events),
            f AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                                 OR ts_us - lag(ts_us) OVER w
                                    > {_SESSION_GAP_S * 1_000_000} THEN 1
                            ELSE 0 END AS ns
                  FROM e WINDOW w AS (PARTITION BY user_id
                                      ORDER BY ts_us, event_id)),
            s AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id
                      ORDER BY ts_us, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM f)
            SELECT user_id, session_seq, count(*) AS n_events,
                   min(ts_us) AS start_us, max(ts_us) AS end_us,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS total_value_cents
            FROM s GROUP BY user_id, session_seq
        """,
        "window_rollup": f"""
            SELECT epoch_us(ts) - (epoch_us(ts) % {_ROLLUP_WINDOW_S * 1_000_000})
                       AS window_start_us,
                   event_type, count(*) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_value_cents
            FROM events GROUP BY 1, 2
        """,
        "repetition_stats": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            base AS (
              SELECT doc_id, len(t)::BIGINT AS n_tokens,
                     round(1 - len(list_distinct(t)) / greatest(len(t), 1), 6)
                         AS dup_word_ratio
              FROM toks
            ),
            bg AS (
              SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
              FROM toks, UNNEST(range(1, len(t))) u(i)
              WHERE len(t) >= 2
            ),
            cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
            top AS (SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg
                    FROM cnt GROUP BY doc_id)
            SELECT b.doc_id, b.n_tokens, b.dup_word_ratio,
                   round(coalesce(top_bg / n_bg, 0), 6) AS top_bigram_ratio
            FROM base b LEFT JOIN top USING (doc_id)
        """,
        "tfidf_top_terms": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            terms AS (SELECT doc_id, u.term FROM toks, UNNEST(t) AS u(term)),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM terms GROUP BY doc_id, term),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT doc_id, rk, term, tf, score FROM (
              SELECT doc_id, term, tf,
                     round(tf * ln((n_docs + 1) / (df + 1)), 6) AS score,
                     row_number() OVER (PARTITION BY doc_id
                         ORDER BY round(tf * ln((n_docs + 1) / (df + 1)), 6)
                                  DESC, term ASC) AS rk
              FROM tf JOIN df USING (term), n
            ) WHERE rk <= {_TFIDF_TOP_N}
        """,
        "vocab_top": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            terms AS (SELECT u.term FROM toks, UNNEST(t) AS u(term))
            SELECT term, count(*) AS n FROM terms GROUP BY term
            ORDER BY n DESC, term ASC LIMIT {_VOCAB_TOP_N}
        """,
        "pii_scan": f"""
            WITH t2 AS ({_pii_text_sql()})
            SELECT doc_id,
                   len(regexp_extract_all(text, '{pipelineops.EMAIL_RE}'))::BIGINT
                       AS n_email,
                   len(regexp_extract_all(text, '{pipelineops.IPV4_RE}'))::BIGINT
                       AS n_ip,
                   len(regexp_extract_all(text, '{pipelineops.PHONE_RE}'))::BIGINT
                       AS n_phone,
                   (len(regexp_extract_all(text, '{pipelineops.EMAIL_RE}'))
                    + len(regexp_extract_all(text, '{pipelineops.IPV4_RE}'))
                    + len(regexp_extract_all(text, '{pipelineops.PHONE_RE}')))::BIGINT
                       AS n_pii
            FROM t2
        """,
        "pii_redact": f"""
            WITH t2 AS ({_pii_text_sql()})
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '{pipelineops.EMAIL_RE}', '[EMAIL]', 'g'),
                       '{pipelineops.IPV4_RE}', '[IP]', 'g'),
                       '{pipelineops.PHONE_RE}', '[PHONE]', 'g') AS text_redacted
            FROM t2
        """,
        "chunk_documents": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents)
            SELECT doc_id,
                   (s // {_CHUNK_TOKENS - _CHUNK_OVERLAP})::BIGINT AS chunk_idx,
                   least({_CHUNK_TOKENS}, len(t) - s)::BIGINT AS n_chunk_tokens,
                   array_to_string(list_slice(t, s + 1, s + {_CHUNK_TOKENS}), ' ')
                       AS chunk_text
            FROM toks,
                 UNNEST(range(0, len(t), {_CHUNK_TOKENS - _CHUNK_OVERLAP})) u(s)
            WHERE len(t) > 0
        """,
        "dedup_against_corpus": """
            SELECT doc_id FROM documents
            WHERE md5(text) NOT IN
                  (SELECT md5(text) FROM documents WHERE doc_id % 2 = 0)
        """,
        "label_centroids": """
            SELECT label, d AS dim,
                   round(avg(embedding[d + 1]::DOUBLE), 6) AS centroid
            FROM embeddings, UNNEST(range(0, len(embedding))) u(d)
            GROUP BY label, d
        """,
        "length_stats": """
            SELECT lang, count(*) AS n_docs,
                   round(avg(n_chars), 6) AS mean_chars,
                   quantile_cont(n_chars, 0.5) AS median_chars,
                   quantile_cont(n_chars, 0.95) AS p95_chars
            FROM documents GROUP BY lang
        """,
        "length_stats_approx": """
            SELECT lang, count(*) AS n_docs,
                   quantile_disc(n_chars, 0.5) AS median_chars,
                   quantile_disc(n_chars, 0.95) AS p95_chars
            FROM documents GROUP BY lang
        """,
        "frequent_ngrams": f"""
            WITH {_shingle_cte()}
            SELECT sh AS gram, count(DISTINCT doc_id) AS n_docs,
                   count(*) AS n_occurrences
            FROM sh GROUP BY sh HAVING count(DISTINCT doc_id) >= 5
        """,
        "training_mix": f"""
            WITH st AS (SELECT lang, sum(len({_TOKS})) AS nt
                        FROM documents GROUP BY lang),
            tot AS (SELECT sum(nt) AS t FROM st),
            wt AS (SELECT lang,
                          least(1.0,
                                (CASE lang WHEN 'en' THEN 0.4
                                           WHEN 'fr' THEN 0.25
                                           WHEN 'de' THEN 0.25
                                           ELSE 0.0 END)
                                / (nt / t)) AS w
                   FROM st, tot)
            SELECT d.doc_id, d.lang
            FROM documents d JOIN wt USING (lang)
            WHERE ({_H60.format(expr="d.doc_id::VARCHAR")} % 1000000) / 1000000.0
                  < wt.w
        """,
        "stratified_sample": f"""
            SELECT doc_id, lang, source FROM documents
            WHERE {_H60.format(expr="doc_id::VARCHAR")} % 100 < 10
        """,
        "cap_per_source": f"""
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY {_H60.format(expr="doc_id::VARCHAR")} ASC,
                                doc_id ASC) AS rn
              FROM documents) WHERE rn <= 10
        """,
        "quality_logit": f"""
            WITH f AS (
              SELECT doc_id,
                     length(text) AS qc,
                     len({_TOKS}) AS qt,
                     round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                           / greatest(length(text), 1), 6) AS pr,
                     round(len(list_filter({_TOKS}, x -> x IN ({stop})))
                           / greatest(len({_TOKS}), 1), 6) AS sr
              FROM documents),
            s AS (
              SELECT doc_id,
                     round(-1.0 + 4.0 * sr - 6.0 * pr
                           + 0.4 * ln(greatest(qt, 1))
                           - 0.2 * abs(qc / greatest(qt, 1) - 5.0), 6) AS quality_logit
              FROM f)
            SELECT doc_id, quality_logit, quality_logit > 0.0 AS keep FROM s
        """,
        "weighted_sample": f"""
            SELECT doc_id, n_chars FROM documents
            WHERE ({_H60.format(expr="doc_id::VARCHAR")} % 1000000) / 1000000.0
                  < least(n_chars / 2000.0, 1.0)
        """,
        "mixture_weights": f"""
            WITH per AS (
              SELECT lang, source, count(*) AS n_docs,
                     CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
              FROM documents GROUP BY lang, source),
            tot AS (SELECT sum(n_tokens) AS _tot FROM per)
            SELECT lang, source, n_docs, n_tokens,
                   CAST(round(n_tokens / _tot * 1000000) AS BIGINT)
                     AS token_frac_ppm
            FROM per, tot
        """,
        "curate_corpus": _curate_corpus_sql(),
        # DuckDB's native ASOF JOIN is an independent implementation of
        # the same backward-inclusive semantics — a real cross-check,
        # not an echo of the Spark union-window plan
        "asof_join_events": """
            WITH l AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'click'),
            r AS (SELECT user_id, ts, arg_max(value, event_id) AS pval
                  FROM events WHERE event_type = 'purchase'
                  GROUP BY user_id, ts)
            SELECT l.event_id AS event_id, l.user_id AS user_id,
                   epoch_us(l.ts) AS ts_us,
                   r.pval AS last_purchase_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        # forward as-of: DuckDB ASOF only does backward, so the oracle
        # is a correlated scalar subquery (DuckDB decorrelates it) —
        # again an independent implementation of the semantics
        "asof_forward_events": """
            WITH l AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'click'),
            r AS (SELECT user_id, ts, arg_max(value, event_id) AS pval
                  FROM events WHERE event_type = 'purchase'
                  GROUP BY user_id, ts)
            SELECT l.event_id AS event_id, l.user_id AS user_id,
                   epoch_us(l.ts) AS ts_us,
                   (SELECT r.pval FROM r
                    WHERE r.user_id = l.user_id AND r.ts >= l.ts
                    ORDER BY r.ts LIMIT 1) AS next_purchase_value
            FROM l
        """,
        "range_join_prices": """
            SELECT o.o_orderkey AS o_orderkey,
                   count(*) AS n_close,
                   round(sum(l.l_quantity), 2) AS qty_close
            FROM orders o JOIN lineitem l
              ON l.l_extendedprice >= o.o_totalprice - 5
             AND l.l_extendedprice <= o.o_totalprice + 5
            GROUP BY o.o_orderkey
        """,
    }
