"""Fused multi-stream merge: N tables' CDC deltas in ONE Spark job.

The reference's single-connection multi-table reader (wal_reader.py:
107-160) pays one WAL pass for all subscribed tables.  The Spark twin
shares the scan+parse via a persisted classified batch, but round-4
profiling showed the 8-stream small-batch gap is N-fold duplicated
work and per-JOB fixed overhead: each stream's merge is its own action
(own Catalyst analysis, codegen, scheduling, write-commit protocol) and
— worse — each branch re-reads the ENTIRE parsed batch from the block
store just to decode its 1/N slice (measured ~14 s executor time per
branch at 500k events × 8 streams, identical whether the branch keeps
62k or 250k rows).

The fused plan removes both multipliers:

1. ONE decode projection over the union of the streams' column sets
   (``decode.decode_projection_multi``) — a wal2json event only carries
   its own table's columns, so foreign columns decode to NULL naturally;
2. ONE LWW fold: ``groupBy(__gidx, to_json(struct(stream keys)))`` with
   ``max_by(payload, (lsn, txid))`` — per-stream key semantics inside a
   single map-side-combined shuffle;
3. per-stream ``_sdc_gen`` / ``_bucket`` as CASE expressions, one
   ``repartition(max_buckets, __gidx, _bucket)`` (the same one-task-per-
   bucket write shape the per-stream path buys with N repartitions), and
   ONE ``partitionBy(__gidx, _bucket)`` write into staging.  AQE is
   disabled for just this action, on the batch's own session (in
   streaming, the query's clone), because it would decompose the job
   into serial waves of query-stage materialization jobs (measured).
   The fold's Columns are memoized per stream layout, so an epoch
   builds only its ``_sdc_gen`` literal;
4. ``_write_slices`` renames each table's ``__gidx=i`` slice into the
   table's own ``data/v{N}-…`` dir and commits it driver-side through
   the same ``_commit_delta`` tail ``merge_into`` uses — footer-stat
   watermarks, lineage, epoch dedup, optimistic lock, so crash-replay
   semantics are IDENTICAL: a partially-committed grouped epoch replays
   with the already-committed streams excluded from the union and only
   the rest written.  Every compaction (``_compact_tables``: one table
   or N, tiered or full — ``LakeTable.compact``, ``compact_grouped`` and
   the pipeline's depth trigger) writes through the same
   ``_write_slices``, with ``compact``'s own plan and commit per table.

Files written this way carry the UNION of the streams' columns; a
table's reads are unaffected because the lake layer always reads with
an explicit schema (``_read_dirs``: missing → NULL, extra → ignored —
parquet nulls cost ~nothing on disk).

Falls back (``prepare_grouped_fused`` returns ``None``) when streams
share a column name at conflicting types/coercions, or when a table's
schema would need a widening cast the fused projection didn't produce;
the caller (``CdcPipeline``) does not try it for stream maps, partial
updates or key updates.  All of those take the sequential per-stream
merges; every other pipeline, one stream included, lands through here.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..decode import STATUS_OK, decode_projection_multi
from ..plancache import memo
from ..schema import SDC_DELETED_AT, SDC_LSN, merge_schemas
from .table import _BUCKET, SDC_GEN, LakeTable

_GIDX = "__gidx"
_AQE = "spark.sql.adaptive.enabled"


@dataclass
class FusedPlan:
    projected: DataFrame          # decode_projection_multi output
    union_fields: list            # StructField list (data columns)
    live: list[dict]              # per uncommitted stream: plan facts
    skipped: dict[str, dict[str, Any]]
    staging_root: str
    executed_fqns: list[str] = field(default_factory=list)


def prepare_grouped_fused(
    classified: DataFrame,
    streams: list,
    pg_types_by_fqn: dict[str, dict[str, str]],
    tables: dict[str, LakeTable],
    epoch_ids: dict[str, str],
    floors: dict[str, int | None],
    staging_root: str,
    *,
    batch_time=None,
) -> FusedPlan | None:
    """Driver-side validation + plan construction.  Returns ``None``
    when the fused plan can't represent these streams (caller falls
    back to per-stream merges); raises nothing Spark-side — no job has
    run yet, so the caller can still attach its ``observe`` to
    ``plan.projected`` before :func:`execute_grouped_fused`."""
    multi = decode_projection_multi(
        classified, streams, pg_types_by_fqn, batch_time=batch_time
    )
    if multi is None:
        return None
    projected, union_fields = multi
    decoded_types = {f.name: f.dataType for f in union_fields}
    decoded_types[SDC_LSN] = T.LongType()
    decoded_types[SDC_DELETED_AT] = T.StringType()

    live: list[dict] = []
    skipped: dict[str, dict[str, Any]] = {}
    for idx, s in enumerate(streams):
        table = tables[s.fqn]
        meta = table.metadata()
        epoch_id = epoch_ids[s.fqn]
        if epoch_id is not None and epoch_id in meta["committed_epochs"]:
            skipped[s.fqn] = {
                "skipped": True,
                "epoch_id": epoch_id,
                "version": meta["committed_epochs"][epoch_id],
            }
            continue
        stream_cols = {f.name for f in s.spark_schema.fields}
        batch_schema = T.StructType(
            [f for f in union_fields if f.name in stream_cols]
            + [
                T.StructField(SDC_LSN, T.LongType(), True),
                T.StructField(SDC_DELETED_AT, T.StringType(), True),
            ]
        )
        table_schema = T.StructType.fromJson(meta["schema"])
        try:
            new_schema = merge_schemas(
                table_schema, batch_schema, frozen=meta["key_columns"]
            )
        except TypeError:
            # destructive or key-frozen evolution → per-stream path
            # (which raises); lossless widenings resolve in merge_schemas
            return None
        # a pre-existing table column whose type differs from the fused
        # decode's output would need a cast the shared projection can't
        # express per-stream
        for f in new_schema.fields:
            if f.name in decoded_types and decoded_types[f.name] != f.dataType:
                return None
        live.append(
            {
                "idx": idx,
                "fqn": s.fqn,
                "table": table,
                "meta": meta,
                "epoch_id": epoch_id,
                "floor": floors.get(s.fqn),
                "key_columns": list(meta["key_columns"]),
                "new_version": meta["version"] + 1,
                "new_schema": new_schema,
            }
        )
    return FusedPlan(projected, union_fields, live, skipped, staging_root)


@contextlib.contextmanager
def _aqe_off(df: DataFrame):
    """AQE off on ``df``'s own session for the duration of one write.

    AQE would decompose a fused write into serial waves of query-stage
    materialization jobs (measured 18 jobs / 2 waves at 8 streams, 3
    jobs for a small tail epoch); nothing here needs it — the write
    width is explicit and the deltas are small.  The session must be
    the DataFrame's: a fused write inside a streaming ``foreachBatch``
    runs on the query's cloned session, so toggling the pipeline's
    session instead left AQE on for the write and flipped it under
    concurrent readers.  Compaction builds its union on a session
    of its own for the same reason.
    """
    conf = df.sparkSession.conf
    prev = conf.get(_AQE, "true")
    conf.set(_AQE, "false")
    try:
        yield
    finally:
        conf.set(_AQE, prev)


def _fused_skeleton(live: list[dict], data_cols: tuple[str, ...]) -> tuple:
    """The fused fold's epoch-invariant Columns, memoized per stream
    layout (plancache.py): grouping keys, the LWW winner and its
    unpacking, bucket id and write partitioning.  Rebuilt per epoch
    they cost ~1,700 py4j round trips at 8 streams."""
    layout = tuple(
        (
            p["idx"],
            tuple(p["key_columns"]),
            int(p["meta"]["num_buckets"]),
            p["table"]._bucket_fn(p["meta"]),
        )
        for p in live
    )

    def build():
        gidx = F.col(_GIDX)
        # to_json(struct(keys)) is collision-free per stream and lets
        # streams with different key column sets share the exchange
        key_repr = F.lit(None).cast("string")
        bucket = F.lit(None).cast("int")
        for p, (idx, keys, n_buckets, fn) in zip(live, layout):
            hit = gidx == idx
            key_repr = F.when(hit, F.to_json(F.struct(*keys))).otherwise(key_repr)
            bucket = F.when(
                hit, p["table"]._bucket_expr(keys, n_buckets, fn)
            ).otherwise(bucket)
        payload = F.struct(*data_cols)
        order = F.struct(F.col(SDC_LSN), F.col("txid"))
        return (
            [gidx, key_repr.alias("__key")],
            F.max_by(payload, order).alias("_w"),
            [gidx, F.col("_w.*")],
            bucket,
            [gidx, F.col(_BUCKET)],
        )

    return memo(("fused_skeleton", layout, data_cols), build)


def _fused_filter(live: list[dict]):
    """Routing + per-stream bookmark floor (finish_decode semantics),
    restricted to streams whose epoch isn't already committed; memoized
    by the live set and the floors' values, which change only when a
    bookmark advances."""
    live_idx = tuple(p["idx"] for p in live)
    floors = tuple(
        (p["idx"], int(p["floor"])) for p in live if p["floor"] is not None
    )

    def build():
        cond = (F.col("__status") == STATUS_OK) & F.col(_GIDX).isin(
            list(live_idx)
        )
        if not floors:
            return cond
        whens = " ".join(f"WHEN {i} THEN {SDC_LSN} >= {f}" for i, f in floors)
        return cond & F.expr(f"CASE {_GIDX} {whens} ELSE true END")

    return memo(("fused_filter", live_idx, floors), build)


def execute_grouped_fused(
    plan: FusedPlan, projected: DataFrame | None = None
) -> dict[str, dict[str, Any]]:
    """Fold + write + per-table commit.  ``projected`` lets the caller
    pass the observe-wrapped projection; defaults to the prepared one."""
    results = dict(plan.skipped)
    if not plan.live:
        return results
    df = projected if projected is not None else plan.projected
    data_cols = (*(f.name for f in plan.union_fields), SDC_LSN, SDC_DELETED_AT)
    group_cols, winner, unpacked, bucket, part_cols = _fused_skeleton(
        plan.live, data_cols
    )
    # the per-stream commit generation is the only per-epoch literal:
    # one CASE from ints
    whens = " ".join(f"WHEN {p['idx']} THEN {p['new_version']}" for p in plan.live)
    gen = F.expr(f"CAST(CASE {_GIDX} {whens} END AS BIGINT)")
    width = max(int(p["meta"]["num_buckets"]) for p in plan.live)
    out = (
        df.filter(_fused_filter(plan.live))
        .groupBy(*group_cols)
        .agg(winner)
        .select(*unpacked)
        .withColumn(SDC_GEN, gen)
        .withColumn(_BUCKET, bucket)
        .repartition(width, *part_cols)
    )

    def commit(p: dict, written: dict[str, list[str]]) -> None:
        results[p["fqn"]] = p["table"]._commit_delta(
            p["meta"], p["new_version"], p["new_schema"], written, p["epoch_id"]
        )
        plan.executed_fqns.append(p["fqn"])

    _write_slices(out, plan.live, plan.staging_root, commit)
    return results


def _write_slices(
    df: DataFrame,
    parts: list[dict],
    staging_root: str,
    commit: Callable[[dict, dict[str, list[str]]], None],
) -> None:
    """The staged N-table write shared by the fused merge and every
    compaction: ONE ``partitionBy(__gidx, _bucket)`` write of ``df``
    into staging (AQE off on ``df``'s session), then per part, in order,
    its ``__gidx`` slice renamed into the table's ``data/v{N}-…`` dir and
    ``commit(part, written buckets)`` — each table commits before the
    next renames, so a crash leaves a prefix of the tables committed.
    A part with no rows gets an empty dir.  Staging is removed either
    way."""
    staging = os.path.join(staging_root, f"grouped-{uuid.uuid4().hex[:12]}")
    try:
        with _aqe_off(df):
            df.write.mode("errorifexists").partitionBy(_GIDX, _BUCKET).parquet(
                staging
            )
        for p in parts:
            table: LakeTable = p["table"]
            rel_dir = table._next_data_dir(p["new_version"])
            out_abs = os.path.join(table.path, rel_dir)
            src = os.path.join(staging, f"{_GIDX}={p['idx']}")
            os.makedirs(os.path.dirname(out_abs), exist_ok=True)
            if os.path.exists(src):
                try:
                    os.rename(src, out_abs)
                except OSError:
                    shutil.move(src, out_abs)  # cross-device staging
            else:
                os.makedirs(out_abs, exist_ok=True)  # zero-row part
            commit(p, table._written_buckets(rel_dir))
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def compact_grouped(
    spark: SparkSession, tables: dict[str, LakeTable]
) -> dict[str, dict[str, Any]]:
    """TIERED compaction (depth 1, base kept) of N tables in ONE Spark
    job: :func:`_compact_tables` with every table as a tiered part.
    Tombstone dropping is not offered because tiered mode refuses it
    (see ``LakeTable.compact``).  ``spark`` is not used (ROADMAP lists
    its removal with the callers)."""
    return _compact_tables({fqn: (t, 1, False, None) for fqn, t in tables.items()})


def _compact_tables(
    parts: dict[str, tuple[LakeTable, int, bool, int | None]],
) -> dict[str, dict[str, Any]]:
    """Every compaction, one table or N, tiered or full, as ONE staged
    write.  ``parts`` maps a name to ``(table, max_delta_depth,
    include_base, drop_tombstones_below)`` (``LakeTable.compact``'s
    arguments); returns ``compact``'s summary per name.

    Each table's plan is ``compact``'s own ``_compaction_plan`` (the
    over-depth buckets' dirs, LWW by ``(lsn, gen)``), tagged with
    ``__gidx``; the plans are unioned, written once through
    :func:`_write_slices` and each table commits through
    ``_commit_compaction``.  There is no shared input to re-scan — each
    branch reads its own files — so branch folds run as concurrent
    stages of the one job.  Within each slice rows are sorted by that
    table's own key columns (typed, so integer keys sort numerically):
    clustered files give parquet row-group min/max stats real
    selectivity for point reads.

    The plans are built on a new session of the tables' Spark context,
    so turning AQE off for the write never touches the session that
    readers of these tables share; the commits go through the tables
    themselves.  A table whose column names collide with the group's at
    a different type takes its own ``compact()`` call."""
    results: dict[str, dict[str, Any]] = {}
    if not parts:
        return results
    session = next(iter(parts.values()))[0].spark.newSession()
    prepared: list[dict] = []
    col_types: dict[str, Any] = {}
    for idx, (fqn, (table, depth, include_base, floor)) in enumerate(parts.items()):
        meta = table.metadata()
        fields = T.StructType.fromJson(meta["schema"]).fields + [
            T.StructField(SDC_GEN, T.LongType())
        ]
        if any(col_types.get(f.name, f.dataType) != f.dataType for f in fields):
            results[fqn] = table.compact(
                depth, include_base=include_base, drop_tombstones_below=floor
            )
            continue
        view = LakeTable(session, table.path)
        view._buckets_cache = table._buckets_cache  # versions are immutable
        compaction = view._compaction_plan(meta, depth, include_base, floor)
        if compaction is None:
            results[fqn] = {"skipped": True, "reason": "nothing to compact"}
            continue
        col_types.update((f.name, f.dataType) for f in fields)
        todo, folded = compaction
        prepared.append(
            {
                "fqn": fqn,
                "idx": idx,
                "table": table,
                "meta": meta,
                "todo": todo,
                "include_base": include_base,
                "new_version": meta["version"] + 1,
                "df": folded.withColumn(_GIDX, F.lit(idx)),
            }
        )
    if not prepared:
        return results

    union = prepared[0]["df"]
    for p in prepared[1:]:
        union = union.unionByName(p["df"], allowMissingColumns=True)
    gidx = F.col(_GIDX)
    width = max(int(p["meta"]["num_buckets"]) for p in prepared)
    keys = [
        F.when(gidx == p["idx"], F.col(k))
        for p in prepared
        for k in p["meta"]["key_columns"]
    ]
    # one part's __gidx is a literal the optimizer folds to the write's
    # sort key (_bucket) alone; a sort led by that constant would miss
    # it, and the sort the write adds instead would drop the key order
    lead = [gidx] if len(prepared) > 1 else []
    union = union.repartition(width, gidx, F.col(_BUCKET)).sortWithinPartitions(
        *lead, F.col(_BUCKET), *keys
    )

    def commit(p: dict, written: dict[str, list[str]]) -> None:
        results[p["fqn"]] = p["table"]._commit_compaction(
            p["meta"], p["todo"], written, p["include_base"]
        )

    _write_slices(
        union, prepared, os.path.join(prepared[0]["table"].path, "_staging"),
        commit,
    )
    return results
