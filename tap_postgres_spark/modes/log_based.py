"""LOG_BASED replication: the WAL-replay pipeline (the flagship path).

The batch core shared by batch replay and Structured Streaming.  One
micro-batch flows::

    raw (lsn, txid, payload)
      → parse (enum repair + from_json)                 [decode.parse_raw_payloads]
      → classify (status + fqn routing)                 [decode.classify]
      → every stream in one plan, one stream included:
        union decode → one LWW fold → one staged write
        → a commit per table                            [lake.grouped fused merge]
        (per stream instead, for stream maps, partial updates, key
        updates or a type the shared projection cannot express:
        typed decode → agg LWW fold → MERGE INTO        [LakeTable.merge_into])
      → evolution correction                            [_evolve]
      → depth-triggered compaction: every due table,
        tiered or full, in one staged write             [lake.grouped._compact_tables]
      → bookmark advance + metrics/lineage write        [StateStore / metrics]

This is the vectorized re-creation of the reference's shared
single-connection WAL loop (/root/reference/tap_postgres/wal_reader.py:
124-257 ``SingleConnectionWALReader.run``/``_run_loop``/``_dispatch``),
with per-message Python dispatch replaced by one DataFrame pass and the
per-record emit replaced by a bucketed merge.

Scale notes (the 100 TB story):
- the classified batch is persisted once and feeds decode, metrics and
  evolution detection — no repeated payload parsing;
- routing is a column predicate, not a shuffle; the only shuffles per
  batch are the max_by LWW fold (bounded by |batch|) and the bucket
  repartition for the merge write (bounded by |distinct keys|);
- bookmark state is O(streams) driver-side metadata, exactly like the
  reference's STATE doc.
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Observation

from ..decode import (
    STATUS_MALFORMED,
    STATUS_OK,
    STATUS_TRUNCATE,
    STATUS_TXN_MARKER,
    STATUS_UNKNOWN_ACTION,
    STATUS_UNROUTABLE,
    classify,
    decode_projection,
    decode_stream,
    discover_columns,
    finish_decode,
    parse_raw_payloads,
)
from ..schema import SDC_DELETED_AT, SDC_LSN

_GLOBAL_STATUSES = (
    STATUS_MALFORMED,
    STATUS_TXN_MARKER,
    STATUS_TRUNCATE,
    STATUS_UNKNOWN_ACTION,
    STATUS_UNROUTABLE,
)
# statuses preserved in the dead-letter quarantine (txn markers and
# truncates are protocol, not failures)
_QUARANTINE_STATUSES = (
    STATUS_MALFORMED,
    STATUS_UNKNOWN_ACTION,
    STATUS_UNROUTABLE,
)
from ..lake import LakeTable
from ..plancache import memo
from ..schema import StreamDef, pg_type_to_spark, widened_type
from ..state import StateStore
from .txn import TxnBoundaryBuffer
from pyspark.sql import types as T


class CdcPipeline:
    """Applies WAL-event micro-batches to lake tables for N streams.

    ``streams``: StreamDef per replicated table; ``pg_types``: per-fqn
    map of column → wal2json type name (drives value coercions);
    ``tables``: per-fqn LakeTable targets.
    """

    def __init__(
        self,
        spark: SparkSession,
        streams: list[StreamDef],
        pg_types: dict[str, dict[str, str]],
        tables: dict[str, LakeTable],
        state: StateStore,
        metrics_dir: str | None = None,
        *,
        detect_evolution: bool = True,
        auto_compact_depth: int = 12,
        stream_maps: dict[str, dict] | None = None,
        full_compact_every: int = 8,
        dead_letter_dir: str | None = None,
        retention_keep_last: int | None = None,
        txn_boundary_dir: str | None = None,
        snapshots_dir: str | None = None,
        changefeed_dir: str | None = None,
        partial_updates: bool = False,
        key_updates: bool = False,
    ):
        self.spark = spark
        self.streams = {s.fqn: s for s in streams}
        if not streams:
            # empty-registration rejection (reference wal_reader.py:95-114
            # + tests/test_wal_reader.py:235-247)
            raise ValueError("at least one stream must be registered")
        if len(self.streams) != len(streams):
            # duplicate-FQN rejection (reference wal_reader.py:95-114)
            raise ValueError("duplicate stream FQNs registered")
        self.pg_types = pg_types
        self.tables = tables
        self.state = state
        self.metrics_dir = metrics_dir
        self.detect_evolution = detect_evolution
        self.auto_compact_depth = auto_compact_depth
        self.full_compact_every = max(1, int(full_compact_every))
        self.dead_letter_dir = dead_letter_dir
        # snapshot retention: after each FULL compaction, expire versions
        # beyond the newest ``retention_keep_last`` (None = keep all).
        # Riding the full-compact cadence keeps expiration off the
        # per-batch path and guarantees the expired range never includes
        # uncompacted deltas a reader could still need.
        self.retention_keep_last = retention_keep_last
        # transaction-boundary atomicity: when set, apply_batch defers
        # data rows of transactions whose commit marker hasn't arrived
        # yet, so a committed batch never exposes half a transaction
        # (see modes/txn.py for the full contract)
        self.txn_buffer = (
            TxnBoundaryBuffer(spark, txn_boundary_dir)
            if txn_boundary_dir is not None
            else None
        )
        # cross-table consistent read point: when set, every applied
        # epoch publishes a pipeline snapshot manifest AFTER all tables'
        # merges + maintenance land, so multi-table readers resolve every
        # table at one epoch boundary (see lake/snapshots.py)
        if snapshots_dir is not None:
            from ..lake.snapshots import PipelineSnapshots

            self.snapshots: PipelineSnapshots | None = PipelineSnapshots(
                spark, snapshots_dir
            )
        else:
            self.snapshots = None
        # live CDC fan-out: when set, every applied epoch re-publishes
        # each stream's changelog as a WAL feed under
        # <changefeed_dir>/<fqn>/ (lake/changefeed.py) — a downstream
        # pipeline tails the FIRST table instead of a second replication
        # slot.  Pointer-idempotent, so crash-replayed epochs re-export
        # the same rows under the same names.
        self.changefeed_dir = changefeed_dir
        self._compact_count: dict[str, int] = {}
        # per-fqn stream maps applied to decoded rows before the merge —
        # the SDK applies maps to every RECORD before emission (reference
        # README.md:13,51-53); here it is one extra projection on the
        # decode plan.  Maps must not drop key or _sdc_* columns (the
        # merge needs them); validated at apply time.
        self.stream_maps = stream_maps or {}
        # TOAST-safe partial updates (operators/partial.py): wal2json
        # omits unchanged TOASTed columns from U events under REPLICA
        # IDENTITY DEFAULT; without this flag the wholesale LWW fold
        # would overwrite the stored value with NULL.  Opt-in because it
        # widens the fold aggregate and adds a bucket-pruned point read
        # on batches that actually contain partial images.
        self.partial_updates = bool(partial_updates)
        if self.partial_updates and self.stream_maps:
            # a map's projection can rename/derive columns, desyncing
            # the presence bitmask's bit order from the schema
            raise ValueError("partial_updates and stream_maps are exclusive")
        # primary-key-changing UPDATEs (beyond-reference, decode.py
        # key_updates docs): a key-change U expands to tombstone(old key)
        # + upsert(new key).  Composes with partial_updates, with one
        # documented honest corner: a key-change U that ALSO omits an
        # unchanged TOASTed column cannot fill from the OLD key's row
        # (the fill point-read joins on the new key) — those columns
        # stay NULL and are counted in `partial.unresolved`, never
        # silently invented.
        self.key_updates = bool(key_updates)

    def _apply_stream_map(self, df, stream: StreamDef):
        mapping = self.stream_maps.get(stream.fqn)
        if not mapping:
            return df
        from ..schema import SDC_DELETED_AT, SDC_LSN
        from ..stream_maps import apply_stream_map

        protected = set(stream.key_properties) | {SDC_LSN, SDC_DELETED_AT}
        dropped = {
            k
            for k, v in mapping.items()
            if k in protected and (v is None or v == "__NULL__")
        }
        if dropped:
            raise ValueError(
                f"stream map for {stream.fqn} drops protected columns {sorted(dropped)}"
            )
        return apply_stream_map(df, mapping)

    # ------------------------------------------------------------------
    def _discover_evolution(
        self, classified: DataFrame, stream: StreamDef
    ) -> tuple[list[tuple[str, str]], list[tuple[str, str, T.DataType]]]:
        """Schema-evolution detection over the batch's events.  Full-schema
        re-parse + distinct — runs only when a cheap trigger in the stats
        pass fires (the width trigger for new columns; the value-level
        ``__overflow`` probe for type widenings, decode.py).

        Returns ``(new_cols, retyped)``:

        - ``new_cols``: (name, wal2json type) absent from the stream schema
          (the additive path, reference tap.py:693-741).
        - ``retyped``: (name, new wal2json type, widened Spark type) for
          KNOWN columns whose wal2json type string changed vs the recorded
          ``pg_types`` baseline AND whose Spark type widens losslessly
          (Postgres ``ALTER COLUMN ... TYPE int4→int8`` etc.).  The pg-type
          STRING comparison is the change signal — comparing Spark types
          would false-positive on deliberate mappings like
          dates-as-string.  A batch straddling the ALTER carries both
          types for the column; the widest wins.  A non-widening type
          change raises (destructive evolution is out of contract, same
          stance as schema.merge_schemas); so does a key-column change
          (bucket placement hashes the raw key — lake/table.py)."""
        known = {f.name: f for f in stream.spark_schema.fields}
        pg_known = self.pg_types.get(stream.fqn, {})
        pairs = discover_columns(classified, stream.fqn)
        new_cols = [(n, t) for n, t in pairs if n not in known]
        retyped: dict[str, tuple[str, T.DataType]] = {}
        for name, pg_type in pairs:
            field = known.get(name)
            old_pg = pg_known.get(name)
            if field is None or not pg_type:
                continue
            new_t = pg_type_to_spark(pg_type)
            cur = retyped.get(name, ("", field.dataType))[1]
            if new_t == cur:
                continue
            baseline_changed = (
                old_pg is not None
                and pg_type.strip().lower() != old_pg.strip().lower()
            )
            wide = widened_type(cur, new_t)
            if wide is None:
                if baseline_changed:
                    raise TypeError(
                        f"{stream.fqn}.{name}: wal2json type changed "
                        f"{old_pg!r} → {pg_type!r} ({cur} → {new_t}) and "
                        "is not a lossless widening; destructive "
                        "evolution is out of contract"
                    )
                # deliberate mapping divergence (dates-as-string, enum
                # fallback, json-as-object) or no recorded baseline —
                # not a retype signal
                continue
            if wide == cur:
                continue
            if name in stream.key_properties:
                raise TypeError(
                    f"{stream.fqn}.{name}: type change on a key column "
                    f"({old_pg!r} → {pg_type!r}); key types are frozen — "
                    "bucket placement hashes the raw key (rebucket() is "
                    "the rewrite path)"
                )
            retyped[name] = (pg_type, wide)
        return new_cols, [(n, pg, t) for n, (pg, t) in retyped.items()]

    def _evolve(
        self,
        stream: StreamDef,
        new_cols: list[tuple[str, str]],
        retyped: list[tuple[str, str, T.DataType]] = (),
    ) -> StreamDef:
        wide_by_name = {n: (pg, t) for n, pg, t in retyped}
        pg = dict(self.pg_types.get(stream.fqn, {}))
        fields = []
        for f in stream.spark_schema.fields:
            if f.name in wide_by_name:
                new_pg, new_t = wide_by_name[f.name]
                fields.append(T.StructField(f.name, new_t, nullable=True))
                pg[f.name] = new_pg
            else:
                fields.append(f)
        for name, pg_type in new_cols:
            fields.append(
                T.StructField(name, pg_type_to_spark(pg_type or "text"), nullable=True)
            )
            pg[name] = pg_type or "text"
        self.pg_types[stream.fqn] = pg
        evolved = StreamDef(
            schema_name=stream.schema_name,
            table_name=stream.table_name,
            spark_schema=T.StructType(fields),
            key_properties=stream.key_properties,
            replication_method=stream.replication_method,
            replication_key=stream.replication_key,
            selected_columns=stream.selected_columns,
            custom_where_clauses=stream.custom_where_clauses,
            max_record_count=stream.max_record_count,
        )
        self.streams[stream.fqn] = evolved
        return evolved

    # ------------------------------------------------------------------
    def apply_batch(
        self,
        raw: DataFrame,
        epoch_id: str,
        batch_time: datetime | None = None,
    ) -> dict[str, Any]:
        """Apply one micro-batch of raw WAL payloads.  Idempotent per
        ``epoch_id`` (commit-epoch dedup in each LakeTable).  With
        ``txn_boundary_dir`` set, the batch is first split at
        transaction boundaries (modes/txn.py): rows of transactions
        whose ``C`` marker hasn't arrived defer to the next batch."""
        if self.txn_buffer is not None:
            return self._apply_batch_txn(raw, epoch_id, batch_time)
        return self._apply_batch_core(raw, epoch_id, batch_time)

    def _apply_batch_txn(
        self,
        raw: DataFrame,
        epoch_id: str,
        batch_time: datetime | None,
    ) -> dict[str, Any]:
        buf = self.txn_buffer
        in_dir = buf.input_dir(epoch_id)
        full = raw.select("lsn", "txid", "payload")
        if in_dir is not None:
            full = full.unionByName(self.spark.read.parquet(in_dir))
        # the split persists only the tiny committed-txid set; both
        # outputs re-scan the raw batch (see split's docstring for the
        # measured cost rationale)
        ready, deferred, cached = buf.split(full)
        try:
            # ONE action covers the spill write AND its stats (observe
            # rides the write scan) — and materializes the committed set
            obs = Observation()
            deferred = deferred.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.min("lsn").alias("lo"),
            )
            out_dir = buf.stage_dir(epoch_id)
            deferred.write.mode("overwrite").parquet(out_dir)
            obs_row = obs.get  # one read: each is a few py4j round trips
            n_def, min_lsn = int(obs_row["n"]), obs_row["lo"]
            if not n_def:
                import shutil

                shutil.rmtree(out_dir, ignore_errors=True)
                out_dir = None
            result = self._apply_batch_core(ready, epoch_id, batch_time)
        finally:
            cached.unpersist()
        # pointer commits AFTER the merge: a crash anywhere in between
        # replays this epoch against the SAME input dir (input_dir()
        # returns ptr["in"] for the pointer's own epoch), recomputing an
        # identical split over an identical union
        buf.commit(epoch_id, in_dir, out_dir, n_def, min_lsn)
        result["txn"] = {
            "deferred": n_def,
            "pending_dir": out_dir,
            "pending_min_lsn": None if min_lsn is None else int(min_lsn),
        }
        return result

    def _apply_batch_core(
        self,
        raw: DataFrame,
        epoch_id: str,
        batch_time: datetime | None = None,
    ) -> dict[str, Any]:
        batch_time = batch_time or datetime.now(timezone.utc)
        fqns = list(self.streams.keys())
        # accept either raw (lsn, txid, payload) or an already-parsed
        # batch (_env present) — the txn split hands over raw rows (its
        # flag pass uses a narrow action-only parse; see txn.py), so the
        # full LEAN_SCHEMA parse happens exactly once, here
        envelope = raw if "_env" in raw.columns else parse_raw_payloads(raw)
        classified = classify(envelope, fqns)
        # fused merge (lake/grouped.py): ONE decode + fold + write job for
        # all streams, one stream included, instead of a merge job per
        # stream — the round-4 profile showed the 8-stream small-batch gap
        # is N× duplicated batch scans plus per-job fixed overhead.
        # prepare is driver-only (metadata + schema checks); None → the
        # sequential per-stream merges below, as for stream maps, partial
        # updates and key updates.
        fused_plan = None
        if not (self.stream_maps or self.partial_updates or self.key_updates):
            from ..lake.grouped import prepare_grouped_fused

            fused_plan = prepare_grouped_fused(
                classified,
                list(self.streams.values()),
                self.pg_types,
                self.tables,
                {fqn: f"{epoch_id}:{fqn}" for fqn in fqns},
                {fqn: self.state.bookmark(fqn) for fqn in fqns},
                staging_root=os.path.join(self.tables[fqns[0]].path, "_staging"),
                batch_time=batch_time,
            )
        # caching the parsed batch only pays off when several per-stream
        # merges will re-scan it; the fused plan scans it exactly ONCE (its
        # rare re-readers — dead-letter quarantine, evolution discovery —
        # are cheaper as a re-parse than every batch paying the cache
        # write), and so does a single per-stream merge
        cache = len(self.streams) > 1 and fused_plan is None
        if cache:
            classified = classified.persist()
        try:
            # All batch metrics ride the merge's own scan via observe():
            # status counters + per-fqn emitted counts (reference
            # wal_reader.py:116-122), max LSN seen (wal_reader.py:239) and
            # the evolution trigger (widest column image per stream —
            # wal2json I/U carries the full row image, so a new column
            # always shows up as size(columns) > |known schema|).  Zero
            # extra passes over the batch on the happy path.
            obs = Observation()

            def build_aggs() -> list:
                aggs = [F.max(F.col(SDC_LSN)).alias("max_lsn")]
                for s in _GLOBAL_STATUSES:
                    aggs.append(
                        F.sum(
                            F.when(F.col("__status") == s, 1).otherwise(0)
                        ).alias(f"status.{s}")
                    )
                for fqn in fqns:
                    ok = (F.col("__fqn") == fqn) & (
                        F.col("__status") == STATUS_OK
                    )
                    aggs.append(
                        F.sum(F.when(ok, 1).otherwise(0)).alias(f"ok.{fqn}")
                    )
                    aggs.append(
                        F.max(F.when(ok, F.col("__ncols"))).alias(f"cols.{fqn}")
                    )
                    # value-level type-widening trigger (decode.py
                    # _overflow_probe) — lit(0) plans for all-string
                    # streams, so the flagship pipeline pays nothing
                    aggs.append(
                        F.max(F.when(ok, F.col("__overflow"))).alias(
                            f"overflow.{fqn}"
                        )
                    )
                return aggs

            # ~2 Columns per stream per batch — memoized (plancache.py);
            # the Observation object itself stays per-batch
            aggs = memo(("batch_aggs", tuple(fqns)), build_aggs)

            results: dict[str, Any] = {}
            observed_df = None
            obs_fired = False
            # every stream's plan is built (stream maps validated) before
            # the first merge writes anything
            merge_jobs: list[tuple[str, Any, bool]] = []
            # fqn -> (summary, Observation|None, persisted folded df)
            partial_meta: dict[str, tuple] = {}
            if fused_plan is not None:
                from ..lake.grouped import execute_grouped_fused

                # metrics ride the fused projection — same aggs, one
                # plan; fires iff any stream's slice actually wrote
                observed_df = fused_plan.projected.observe(obs, *aggs)
                results.update(execute_grouped_fused(fused_plan, observed_df))
                obs_fired = bool(fused_plan.executed_fqns)
            else:
                for fqn, stream in list(self.streams.items()):
                    proj = decode_projection(
                        classified,
                        stream,
                        self.pg_types.get(fqn, {}),
                        batch_time=batch_time,
                        with_mask=self.partial_updates,
                        key_updates=self.key_updates,
                    )
                    if observed_df is None:
                        proj = observed_df = proj.observe(obs, *aggs)
                    decoded = self._apply_stream_map(
                        finish_decode(proj, stream, self.state.bookmark(fqn)),
                        stream,
                    )
                    if self.partial_updates:
                        decoded = self._resolve_partial(
                            fqn, stream, decoded, partial_meta
                        )
                    merge_jobs.append((fqn, decoded, proj is observed_df))
            for fqn, decoded, observed in merge_jobs:
                results[fqn] = self.tables[fqn].merge_into(
                    decoded, epoch_id=f"{epoch_id}:{fqn}"
                )
                if observed and not results[fqn].get("skipped"):
                    obs_fired = True

            if not obs_fired:
                # every observed-plan merge was an epoch-dedup no-op
                # (crash replay): run one cheap pass so metrics + the
                # evolution trigger still materialize for this batch.
                # (In partial mode the resolve's bucket-discovery collect
                # already fired the observation; the noop re-fire is
                # ignored by Observation's first-result semantics.)
                observed_df.write.mode("overwrite").format("noop").save()

            for fqn, (psummary, pobs, pfolded) in partial_meta.items():
                info = dict(psummary)
                if pobs is not None and not results[fqn].get("skipped"):
                    info["unresolved"] = int(
                        pobs.get.get("partial_unresolved") or 0
                    )
                results[fqn]["partial"] = info
                pfolded.unpersist()

            # one read: each Observation.get is a few py4j round trips
            obs_row = obs.get
            metrics = {k: (v if v is not None else 0) for k, v in obs_row.items()}
            max_lsn_seen = obs_row["max_lsn"]
            metrics_rows = [
                {"_fqn": None, "_status": s, "n": metrics[f"status.{s}"]}
                for s in _GLOBAL_STATUSES
            ] + [
                {"_fqn": fqn, "_status": STATUS_OK, "n": metrics[f"ok.{fqn}"]}
                for fqn in fqns
            ]

            # dead-letter quarantine: raw payloads that could not be
            # applied (malformed JSON, unknown action, unroutable FQN) are
            # preserved for audit/replay instead of only counted — the
            # production analog of the reference logging-and-skipping
            # (wal_reader.py:262-297).  Gated on the observe() counters so
            # a clean batch (the overwhelming case) pays ZERO extra work;
            # a dirty batch pays one filtered re-scan.  Overwrite-per-epoch
            # keeps crash replay idempotent.
            dead_letter = None
            if self.dead_letter_dir is not None:
                n_bad = sum(
                    int(metrics[f"status.{s}"]) for s in _QUARANTINE_STATUSES
                )
                if n_bad:
                    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", epoch_id)
                    dl_path = os.path.join(self.dead_letter_dir, f"epoch={safe}")
                    (
                        classified.filter(
                            F.col("_status").isin(*_QUARANTINE_STATUSES)
                        )
                        .select(
                            "lsn",
                            "txid",
                            "payload",
                            F.col("_status").alias("reason"),
                        )
                        .write.mode("overwrite")
                        .parquet(dl_path)
                    )
                    dead_letter = {"rows": n_bad, "path": dl_path}

            # schema evolution: trigger from the observed width, then the
            # exact (rare) discovery pass; the re-decoded correction batch
            # supersedes the just-written rows via the _sdc_gen tie-break
            for fqn, stream in list(self.streams.items()):
                if not self.detect_evolution:
                    continue
                width = obs_row.get(f"cols.{fqn}")
                # __ncols counts the event's DATA columns; a CDC-widened
                # StreamDef (catalog.discover_lake_table) also carries the
                # _sdc_lsn/_sdc_deleted_at system columns, which must not
                # inflate the comparison or 1-2-column evolutions are
                # silently missed
                data_width = len(
                    [
                        f
                        for f in stream.spark_schema.fields
                        if f.name not in (SDC_LSN, SDC_DELETED_AT)
                    ]
                )
                width_fired = width is not None and width > data_width
                # type widening (ALTER COLUMN TYPE) never changes the
                # width; its trigger is the value-level overflow probe
                overflow_fired = bool(obs_row.get(f"overflow.{fqn}"))
                if not (width_fired or overflow_fired):
                    continue
                new_cols, retyped = self._discover_evolution(
                    classified, stream
                )
                if not new_cols and not retyped:
                    continue
                stream = self._evolve(stream, new_cols, retyped)
                corrected = self._apply_stream_map(
                    decode_stream(
                        classified,
                        stream,
                        self.pg_types.get(fqn, {}),
                        bookmark_lsn=self.state.bookmark(fqn),
                        batch_time=batch_time,
                        with_mask=self.partial_updates,
                        key_updates=self.key_updates,
                    ),
                    stream,
                )
                evolve_meta: dict[str, tuple] = {}
                if self.partial_updates:
                    # the correction re-decodes the batch with the EVOLVED
                    # schema (new mask bit order), so it needs its own
                    # per-column fold + fill; the table it fills from
                    # already holds this batch's main merge, which the
                    # corrected rows supersede via the _sdc_gen tie-break
                    corrected = self._resolve_partial(
                        fqn, stream, corrected, evolve_meta
                    )
                results[fqn]["evolution"] = self.tables[fqn].merge_into(
                    corrected, epoch_id=f"{epoch_id}:{fqn}:evolve"
                )
                for _summary, _pobs, pfolded in evolve_meta.values():
                    pfolded.unpersist()
                results[fqn]["evolved_columns"] = [c for c, _t in new_cols]
                if retyped:
                    results[fqn]["retyped_columns"] = {
                        n: f"{pg} ({t.simpleString()})" for n, pg, t in retyped
                    }

            # Scale policy: the depth trigger normally runs TIERED
            # compaction (fold the delta tier only — O(changes since
            # base), never O(table)); every ``full_compact_every``-th
            # firing for a table runs a FULL pass that folds the base in
            # and reclaims tombstones below the committed filter floor
            # (finish_decode drops events <= floor, so those can never
            # be contradicted).  Every due table, tiered and full, folds
            # in ONE job (lake/grouped.py:_compact_tables).
            due: dict[str, tuple] = {}
            for fqn in fqns:
                table = self.tables[fqn]
                if (
                    self.auto_compact_depth
                    and table.delta_depth() > self.auto_compact_depth
                ):
                    self._compact_count[fqn] = self._compact_count.get(fqn, 0) + 1
                    full = self._compact_count[fqn] % self.full_compact_every == 0
                    floor = self.state.bookmark(fqn) if full else None
                    due[fqn] = (
                        table, 1, full, int(floor) if floor is not None else None
                    )
            if due:
                from ..lake.grouped import _compact_tables

                for fqn, summary in _compact_tables(due).items():
                    results[fqn]["compaction"] = summary
                    table, _depth, full, _floor = due[fqn]
                    if full and self.retention_keep_last is not None:
                        results[fqn]["retention"] = table.expire_versions(
                            keep_last=self.retention_keep_last
                        )
                        # orphan GC rides the retention cadence: dirs
                        # staged by crashed/conflicted writers are
                        # invisible to expire_versions (they sit at or
                        # above the floor); the 24 h default horizon keeps
                        # any in-flight writer safe
                        results[fqn]["vacuum"] = table.vacuum()

            # Track max LSN seen as a WATERMARK only (reference
            # max_lsn_seen, wal_reader.py:208,239).  The filter bookmark
            # (floor) stays put during a run: Spark's file source may
            # deliver batches out of LSN order across a crash-restart, so
            # advancing the floor here could silently drop events.  The
            # floor advances via advance_to_tip() on successful drain —
            # the reference's idle-exit (wal_reader.py:167-176,307-344);
            # its timeout-exit "advance only to max seen" maps to Spark
            # never committing unread offsets, which we get for free.
            if max_lsn_seen is not None:
                for fqn in self.streams:
                    self.state.advance_watermark(fqn, int(max_lsn_seen))
                self.state.flush()

            self._write_metrics(epoch_id, batch_time, metrics_rows, results)
            out: dict[str, Any] = {
                "epoch_id": epoch_id,
                "max_lsn_seen": max_lsn_seen,
                "metrics": metrics_rows,
                "streams": results,
                "dead_letter": dead_letter,
            }
            if self.changefeed_dir is not None:
                from ..lake.changefeed import export_changefeed

                out["changefeed"] = {
                    fqn: export_changefeed(
                        self.tables[fqn],
                        os.path.join(self.changefeed_dir, fqn),
                        stream.schema_name,
                        stream.table_name,
                        self.pg_types.get(fqn),
                    )
                    for fqn, stream in self.streams.items()
                }
            if self.snapshots is not None:
                # publish after every table's merge + maintenance: a
                # crash before this line leaves readers on the previous
                # epoch's manifest (still consistent); the replayed epoch
                # no-ops the committed merges and publishes then
                out["snapshot"] = self.snapshots.publish(
                    epoch_id, self.tables
                )
            return out
        finally:
            if cache:
                classified.unpersist()

    def _resolve_partial(
        self,
        fqn: str,
        stream: StreamDef,
        decoded: DataFrame,
        partial_meta: dict[str, tuple],
    ) -> DataFrame:
        """Partial-update path (operators/partial.py): per-column LWW
        fold, then fill still-absent columns from the table's current
        image (bucket-pruned point read).  Returns the FULL-image batch
        the normal merge consumes; the folded relation is persisted —
        it is scanned by the bucket-discovery action here and again by
        the merge — and released after the batch."""
        from ..decode import data_columns
        from ..operators.partial import (
            fold_partial_lww,
            resolve_partial_images,
        )

        table = self.tables[fqn]
        key_cols = table.metadata()["key_columns"]
        dcols = data_columns(stream)
        folded = fold_partial_lww(decoded, key_cols, dcols).persist()
        pobs = Observation()
        filled, summary = resolve_partial_images(
            table, folded, key_cols, dcols, observation=pobs
        )
        partial_meta[fqn] = (
            summary,
            pobs if summary["buckets"] else None,
            folded,
        )
        return filled

    # ------------------------------------------------------------------
    def replay_dead_letters(
        self, path: str, epoch_id: str
    ) -> dict[str, Any]:
        """Re-apply quarantined payloads through the normal pipeline —
        the recovery half of the dead-letter contract.  ``path`` is a
        quarantine dir written by a previous batch (``epoch=<id>`` leaf
        or the whole ``dead_letter_dir`` tree); typical flow: inspect
        the (lsn, txid, payload, reason) rows, fix the payloads (or the
        upstream bug that produced them) by rewriting the parquet, then
        replay under a fresh epoch id.

        Safe by construction: rows that are STILL unappliable simply
        quarantine again under the new epoch (no loss, no loop), clean
        rows merge with full LWW semantics — a quarantined-then-fixed
        event older than what the table already holds loses the fold
        exactly like any late replay, and the epoch guard makes the
        whole replay idempotent.

        Bypasses the txn-boundary split deliberately: a quarantined
        row's commit marker flowed past when the row was first seen, so
        the replay treats fixed rows as standalone (their transaction
        already committed upstream)."""
        raw = self.spark.read.parquet(path).select("lsn", "txid", "payload")
        return self._apply_batch_core(raw, epoch_id=epoch_id)

    def advance_to_tip(self, tip_lsn: int) -> None:
        """Idle-exit semantics (reference wal_reader.py:167-176 + tests
        :408-427): when fully caught up, advance ALL bookmarks to the
        server WAL tip — even past events filtered for other tables — so
        retained WAL (here: already-consumed feed files) is released.

        With a txn buffer, the advance is capped one LSN below the
        oldest pending (uncommitted-transaction) row — idle-exit must
        not release WAL whose rows are still waiting for their commit
        marker."""
        tip = int(tip_lsn)
        if self.txn_buffer is not None:
            floor = self.txn_buffer.pending_floor()
            if floor is not None:
                tip = min(tip, floor)
        for fqn in self.streams:
            self.state.advance(fqn, "_sdc_lsn", tip)
        self.state.flush()

    def _write_metrics(
        self,
        epoch_id: str,
        batch_time: datetime,
        metrics_rows: list[dict[str, Any]],
        results: dict[str, Any],
    ) -> None:
        """Per-epoch metrics + lineage doc (north-rule: per-partition
        lineage + metrics).  Tiny, driver-side, append-only."""
        if not self.metrics_dir:
            return
        os.makedirs(self.metrics_dir, exist_ok=True)
        doc = {
            "epoch_id": epoch_id,
            "batch_time": batch_time.isoformat(),
            "counts": metrics_rows,
            "merges": {
                fqn: {k: v for k, v in r.items() if k != "lineage"}
                | {"lineage": r.get("lineage", {})}
                for fqn, r in results.items()
            },
            "bookmarks": self.state.bookmarks(),
        }
        safe = epoch_id.replace("/", "_").replace(":", "_")
        with open(os.path.join(self.metrics_dir, f"epoch-{safe}.json"), "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
