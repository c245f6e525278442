"""Iceberg-style bucketed lake table with MERGE-INTO semantics.

The sandbox image ships no Iceberg/Delta runtime jars, so this module
implements the subset of the Iceberg table spec the CDC sink needs, from
scratch on parquet + atomic metadata pointers:

- **Versioned snapshots** — every commit writes ``metadata/v{N}.json`` and
  atomically swaps ``metadata/_current`` (tmp + ``os.replace``).  Old
  versions remain readable (time travel).
- **Hash-bucket layout** — rows live in ``num_buckets`` buckets keyed by
  a hash of the key columns (murmur3 for new tables — chosen because its
  bucket ids coincide with Spark's HashPartitioning ids, letting merge
  writes reuse the fold's shuffle; xxhash64 on pre-existing tables).
  Bucketing on the FULL key ``(repo, path)``
  spreads hot repos structurally (a repo with 10^7 paths lands evenly
  across all buckets), and lets both merges and key-predicate reads prune
  to touched buckets only.
- **Merge-on-read deltas + compaction** — ``merge_into`` appends only the
  folded per-batch delta (O(|batch|) write, never O(|table|)), keeping
  delete tombstones; readers resolve last-writer-wins by ``_sdc_lsn``;
  ``compact()`` folds a bucket's base+deltas into one file, retaining
  tombstones until the committed bookmark floor passes them (out-of-order
  replay safety).  This is what keeps a 10^10-event replay write-bounded —
  the copy-on-write alternative would rewrite the whole table every
  micro-batch.
- **Exactly-once** — each commit records its ``epoch_id`` in table
  metadata (≙ Iceberg snapshot-summary); a replayed micro-batch with an
  already-committed epoch is a no-op *before any data is written*.  This
  is the commit-epoch dedup guard from the north star; combined with
  Spark's checkpointed offsets it gives end-to-end exactly-once.
- **Optimistic concurrency** — commits run under an atomic lock and
  validate their parent version; a writer whose planned parent is no
  longer the head gets :class:`CommitConflictError` instead of silently
  dropping the other writer's commit (Iceberg's commit contract).
  Retention (``expire_versions``) holds the same lock across its
  resolve→rewrite→delete sequence.
- **Additive schema evolution** — new columns in a batch widen the table
  schema (nullable); old files are read with schema-on-read, missing
  columns yielding NULL.  Mirrors the reference's additive-only LOG_BASED
  widening (/root/reference/tap_postgres/tap.py:693-741).

The Singer message mapping (SURVEY.md §2.1 S6/S7): SCHEMA message ≙ the
schema recorded in each metadata version; RECORD stream ≙ delta files;
STATE ≙ commit + the caller's checkpoint/bookmark store.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid
from collections.abc import Sequence
from datetime import datetime, timezone
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.lww import fold_last_writer_wins_agg, fold_last_writer_wins_arrow
from ..plancache import memo
from ..schema import SDC_DELETED_AT, SDC_LSN, merge_schemas

if TYPE_CHECKING:
    import pyarrow as pa


class CommitConflictError(RuntimeError):
    """Another writer committed a version since this operation read the
    table metadata.  The Iceberg contract re-created: commits validate
    their parent under an atomic lock and CONFLICT instead of silently
    overwriting the pointer (last-wins would drop the other writer's
    commit from the chain).  Callers retry by re-reading and re-applying
    — for the CDC sink the epoch guard makes a blind retry safe."""


_BUCKET = "_bucket"
# commit-generation system column, stored in every data file but absent
# from the logical schema: ties on _sdc_lsn across deltas (e.g. a
# schema-evolution correction re-writing the same events) resolve to the
# NEWEST commit deterministically.  Old files lack it → NULL → lose ties.
SDC_GEN = "_sdc_gen"
_HELPER_COLS = (
    "_action", "txid", _BUCKET, "__status", "__fqn", "__ncols", "__overflow"
)
# column types a driver-side read passes through Arrow unchanged
# (LakeTable._read_on_driver); tables with any other type take the
# Spark read.  Nested types are left out: a NULL
# map<string,array<int>> comes back from the Arrow path as an empty map.
_ARROW_EXACT_TYPES = (
    T.StringType, T.BinaryType, T.BooleanType, T.ByteType, T.ShortType,
    T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType,
    T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _dir_version(commit_dir: str) -> int | None:
    """Version embedded in a commit-dir name (``v00000007-ab12cd34`` → 7);
    ``None`` for names that don't follow the layout."""
    if (
        len(commit_dir) >= 9
        and commit_dir[0] == "v"
        and commit_dir[1:9].isdigit()
    ):
        return int(commit_dir[1:9])
    return None


def _list_parquet_files(directory: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(directory):
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return sorted(out)


def _with_gen(schema: T.StructType) -> T.StructType:
    return T.StructType(
        list(schema.fields) + [T.StructField(SDC_GEN, T.LongType(), True)]
    )


def _is_local(df: DataFrame) -> bool:
    """``df``'s plan optimizes to a local relation (rows built on the
    driver), which Spark collects with no job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def _collect_arrow(df: DataFrame) -> pa.Table:
    """``df``'s rows as an Arrow table.  A plan that optimizes to a
    local relation (keys built on the driver) is collected with no
    Spark job, which ``toArrow`` would run; any other plan takes one."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    if not _is_local(df):
        return df.toArrow()
    rows = df.collect()
    if not rows:
        return to_arrow_schema(df.schema).empty_table()
    return LocalDataToArrowConversion.convert(rows, df.schema, False)


def _footer_stats(
    files: list[str], column: str | None
) -> tuple[int, int | None]:
    """(row count, max of ``column``) across files in ONE footer parse
    per file — the commit path reads both, and parsing every footer
    twice doubled the per-commit driver-side metadata cost."""
    import pyarrow.parquet as pq

    rows = 0
    best: int | None = None
    for f in files:
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        if column is None:
            continue
        try:
            idx = md.schema.names.index(column)
        except ValueError:
            continue
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is not None and st.has_min_max:
                v = st.max
                if best is None or v > best:
                    best = v
    return rows, best


class LakeTable:
    """A bucketed, versioned CDC target table.

    Metadata growth is bounded (round-2, VERDICT item #7): a commit
    normally records only a **delta manifest** (the buckets it touched —
    O(touched buckets) bytes, like Iceberg's per-snapshot manifest list),
    with a full ``buckets`` map checkpointed every
    ``CHECKPOINT_INTERVAL`` versions (like a Delta checkpoint) so readers
    walk ≤ CHECKPOINT_INTERVAL parent manifests.  ``committed_epochs`` is
    pruned to the ``EPOCH_RETENTION`` most recent commits: the
    exactly-once dedup guard only ever needs the recent window, because a
    crash-restart replays at most the last uncommitted micro-batch(es) —
    Spark's checkpointed offsets never re-deliver epochs older than that.
    Without this, a 10^5-commit stream writes O(commits) JSON per version
    → O(commits²) cumulative metadata."""

    CHECKPOINT_INTERVAL = 16
    EPOCH_RETENTION = 128

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # versions are immutable once written → cache resolved bucket maps
        self._buckets_cache: dict[int, dict[str, list[str]]] = {}

    # ------------------------------------------------------------------ DDL
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_columns: Sequence[str],
        num_buckets: int = 32,
    ) -> "LakeTable":
        """Create an empty table (version 1).  ``schema`` should already be
        CDC-widened (``_sdc_lsn``/``_sdc_deleted_at`` present) for CDC use;
        plain schemas work for FULL_TABLE targets."""
        t = cls(spark, path)
        os.makedirs(os.path.join(path, "metadata"), exist_ok=True)
        meta = {
            "format": "tap_postgres_spark/lake-v1",
            "version": 1,
            "schema": json.loads(schema.json()),
            "key_columns": list(key_columns),
            "num_buckets": int(num_buckets),
            # murmur3 bucket ids EQUAL Spark's HashPartitioning partition
            # ids (pmod(murmur3(keys), n)), so a fold exchange on the key
            # columns already lays rows out by bucket and the write can
            # skip its own shuffle (see _write_bucketed aligned=).  Tables
            # created before this key default to "xxhash64" on read.
            "bucket_fn": "murmur3",
            # bucket id (str) -> list of data dirs (relative), LWW-merged on read
            "buckets": {},
            "committed_epochs": {},
            "summary": {"operation": "create"},
            "parent": None,
        }
        t._write_metadata(meta)
        return t

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(path, "metadata", "_current"))

    # ------------------------------------------------------------- metadata
    LOCK_STALE_SECONDS = 120.0

    def _commit_lock(self):
        """Atomic cross-process commit lock (``O_CREAT|O_EXCL`` on a lock
        file — atomic on POSIX local and NFS; object-store deployments
        swap this for a conditional-PUT, the same contract).  A lock left
        by a crashed writer is broken after ``LOCK_STALE_SECONDS``."""
        import contextlib
        import time as _time

        lock_path = os.path.join(self.path, "metadata", "_commit.lock")

        @contextlib.contextmanager
        def _held():
            deadline = _time.monotonic() + self.LOCK_STALE_SECONDS
            while True:
                try:
                    fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    break
                except FileExistsError:
                    try:
                        age = _time.time() - os.path.getmtime(lock_path)
                    except OSError:
                        continue  # holder released between EEXIST and stat
                    if age > self.LOCK_STALE_SECONDS:
                        # stale (crashed holder): CLAIM the break via
                        # rename — exactly one breaker's rename succeeds,
                        # so a second waiter cannot unlink the first
                        # breaker's freshly-created lock (the unlink-then-
                        # create race)
                        stale = f"{lock_path}.stale-{uuid.uuid4().hex[:8]}"
                        try:
                            os.rename(lock_path, stale)
                            os.unlink(stale)
                        except OSError:
                            pass  # another waiter claimed the break
                        continue
                    if _time.monotonic() > deadline:
                        raise TimeoutError(
                            f"commit lock held >"
                            f"{self.LOCK_STALE_SECONDS}s: {lock_path}"
                        )
                    _time.sleep(0.02)
            try:
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                yield
            finally:
                try:
                    os.unlink(lock_path)
                except OSError:
                    pass

        return _held()

    def _write_metadata(
        self, meta: dict[str, Any], *, expect_parent: int | None = None
    ) -> None:
        mdir = os.path.join(self.path, "metadata")
        os.makedirs(mdir, exist_ok=True)
        # commit wall-clock, for timestamp time travel (read(as_of=...)).
        # Stamped here unconditionally: callers inherit the parent's
        # metadata dict, and a carried-over parent stamp would make two
        # versions share one commit time.
        meta["committed_at"] = datetime.now(timezone.utc).isoformat()
        with self._commit_lock():
            # optimistic concurrency: validate that the version this
            # operation planned against is still the head.  Without this
            # two concurrent writers both swap _current and the loser's
            # commit silently vanishes from the chain.
            if expect_parent is not None:
                head = self.current_version()
                if head != expect_parent:
                    raise CommitConflictError(
                        f"table advanced to v{head} while committing "
                        f"v{meta['version']} (planned against "
                        f"v{expect_parent}); re-read and retry"
                    )
            vpath = os.path.join(mdir, f"v{meta['version']:08d}.json")
            with open(vpath, "w") as f:
                json.dump(meta, f, indent=1, sort_keys=True)
            # atomic pointer swap — the commit
            fd, tmp = tempfile.mkstemp(dir=mdir, suffix=".ptr.tmp")
            with os.fdopen(fd, "w") as f:
                f.write(str(meta["version"]))
            os.replace(tmp, os.path.join(mdir, "_current"))

    def current_version(self) -> int:
        with open(os.path.join(self.path, "metadata", "_current")) as f:
            return int(f.read().strip())

    def metadata(self, version: int | None = None) -> dict[str, Any]:
        v = version if version is not None else self.current_version()
        with open(os.path.join(self.path, "metadata", f"v{v:08d}.json")) as f:
            return json.load(f)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.metadata()["schema"])

    @property
    def key_columns(self) -> list[str]:
        return list(self.metadata()["key_columns"])

    @property
    def num_buckets(self) -> int:
        return int(self.metadata()["num_buckets"])

    def committed_epochs(self) -> dict[str, int]:
        return dict(self.metadata()["committed_epochs"])

    def buckets_map(self, version: int | None = None) -> dict[str, list[str]]:
        """Resolve the {bucket: [data dirs]} map at ``version``: start from
        the nearest full checkpoint at-or-below it and apply the delta
        manifests forward.  ≤ CHECKPOINT_INTERVAL metadata reads."""
        v = version if version is not None else self.current_version()
        cached = self._buckets_cache.get(v)
        if cached is None:
            chain: list[dict[str, Any]] = []
            cur: int | None = v
            buckets: dict[str, list[str]] = {}
            while cur is not None:
                m = self.metadata(cur)
                if "buckets" in m:  # full checkpoint (also: every pre-v2 doc)
                    buckets = {b: list(dl) for b, dl in m["buckets"].items()}
                    break
                chain.append(m)
                cur = m["parent"]
            for m in reversed(chain):
                d = m.get("buckets_delta", {})
                for b, dl in d.get("append", {}).items():
                    buckets[b] = buckets.get(b, []) + list(dl)
                for b, dl in d.get("set", {}).items():
                    buckets[b] = list(dl)
                for b in d.get("drop", []):
                    buckets.pop(b, None)
            self._buckets_cache[v] = cached = buckets
        return {b: list(dl) for b, dl in cached.items()}

    def _buckets_doc(
        self,
        new_version: int,
        full: dict[str, list[str]],
        delta: dict[str, Any] | None,
    ) -> dict[str, Any]:
        """Delta manifest normally; full map on checkpoint versions or
        when the caller rewrote everything (delta=None)."""
        if delta is None or new_version % self.CHECKPOINT_INTERVAL == 0:
            return {"buckets": full}
        return {"buckets_delta": delta}

    @classmethod
    def _prune_epochs(cls, committed: dict[str, int]) -> dict[str, int]:
        if len(committed) <= cls.EPOCH_RETENTION:
            return committed
        keep = sorted(committed.items(), key=lambda kv: kv[1])[-cls.EPOCH_RETENTION:]
        return dict(keep)

    def history(self) -> list[dict[str, Any]]:
        out = []
        v: int | None = self.current_version()
        while v is not None:
            m = self.metadata(v)
            out.append({"version": v, "summary": m["summary"]})
            v = m["parent"]
        return out

    # ---------------------------------------------------------------- reads
    def _bucket_expr(
        self,
        key_columns: Sequence[str],
        num_buckets: int,
        fn: str = "xxhash64",
    ):
        def build():
            cols = [F.col(c) for c in key_columns]
            h = F.hash(*cols) if fn == "murmur3" else F.xxhash64(*cols)
            return F.pmod(h, F.lit(num_buckets)).cast("int")

        return memo(("bucket_expr", tuple(key_columns), num_buckets, fn), build)

    def _bucket_fn(self, meta: dict[str, Any]) -> str:
        return meta.get("bucket_fn", "xxhash64")

    @staticmethod
    def _narrow_schema(
        schema: T.StructType,
        key_columns: Sequence[str],
        columns: Sequence[str],
    ) -> T.StructType:
        """Reduced read schema: keys + requested + LWW resolution
        columns, in table order.  Unknown names raise (a column absent
        from THIS version's schema would otherwise silently read NULL)."""
        known = {f.name for f in schema.fields}
        missing = [c for c in columns if c not in known]
        if missing:
            raise ValueError(f"columns not in schema: {missing}")
        need = set(columns) | set(key_columns) | {SDC_LSN, SDC_DELETED_AT}
        return T.StructType([f for f in schema.fields if f.name in need])

    def _write_aligned(
        self,
        meta: dict[str, Any],
        num_buckets: int,
        df: DataFrame | None = None,
    ) -> bool:
        """True when the relation to write is ALREADY partitioned by
        bucket: murmur3 bucket ids are exactly Spark's HashPartitioning
        ids when the plan's output partitioning is
        ``hashpartitioning(<key columns>, num_buckets)``, so the write's
        own repartition would shuffle the full (content-heavy) folded
        batch a second time only to reproduce the layout it has.

        The static gate (fn + width) is necessary but NOT sufficient —
        the planner may elide the fold's exchange entirely (e.g. Spark's
        distinct-keys propagation on synthetic inputs proves the keys
        unique, so ANY partitioning is clustered-by-key), so when ``df``
        is given its actual output partitioning is verified.  AQE
        coalescing afterwards only ever MERGES whole partitions, which
        keeps each bucket inside one task.  Misdetection is never a
        correctness risk — ``partitionBy`` routes rows by VALUE — only a
        file-count one."""
        if self._bucket_fn(meta) != "murmur3":
            return False
        try:
            width = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            return False
        if width != int(num_buckets):
            return False
        if df is None:
            return True
        try:
            part = (
                df._jdf.queryExecution().executedPlan().outputPartitioning().toString()
            )
        except Exception:
            return False
        if not (part.startswith("hashpartitioning(") and part.endswith(")")):
            return False
        inner = part[len("hashpartitioning("):-1]
        segs = [x.strip() for x in inner.split(",")]
        if not segs or segs[-1] != str(int(num_buckets)):
            return False
        names = [x.split("#")[0] for x in segs[:-1]]
        return names == list(meta["key_columns"])

    def _data_files(self, dirs: list[str]) -> list[str]:
        files: list[str] = []
        for d in dirs:
            files.extend(_list_parquet_files(os.path.join(self.path, d)))
        return files

    def _read_dirs(self, dirs: list[str], schema: T.StructType) -> DataFrame:
        return self._read_files(self._data_files(dirs), schema)

    def _read_files(self, files: list[str], schema: T.StructType) -> DataFrame:
        """Spark read of ``files`` under ``schema`` plus ``_sdc_gen``."""
        read_schema = _with_gen(schema)
        if not files:
            # an Arrow-built empty table plans as a LocalRelation, which
            # runs no Spark job; an empty row list would be an RDD
            from pyspark.sql.pandas.types import to_arrow_schema

            empty = to_arrow_schema(read_schema).empty_table()
            return self.spark.createDataFrame(empty, read_schema)
        # explicit schema-on-read: files written before a schema evolution
        # lack the new columns → NULL-filled, exactly Iceberg's behavior.
        return self.spark.read.schema(read_schema).parquet(*files)

    def version_as_of(self, ts: datetime | str) -> int:
        """Largest version committed at or before ``ts`` (Iceberg
        timestamp time-travel resolution).  ``ts`` may be a datetime or
        an ISO-8601 string; naive datetimes are taken as UTC.  Raises if
        the timestamp precedes the oldest readable version.  Walks only
        the manifest files that still exist, so tables that have expired
        versions (:meth:`expire_versions`) keep timestamp time travel
        inside the retained window — the floor manifest preserves its
        original ``committed_at`` stamp."""
        if isinstance(ts, str):
            ts = datetime.fromisoformat(ts)
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        best = None
        mdir = os.path.join(self.path, "metadata")
        existing = sorted(
            int(f[1:9]) for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        )
        for v in existing:
            at = self.metadata(v).get("committed_at")
            if at is not None and datetime.fromisoformat(at) <= ts:
                best = v
        if best is None:
            raise ValueError(f"no version committed at or before {ts.isoformat()}")
        return best

    def version_for_lsn(self, lsn: int) -> int:
        """Largest version whose cumulative applied-WAL watermark is at
        or below ``lsn`` — time travel by WAL position instead of by
        commit timestamp (`SELECT ... AS OF LSN`, the CDC-native axis).

        The cumulative watermark is the running max over each commit's
        ``summary.bucket_watermarks`` (merge commits record the parquet
        footer max ``_sdc_lsn`` per written bucket; compaction rewrites
        carry forward — a full compaction may drop the historical-max
        tombstone, so its own footers can read LOW and must not regress
        the running max).  With batches applied in LSN order (a normal
        run) the returned version is exactly "state after every event
        with lsn <= L"; combined with transaction-boundary atomic apply
        (modes/txn.py) it is a transaction-consistent snapshot.  Walks
        only manifests that still exist; raises when ``lsn`` precedes
        the retained window."""
        lsn = int(lsn)
        mdir = os.path.join(self.path, "metadata")
        existing = sorted(
            int(f[1:9]) for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        )
        best = None
        running: int | None = None
        for v in existing:
            wms = (self.metadata(v).get("summary") or {}).get(
                "bucket_watermarks"
            ) or {}
            if wms:
                commit_wm = max(int(w) for w in wms.values())
                running = commit_wm if running is None else max(running, commit_wm)
            if running is None or running <= lsn:
                best = v
        if best is None:
            raise ValueError(
                f"lsn {lsn} precedes the oldest retained version's watermark"
            )
        return best

    def read(
        self,
        version: int | None = None,
        *,
        buckets: Sequence[int] | None = None,
        include_tombstones: bool = False,
        as_of: datetime | str | None = None,
        as_of_lsn: int | None = None,
        semi_keys: DataFrame | None = None,
        columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """Current (or time-travel) state of the table.

        Resolution: last-writer-wins by ``_sdc_lsn`` across base+delta
        files, then tombstones dropped.  With ``buckets`` given, only
        those buckets' files are scanned (bucket pruning — pair with
        :meth:`buckets_for_keys` for key-predicate point reads).
        Time travel: by ``version`` number, by commit timestamp with
        ``as_of`` (:meth:`version_as_of`), or by WAL position with
        ``as_of_lsn`` (:meth:`version_for_lsn`).

        ``columns`` narrows the SCAN, not just the output: the LWW fold
        is ``max_by(struct(<every column>))``, which blocks Catalyst's
        column pruning — a ``.select()`` after ``read()`` still reads
        the full row width off parquet.  Passing ``columns`` builds the
        narrowed read schema directly (keys + requested + the ``_sdc_*``
        resolution columns), so a 2-column consumer of a wide table
        scans 2 columns.  Output = key columns + requested + ``_sdc_lsn``
        + ``_sdc_deleted_at``.

        ``semi_keys`` (a DataFrame carrying the key columns) filters to
        those keys with a broadcast LEFT SEMI applied to the raw scan
        BELOW the LWW fold — correct because a filter on the full
        grouping key commutes with a per-key fold, and essential at
        scale: Catalyst does not push a semi join under the ``max_by``
        aggregate, so joining after ``read()`` folds every scanned
        bucket's rows only to discard most groups.  NULL-safe equality,
        so it composes with key columns that permit NULL (aggregate
        views' group keys).

        Without ``semi_keys``, a read whose files fit under
        ``spark.sql.autoBroadcastJoinThreshold`` is read and folded on
        the driver and returns as a local relation, with no Spark job
        (:meth:`_merge_on_read`); the Spark read and fold run above it.
        """
        if sum(x is not None for x in (version, as_of, as_of_lsn)) > 1:
            raise ValueError("pass at most one of version / as_of / as_of_lsn")
        if as_of is not None:
            version = self.version_as_of(as_of)
        if as_of_lsn is not None:
            version = self.version_for_lsn(as_of_lsn)
        meta = self.metadata(version)
        schema = T.StructType.fromJson(meta["schema"])
        if columns is not None:
            schema = self._narrow_schema(schema, meta["key_columns"], columns)
        bmap = self.buckets_map(meta["version"])
        sel = (
            {str(b) for b in buckets} if buckets is not None else set(bmap.keys())
        )
        dirs = [d for b, dl in bmap.items() if b in sel for d in dl]
        return self._merge_on_read(
            self._data_files(dirs), schema, meta["key_columns"],
            tombstones=include_tombstones, semi_keys=semi_keys,
        )

    def read_changes(
        self, from_version: int, to_version: int | None = None,
        *, fold: bool = True, columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """Incremental changelog read (Iceberg incremental-scan parity):
        the change rows committed by merge versions in
        ``(from_version, to_version]`` — upserts AND delete tombstones,
        LWW-folded per key across the range so a downstream consumer can
        apply them idempotently.  Reads only the range's delta dirs
        (O(|changes|), never O(|table|)), on the driver while they fit
        the size gate of :meth:`read`.

        ``fold=False`` returns the RAW per-commit row versions instead
        (one row per key per merge commit that touched it, tombstones
        included) — the version-history relation a point-in-time join
        (``operators.temporal.point_in_time_join``) consumes.  Note each
        merge batch was already folded to one row per key at write time,
        so intra-batch intermediate states are not recoverable; history
        resolution is commit granularity.

        ``compact`` commits in the range are pass-through: a compact's
        data dirs are full-bucket rewrites, not change sets, but each
        merge manifest's ``summary.lineage`` still records that merge's
        own change dirs (which survive compaction until retention
        expires their version), so skipping compacts yields the correct
        changelog.  Overwrites still raise.  Ranges that
        cross the retention floor (:meth:`expire_versions`) raise
        instead of silently truncating: the floor manifest's
        ``parent: null`` is detected mid-walk."""
        to_v = to_version if to_version is not None else self.current_version()
        meta = self.metadata(to_v)
        dirs: list[str] = []
        v: int | None = to_v
        while v is not None and v > from_version:
            m = meta if v == to_v else self.metadata(v)
            op = m["summary"].get("operation", "")
            if op.startswith("merge-mor"):
                dirs.extend(d for dl in m["summary"]["lineage"].values() for d in dl)
            elif op in ("create", "compact", "rebucket"):
                # full-bucket rewrites, not change sets — each merge's
                # lineage still records its own change dirs
                pass
            else:
                raise ValueError(
                    f"read_changes: version {v} is {op!r}, not a MOR merge — "
                    "changelog is only defined over merge-on-read commits"
                )
            parent = m["parent"]
            if parent is None and v > from_version + 1:
                # chain ends (retention floor / table creation) before the
                # requested range is covered → the changelog below v has
                # been expired; a partial return would silently corrupt
                # incremental consumers (e.g. refresh_derived)
                raise ValueError(
                    f"read_changes: range ({from_version}, {to_v}] crosses "
                    f"the retention floor at v{v} "
                    f"(expired_below={m.get('expired_below', False)}); the "
                    "changelog below the floor has been expired — "
                    "re-bootstrap the consumer from a full read()"
                )
            v = parent
        schema = T.StructType.fromJson(meta["schema"])
        if columns is not None:
            # same scan-narrowing rationale as read(columns=): the fold
            # struct otherwise forces the full row width off parquet
            schema = self._narrow_schema(schema, meta["key_columns"], columns)
        return self._merge_on_read(
            self._data_files(dirs), schema, meta["key_columns"],
            fold=fold, tombstones=True,
        )

    def read_keys(
        self,
        keys_df: DataFrame,
        *,
        pushdown_limit: int = 128,
        columns: Sequence[str] | None = None,
    ) -> DataFrame:
        """Point/batch read: rows whose key appears in ``keys_df`` (a
        DataFrame carrying the key columns), from one table version.
        Keys match NULL-safely (a NULL key finds the NULL-keyed row).  A
        bounded probe collects up to ``pushdown_limit + 1`` key rows, as
        they come (no ``distinct``, so at most one Spark job, and none
        when ``keys_df`` is a local relation); its raw row count picks
        the strategy, and its rows are deduplicated on the driver:

        - ``≤ pushdown_limit`` rows (point reads): the probe is the only
          Spark action.  Bucket ids come from the probed rows (the
          table's bucket expression over a local relation, which Spark
          evaluates on the driver), so only the buckets the keys hash to
          are opened.  While those buckets' files fit under
          ``spark.sql.autoBroadcastJoinThreshold``, they are read and
          folded on the driver (:meth:`_read_on_driver`): pyarrow
          reads them under the table schema with the OR-of-keys filter
          pushed into the scan, then last-writer-wins by ``(_sdc_lsn,
          _sdc_gen)`` drops tombstones, and the rows return as a local
          relation.  Above the threshold, when it is -1, or when a
          column type has no exact Arrow path, the pruned Spark read
          runs instead: the OR-of-keys predicate lets parquet skip row
          groups (selective on compacted, key-clustered files) and the
          LWW fold runs over the survivors only.  Both return the same
          rows, columns and types.
        - more rows (batch lookups — e.g. re-scoring a changelog's keys —
          or many duplicates of a few keys): NO row collect and no
          predicate tree.  Bucket pruning still applies (the
          distinct-bucket list is bounded by ``num_buckets``, never by
          the key count), then a broadcast
          LEFT SEMI join filters the pruned scan BELOW the LWW fold
          (``read(semi_keys=...)``) — fold work is O(matching rows),
          not O(pruned buckets).  At 10^6 lookup keys against 10^10
          rows this reads only the touched buckets and ships only the
          key set — the OR-chain alternative would build a 10^6-term
          predicate the optimizer cannot even analyze.
        """
        meta = self.metadata()
        version, keys = meta["version"], meta["key_columns"]
        kdf = keys_df.select(*keys)
        probe = _collect_arrow(kdf.limit(pushdown_limit + 1))
        if probe.num_rows > pushdown_limit:
            bks = self.buckets_for_keys(kdf, version)
            return self.read(version, buckets=bks, semi_keys=kdf, columns=columns)
        probe = probe.group_by(keys, use_threads=False).aggregate([])
        schema = T.StructType.fromJson(meta["schema"])
        if columns is not None:
            schema = self._narrow_schema(schema, keys, columns)
        bks = self._probe_buckets(probe, kdf.schema, meta) if probe.num_rows else []
        bmap = self.buckets_map(version)
        files = self._data_files([d for b in bks for d in bmap.get(str(b), ())])
        return self._merge_on_read(files, schema, keys, probe=probe)

    def _probe_buckets(
        self, probe: pa.Table, key_schema: T.StructType, meta: dict[str, Any]
    ) -> list[int]:
        """Bucket ids of the probed keys (an Arrow table) without a
        Spark job: the bucket expression over a local relation is
        folded into it by the optimizer and collected on the driver."""
        b = self._bucket_expr(
            meta["key_columns"], meta["num_buckets"], self._bucket_fn(meta)
        )
        local = self.spark.createDataFrame(probe, key_schema)
        return sorted({r[0] for r in local.select(b).collect()})

    def _driver_read_fits(self, files: list[str], schema: T.StructType) -> bool:
        """Size gate of the driver-side read: the files
        must fit under ``spark.sql.autoBroadcastJoinThreshold`` (the
        bound Spark itself puts on a relation it pulls to the driver;
        -1 disables the path) and every column must have an exact
        Arrow conversion.  On a 4-vCPU host, a 3-key read of one
        bucket was faster on the driver up to 36 MB of files and level
        with Spark at 72 MB, so the 10 MB default sits well inside."""
        conf = self.spark._jsparkSession.sessionState().conf()
        limit = conf.autoBroadcastJoinThreshold()
        return (
            limit >= 0
            and all(isinstance(f.dataType, _ARROW_EXACT_TYPES) for f in schema.fields)
            and sum(os.path.getsize(f) for f in files) <= limit
        )

    def _merge_on_read(
        self,
        files: list[str],
        schema: T.StructType,
        keys: Sequence[str],
        *,
        fold: bool = True,
        tombstones: bool = False,
        probe: pa.Table | None = None,
        semi_keys: DataFrame | None = None,
    ) -> DataFrame:
        """Rows of ``files`` under ``schema`` (missing columns NULL),
        last-writer-wins folded per key by ``(_sdc_lsn, _sdc_gen)`` when
        ``fold``, tombstones dropped unless ``tombstones``.  ``probe``
        (an Arrow table of key values) or ``semi_keys`` (a DataFrame of
        them) keeps only those keys, NULL-safely, below the fold.

        Inside :meth:`_driver_read_fits` and without ``semi_keys`` it
        runs on the driver (:meth:`_read_on_driver`), with no Spark job;
        otherwise as a Spark read and fold.  Both return the same rows,
        columns and types."""
        if semi_keys is None and self._driver_read_fits(files, schema):
            return self._read_on_driver(
                files, schema, keys, fold=fold, tombstones=tombstones, probe=probe
            )
        df = self._read_files(files, schema)
        if probe is not None:
            pred = None
            for r in probe.to_pylist():
                one = None
                for k in keys:
                    c = F.col(k).eqNullSafe(F.lit(r[k]))
                    one = c if one is None else (one & c)
                pred = one if pred is None else (pred | one)
            df = df.filter(pred) if pred is not None else df.limit(0)
        if semi_keys is not None:
            kdf = semi_keys.select(*keys).distinct().alias("__sk")
            scan = df.alias("__t")
            cond = None
            for c in keys:
                one = F.col(f"__t.{c}").eqNullSafe(F.col(f"__sk.{c}"))
                cond = one if cond is None else (cond & one)
            df = scan.join(F.broadcast(kdf), cond, "left_semi")
        if fold and SDC_LSN in df.columns:
            df = fold_last_writer_wins_agg(df, keys, (SDC_LSN, SDC_GEN))
            if not tombstones and SDC_DELETED_AT in df.columns:
                df = df.filter(F.col(SDC_DELETED_AT).isNull())
        return df.drop(SDC_GEN)

    def _read_on_driver(
        self,
        files: list[str],
        schema: T.StructType,
        keys: Sequence[str],
        *,
        fold: bool,
        tombstones: bool,
        probe: pa.Table | None,
    ) -> DataFrame:
        """:meth:`_merge_on_read` on the driver, with no Spark job:
        pyarrow reads ``files`` under the table schema (missing columns
        NULL, narrow integers widened) with the probe's OR-of-keys
        filter pushed into the scan, :func:`fold_last_writer_wins_arrow`
        folds them, and the rows return as a local relation with the
        Spark read's columns, order and types."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        read_schema = to_arrow_schema(_with_gen(schema))
        pred = None
        for i in range(probe.num_rows if probe is not None else 0):
            one = None
            for k in keys:
                v = probe.column(k)[i]
                c = (
                    ds.field(k) == v.cast(read_schema.field(k).type)
                    if v.is_valid
                    else ds.field(k).is_null()
                )
                one = c if one is None else (one & c)
            pred = one if pred is None else (pred | one)
        if files:
            # Spark writes timestamps as INT96 by default; read them in
            # microseconds, as Spark does (pyarrow's nanosecond default
            # overflows on dates outside 1677..2262)
            fmt = ds.ParquetFileFormat(
                read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
            )
            tbl = ds.dataset(files, schema=read_schema, format=fmt).to_table(
                filter=pred, use_threads=False
            )
        else:
            tbl = read_schema.empty_table()
        names = schema.names
        if fold and SDC_LSN in names:
            tbl = fold_last_writer_wins_arrow(tbl, keys, (SDC_LSN, SDC_GEN))
            if not tombstones and SDC_DELETED_AT in names:
                tbl = tbl.filter(pc.is_null(tbl.column(SDC_DELETED_AT)))
            names = list(keys) + [n for n in names if n not in keys]
        out = T.StructType([T.StructField(n, schema[n].dataType, True) for n in names])
        return self.spark.createDataFrame(tbl.select(names), out)

    def buckets_for_keys(
        self, keys_df: DataFrame, version: int | None = None
    ) -> list[int]:
        """Bucket ids the given keys hash to.  Pass ``version`` when the
        list will prune a time-travel ``read(version=...)``: a
        :meth:`rebucket` between that version and the head changes the
        bucket count, and ids computed under the new layout would prune
        the WRONG dirs of the old one."""
        meta = self.metadata(version)
        b = self._bucket_expr(
            meta["key_columns"], meta["num_buckets"], self._bucket_fn(meta)
        )
        ids = keys_df.select(b.alias("b"))
        if _is_local(ids):
            # keys built on the driver are hashed there, with no job
            return sorted({r[0] for r in ids.collect()})
        return [r[0] for r in ids.distinct().collect()]

    # --------------------------------------------------------------- writes
    def _next_data_dir(self, version: int) -> str:
        return os.path.join("data", f"v{version:08d}-{uuid.uuid4().hex[:8]}")

    def _written_buckets(self, rel_dir: str) -> dict[str, list[str]]:
        """{bucket: [rel_dir/_bucket=b]} for the bucket dirs a
        ``partitionBy(_bucket)`` write left under ``rel_dir``."""
        return {
            entry.split("=", 1)[1]: [os.path.join(rel_dir, entry)]
            for entry in os.listdir(os.path.join(self.path, rel_dir))
            if entry.startswith(f"{_BUCKET}=")
        }

    def _write_bucketed(
        self, df: DataFrame, rel_dir: str, num_buckets: int,
        sort_keys: Sequence[str] | None = None,
        aligned: bool = False,
    ) -> dict[str, list[str]]:
        """Write ``df`` (which carries ``_bucket``) partitioned by bucket.
        Returns {bucket: [rel_dir/…]} for the buckets actually written.

        ``repartition(num_buckets, _bucket)`` gives ~one task per bucket →
        one file per bucket per commit, keeping file counts linear in
        commits, not in shuffle width.  (The AQE-coalescible alternative
        — ``repartition(_bucket)`` with no explicit width — was measured
        2× SLOWER per small merge in an interleaved A/B, min 2.7 s vs
        1.3 s at 62k rows / 64 buckets: AQE's extra stage planning plus
        two buckets per write task cost more than 64 near-empty tasks
        save.  Explicit width kept.)

        ``sort_keys`` clusters rows by key WITHIN each bucket file (a
        partition-local sort — no extra shuffle).  ``rebucket`` passes the
        key columns (compaction clusters the same way in its own write):
        clustered base files give parquet row-group min/max stats real
        selectivity, so a point read inside a bucket skips most row
        groups instead of scanning the whole bucket file.  Merge deltas
        skip it (batch-sized files, rewritten by the next compact
        anyway).
        """
        # aligned=True (see _write_aligned): the relation was just folded
        # by groupBy(key_cols) with exchange width == num_buckets and a
        # murmur3 bucket fn, so each shuffle partition already holds
        # exactly one bucket — the repartition would re-shuffle the full
        # folded batch (content strings included) only to reproduce the
        # layout it already has.  partitionBy routes by VALUE either way,
        # so alignment affects file counts, never row placement.
        shaped = df if aligned else df.repartition(num_buckets, F.col(_BUCKET))
        if sort_keys:
            shaped = shaped.sortWithinPartitions(*sort_keys)
        (
            shaped
            .write.mode("errorifexists")
            .partitionBy(_BUCKET)
            .parquet(os.path.join(self.path, rel_dir))
        )
        return self._written_buckets(rel_dir)

    def _prepare_batch(
        self,
        batch: DataFrame,
        meta: dict[str, Any],
        new_version: int,
        *,
        fold: bool,
    ) -> tuple[DataFrame, T.StructType]:
        """Schema-align, fold to one row per key (``fold``), add bucket +
        generation."""
        key_cols = meta["key_columns"]
        table_schema = T.StructType.fromJson(meta["schema"])
        data_cols = [c for c in batch.columns if c not in _HELPER_COLS and c != SDC_GEN]
        batch_schema = T.StructType(
            [f for f in batch.schema.fields if f.name in data_cols]
        )
        new_schema = merge_schemas(table_schema, batch_schema, frozen=key_cols)

        folded = fold_last_writer_wins_agg(batch, key_cols) if fold else batch
        folded_cols = set(folded.columns)

        def build_align():
            return [
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in folded_cols
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in new_schema.fields
            ]

        # memoized (plancache.py): only the generation literal varies
        # per merge commit
        align_cols = memo(
            ("align", new_schema.json(), tuple(sorted(folded_cols))),
            build_align,
        )
        aligned = folded.select(
            *align_cols,
            F.lit(new_version).cast("long").alias(SDC_GEN),
        )
        bucketed = aligned.withColumn(
            _BUCKET,
            self._bucket_expr(key_cols, meta["num_buckets"], self._bucket_fn(meta)),
        )
        return bucketed, new_schema

    def merge_into(
        self, batch: DataFrame, epoch_id: str | None = None
    ) -> dict[str, Any]:
        """MERGE INTO this table USING ``batch`` ON the key columns.

        Semantics = the Iceberg CDC merge (SURVEY.md §2.5 J1)::

            WHEN MATCHED AND batch._sdc_deleted_at IS NOT NULL THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED AND NOT deleted THEN INSERT *

        ``batch`` must carry the key columns and ``_sdc_lsn``; rows with
        ``_sdc_deleted_at`` set are deletes.  The batch is folded to one
        row per key first (max_by hash aggregation with map-side combine,
        skew-proof by construction), then appended merge-on-read: only
        the folded delta is written — O(|batch|) I/O — and readers resolve
        LWW-by-``(_sdc_lsn, _sdc_gen)`` across base and deltas, so an
        out-of-order lower-LSN replay batch loses to already-applied newer
        rows.  Delete tombstones are retained as that LSN evidence until
        :meth:`compact` passes the committed bookmark floor.

        Returns the commit summary.  If ``epoch_id`` was already
        committed, returns ``{"skipped": True, ...}`` without writing
        (idempotent replay — north-star exactly-once).
        """
        meta = self.metadata()
        if epoch_id is not None and epoch_id in meta["committed_epochs"]:
            return {
                "skipped": True,
                "epoch_id": epoch_id,
                "version": meta["committed_epochs"][epoch_id],
            }
        new_version = meta["version"] + 1
        bucketed, new_schema = self._prepare_batch(
            batch, meta, new_version, fold=True
        )
        rel_dir = self._next_data_dir(new_version)
        written = self._write_bucketed(
            bucketed,
            rel_dir,
            meta["num_buckets"],
            aligned=self._write_aligned(meta, meta["num_buckets"], bucketed),
        )
        return self._commit_delta(meta, new_version, new_schema, written, epoch_id)

    def _commit_delta(
        self,
        meta: dict[str, Any],
        new_version: int,
        new_schema: T.StructType,
        written: dict[str, list[str]],
        epoch_id: str | None,
    ) -> dict[str, Any]:
        """Driver-side merge-on-read commit of already-written delta
        files: ``written`` appended to each bucket's dir list, footer
        stats, lineage summary, metadata pointer swap.  Shared by
        :meth:`merge_into` and the grouped multi-stream commit
        (lake/grouped.py), whose data files land via one fused write
        job before each table commits its own slice here."""
        buckets = self.buckets_map(meta["version"])
        for b, dl in written.items():
            buckets[b] = buckets.get(b, []) + dl
        committed = dict(meta["committed_epochs"])
        if epoch_id is not None:
            committed[epoch_id] = new_version
        # per-partition (bucket) LSN watermarks + row count from parquet
        # footer stats — the north-rule "checkpoints carrying
        # per-partition LSN watermarks", at zero extra Spark jobs (row-
        # group min/max statistics); ONE footer parse per file covers
        # both the count and the watermark
        has_lsn = any(f.name == SDC_LSN for f in new_schema.fields)
        rows_written = 0
        bucket_watermarks = {}
        for b, dl in written.items():
            files = [
                f
                for d in dl
                for f in _list_parquet_files(os.path.join(self.path, d))
            ]
            n, wm = _footer_stats(files, SDC_LSN if has_lsn else None)
            rows_written += n
            if wm is not None:
                bucket_watermarks[b] = int(wm)
        summary = {
            "operation": "merge-mor",
            "epoch_id": epoch_id,
            "rows_written": rows_written,
            "buckets_written": sorted(written.keys(), key=int),
            # per-partition lineage: which buckets this commit touched and
            # the data dir that holds the rows (north-rule lineage+metrics)
            "lineage": {b: dl for b, dl in written.items()},
            "bucket_watermarks": bucket_watermarks,
        }
        base = {k: v for k, v in meta.items() if k not in ("buckets", "buckets_delta")}
        self._write_metadata(
            {
                **base,
                "version": new_version,
                "schema": json.loads(new_schema.json()),
                **self._buckets_doc(new_version, buckets, {"append": written}),
                "committed_epochs": self._prune_epochs(committed),
                "summary": summary,
                "parent": meta["version"],
            },
            expect_parent=meta["version"],
        )
        self._buckets_cache[new_version] = buckets
        return {"skipped": False, "version": new_version, **summary}

    def overwrite(self, df: DataFrame, epoch_id: str | None = None) -> dict[str, Any]:
        """Replace the full table contents (FULL_TABLE snapshot load)."""
        meta = self.metadata()
        if epoch_id is not None and epoch_id in meta["committed_epochs"]:
            return {"skipped": True, "epoch_id": epoch_id}
        new_version = meta["version"] + 1
        bucketed, new_schema = self._prepare_batch(
            df, meta, new_version, fold=False
        )
        rel_dir = self._next_data_dir(new_version)
        written = self._write_bucketed(bucketed, rel_dir, meta["num_buckets"])
        committed = dict(meta["committed_epochs"])
        if epoch_id is not None:
            committed[epoch_id] = new_version
        base = {k: v for k, v in meta.items() if k not in ("buckets", "buckets_delta")}
        self._write_metadata(
            {
                **base,
                "version": new_version,
                "schema": json.loads(new_schema.json()),
                "buckets": written,  # full rewrite = natural checkpoint
                "committed_epochs": self._prune_epochs(committed),
                "summary": {"operation": "overwrite", "epoch_id": epoch_id},
                "parent": meta["version"],
            },
            expect_parent=meta["version"],
        )
        self._buckets_cache[new_version] = {b: list(dl) for b, dl in written.items()}
        return {"skipped": False, "version": new_version}

    # ----------------------------------------------------------- maintenance
    def delta_depth(self) -> int:
        """Max number of data dirs stacked on any bucket."""
        return max((len(dl) for dl in self.buckets_map().values()), default=0)

    def compact(
        self,
        max_delta_depth: int = 1,
        *,
        drop_tombstones_below: int | None = None,
        include_base: bool = True,
    ) -> dict[str, Any]:
        """Fold every bucket with more than ``max_delta_depth`` stacked
        dirs into a single file.  The maintenance op that bounds
        merge-on-read amplification; the pipeline's depth trigger runs
        the same compaction for every table it finds too deep.

        Delete tombstones are RETAINED by default: they are the LSN
        evidence that makes reads order-independent, and a crash-restart
        can replay a lower-LSN batch that would otherwise resurrect a
        compacted-away delete.  Pass ``drop_tombstones_below`` (the
        committed bookmark floor) to reclaim tombstones that can never be
        contradicted again — events below the floor are filtered out
        before any merge, so only those tombstones are provably safe to
        drop.

        ``include_base=False`` is TIERED (LSM-style) compaction: only the
        delta tier (everything after each bucket's oldest dir) is folded,
        leaving the base untouched.  Cost is O(changes since base)
        instead of O(table) — the difference between a maintenance op and
        a full rewrite once the table is 100× any batch.  Steady-state
        policy at scale: tiered on the depth trigger, a full compact
        rarely/offline.  Tombstone dropping is refused in tiered mode: a
        tombstone in the delta tier may be the only thing masking a live
        base row, so dropping it would resurrect the row.

        The write is the one every compaction shares
        (``lake/grouped.py:_compact_tables``): one Spark job, AQE off on
        a session of its own, rows clustered by key within each bucket
        file, then the commit."""
        if not include_base and drop_tombstones_below is not None:
            raise ValueError(
                "tiered compaction cannot drop tombstones: a delta-tier "
                "tombstone may mask a base row (fold the base in to reclaim)"
            )
        from .grouped import _compact_tables

        part = (self, max_delta_depth, include_base, drop_tombstones_below)
        return _compact_tables({self.path: part})[self.path]

    def _compaction_plan(
        self,
        meta: dict[str, Any],
        max_delta_depth: int,
        include_base: bool,
        drop_tombstones_below: int | None,
    ) -> tuple[dict[str, list[str]], DataFrame] | None:
        """The buckets :meth:`compact` rewrites at ``meta``'s version
        (more than ``max_delta_depth`` dirs stacked) and their rows
        LWW-folded by ``(lsn, gen)`` with ``_bucket`` added, built on
        this table's session; ``None`` when no bucket is over depth."""
        key_cols = meta["key_columns"]
        current = self.buckets_map(meta["version"])
        min_len = max_delta_depth if include_base else max_delta_depth + 1
        todo = {b: dl for b, dl in current.items() if len(dl) > min_len}
        if not todo:
            return None
        fold_dirs = [
            d for dl in todo.values() for d in (dl if include_base else dl[1:])
        ]
        schema = T.StructType.fromJson(meta["schema"])
        df = self._read_dirs(fold_dirs, schema)
        folded = fold_last_writer_wins_agg(df, key_cols, (SDC_LSN, SDC_GEN))
        if SDC_DELETED_AT in folded.columns and drop_tombstones_below is not None:
            folded = folded.filter(
                F.col(SDC_DELETED_AT).isNull()
                | (F.col(SDC_LSN) >= F.lit(int(drop_tombstones_below)))
            )
        folded = folded.withColumn(
            _BUCKET,
            self._bucket_expr(key_cols, meta["num_buckets"], self._bucket_fn(meta)),
        )
        return todo, folded

    def _commit_compaction(
        self,
        meta: dict[str, Any],
        todo: dict[str, list[str]],
        written: dict[str, list[str]],
        include_base: bool,
    ) -> dict[str, Any]:
        """Swap each compacted bucket's dirs for the folded dir in
        ``written`` (tiered: after the kept base) and commit."""
        new_version = meta["version"] + 1
        current = self.buckets_map(meta["version"])
        buckets = {b: list(dl) for b, dl in current.items() if b not in todo}
        for b, dl in todo.items():
            if include_base:
                # a bucket can compact to empty (all rows tombstoned + settled)
                if b in written:
                    buckets[b] = written[b]
            else:
                buckets[b] = [dl[0]] + (written.get(b) or [])
        buckets_delta = {
            "set": {b: buckets[b] for b in todo if b in buckets},
            "drop": sorted(b for b in todo if b not in buckets),
        }
        base = {k: v for k, v in meta.items() if k not in ("buckets", "buckets_delta")}
        self._write_metadata(
            {
                **base,
                "version": new_version,
                **self._buckets_doc(new_version, buckets, buckets_delta),
                "summary": {
                    "operation": "compact",
                    "tiered": not include_base,
                    "buckets_compacted": sorted(todo.keys(), key=int),
                },
                "parent": meta["version"],
            },
            expect_parent=meta["version"],
        )
        self._buckets_cache[new_version] = buckets
        return {"skipped": False, "version": new_version, "compacted": len(todo)}

    def rebucket(self, new_num_buckets: int) -> dict[str, Any]:
        """Bucket-count evolution: rewrite the table into a new bucket
        layout in one commit (Iceberg partition-spec-evolution analog,
        restricted to the hash-bucket width).

        Why it exists at scale: the bucket count fixed at CREATE becomes
        wrong after 100× growth — too few buckets means multi-GB bucket
        files (long merge tasks, coarse point reads), too many means
        file-count bloat at small sizes.  This lets an operator widen
        (or narrow) the layout without re-bootstrapping consumers:

        - the commit is a FULL rewrite (O(table) — an offline/rare
          maintenance op, like a full compact) that folds LWW and keeps
          tombstones (they remain the out-of-order replay evidence);
        - downstream changelog consumers are unaffected: ``rebucket`` is
          pass-through in :meth:`read_changes` (it rewrites buckets, it
          changes no rows), so derived tables / aggregate views keep
          refreshing across it;
        - later merges, compactions and point reads pick up the new
          count from the head metadata automatically; time-travel reads
          of OLDER versions keep the old layout (pass ``version`` to
          :meth:`buckets_for_keys` when pruning those).
        """
        if new_num_buckets < 1:
            raise ValueError("new_num_buckets must be >= 1")
        meta = self.metadata()
        if new_num_buckets == meta["num_buckets"]:
            return {"skipped": True, "reason": "bucket count unchanged"}
        schema = T.StructType.fromJson(meta["schema"])
        key_cols = meta["key_columns"]
        current = self.buckets_map(meta["version"])
        new_version = meta["version"] + 1
        rel_dir = self._next_data_dir(new_version)
        all_dirs = [d for dl in current.values() for d in dl]
        df = self._read_dirs(all_dirs, schema)
        folded = fold_last_writer_wins_agg(df, key_cols, (SDC_LSN, SDC_GEN))
        folded = folded.withColumn(
            _BUCKET, self._bucket_expr(key_cols, new_num_buckets, "murmur3")
        )
        written = self._write_bucketed(
            folded, rel_dir, new_num_buckets, sort_keys=key_cols,
            aligned=self._write_aligned(
                {**meta, "bucket_fn": "murmur3"}, new_num_buckets, folded
            ),
        )
        base = {k: v for k, v in meta.items() if k not in ("buckets", "buckets_delta")}
        self._write_metadata(
            {
                **base,
                "version": new_version,
                "num_buckets": new_num_buckets,
                # a rebucket is a full rewrite, so it doubles as the
                # xxhash64 -> murmur3 bucket-fn migration path
                "bucket_fn": "murmur3",
                # full map, never a delta: the rewrite invalidates every
                # old bucket id, so delta manifests cannot express it
                "buckets": {b: list(dl) for b, dl in written.items()},
                "summary": {
                    "operation": "rebucket",
                    "from_buckets": meta["num_buckets"],
                    "to_buckets": new_num_buckets,
                },
                "parent": meta["version"],
            },
            expect_parent=meta["version"],
        )
        self._buckets_cache[new_version] = {
            b: list(dl) for b, dl in written.items()
        }
        return {
            "skipped": False,
            "version": new_version,
            "num_buckets": new_num_buckets,
        }

    def expire_versions(self, keep_last: int = 10) -> dict[str, Any]:
        """Snapshot retention (the Iceberg ``expire_snapshots`` analog):
        keep the newest ``keep_last`` versions readable, delete metadata
        and data dirs referenced ONLY by older versions.

        Without expiration a CDC table's history grows without bound —
        every merge appends delta dirs and every compact strands the
        dirs it folded (they stay on disk for time travel).  At 10^5
        commits that is the dominant storage cost, so expiration is the
        third maintenance op next to tiered/full compaction.

        Mechanics: the survivor set is the union of every kept version's
        resolved bucket map (which also covers the changelog dirs
        ``read_changes`` needs for kept merge versions); everything else
        under ``data/`` is removed.  The oldest kept version's manifest
        is rewritten with its FULL resolved bucket map and ``parent:
        null`` so the metadata chain never dangles (its ``committed_at``
        stamp is preserved — timestamp time travel inside the kept
        window is unaffected).  Reads/changelogs addressing expired
        versions raise cleanly; that is the retention contract, same as
        Iceberg's.
        """
        import shutil

        with self._commit_lock():
            cur = self.current_version()
            floor = max(1, cur - int(keep_last) + 1)
            mdir = os.path.join(self.path, "metadata")
            existing = sorted(
                int(f[1:9]) for f in os.listdir(mdir)
                if f.startswith("v") and f.endswith(".json")
            )
            expire = [v for v in existing if v < floor]
            if not expire:
                return {"skipped": True, "reason": f"nothing below v{floor}"}
            # resolve BEFORE deleting anything (resolution may walk parents)
            kept_dirs: set[str] = set()
            for v in existing:
                if v >= floor:
                    for dl in self.buckets_map(v).values():
                        kept_dirs.update(dl)
            floor_meta = self.metadata(floor)
            floor_full = self.buckets_map(floor)
            # rewrite the floor manifest as a self-contained checkpoint
            floor_meta.pop("buckets_delta", None)
            floor_meta["buckets"] = floor_full
            floor_meta["parent"] = None
            floor_meta["expired_below"] = True
            # atomic rewrite (tmp + os.replace, the _write_metadata
            # pattern): this becomes the only self-contained checkpoint
            # the remaining chain depends on — a crash mid-write must not
            # corrupt it.  The whole resolve→rewrite→delete sequence runs
            # under the commit lock so a concurrent merge cannot commit a
            # version whose parents are being deleted out from under it.
            fd, tmp = tempfile.mkstemp(dir=mdir, suffix=".floor.tmp")
            with os.fdopen(fd, "w") as f:
                json.dump(floor_meta, f, indent=1, sort_keys=True)
            os.replace(tmp, os.path.join(mdir, f"v{floor:08d}.json"))
            # drop expired manifests, then any data dir no kept version
            # references
            for v in expire:
                os.unlink(os.path.join(mdir, f"v{v:08d}.json"))
            # bucket-map entries are per-bucket subdirs
            # ("data/v…/_bucket=N"); reclaim at the commit-dir level: a
            # commit dir survives if ANY of its bucket subdirs is still
            # referenced.  The sweep is additionally bounded BY VERSION
            # PREFIX (< floor): writers stage their data dirs BEFORE
            # taking the commit lock, so a concurrent in-flight merge's
            # fresh ``v{cur+1}-…`` dir is unreferenced by every kept
            # manifest yet must survive — without the prefix guard this
            # sweep would delete it and the writer would then commit
            # metadata pointing at removed files (silent data loss).
            # Unreferenced dirs AT or ABOVE the floor (crashed writers,
            # failed commits) are :meth:`vacuum`'s job, behind an age
            # horizon.
            kept_commit_dirs = {
                d.split("/")[1] for d in kept_dirs if d.startswith("data/")
            }
            data_root = os.path.join(self.path, "data")
            removed = 0
            if os.path.isdir(data_root):
                for d in os.listdir(data_root):
                    if d in kept_commit_dirs:
                        continue
                    v_of_d = _dir_version(d)
                    if v_of_d is not None and v_of_d >= floor:
                        continue
                    shutil.rmtree(
                        os.path.join(data_root, d), ignore_errors=True
                    )
                    removed += 1
            self._buckets_cache = {
                v: m for v, m in self._buckets_cache.items() if v >= floor
            }
        return {
            "skipped": False,
            "expired_versions": expire,
            "floor_version": floor,
            "data_dirs_removed": removed,
        }

    def vacuum(self, *, min_age_seconds: float = 86_400.0) -> dict[str, Any]:
        """Remove orphaned data dirs (the Iceberg ``remove_orphan_files``
        analog): commit dirs under ``data/`` referenced by NO existing
        manifest version.  Orphans accumulate from crashed writers (data
        staged, commit never happened) and failed/conflicted commits —
        at a 10^10-event ingest's commit cadence that leak is unbounded,
        and neither compaction nor :meth:`expire_versions` reclaims dirs
        at or above the retention floor.

        Safety: writers stage data BEFORE taking the commit lock, so an
        unreferenced dir may be an in-flight commit.  Two guards make
        the sweep safe: the whole resolve→delete runs under the commit
        lock (no commit can land mid-sweep), and only dirs whose mtime
        is older than ``min_age_seconds`` are touched — an in-flight
        writer's staging dir is always younger than any sane horizon
        (default 24 h, Iceberg's ``older_than`` default 3 days serves
        the same purpose).  Pass ``min_age_seconds=0`` only on a
        known-quiesced table (tests do).
        """
        import shutil
        import time as _time

        with self._commit_lock():
            mdir = os.path.join(self.path, "metadata")
            existing = sorted(
                int(f[1:9]) for f in os.listdir(mdir)
                if f.startswith("v") and f.endswith(".json")
            )
            referenced: set[str] = set()
            for v in existing:
                for dl in self.buckets_map(v).values():
                    referenced.update(d.split("/")[1] for d in dl)
            data_root = os.path.join(self.path, "data")
            removed: list[str] = []
            kept_young = 0
            now = _time.time()
            if os.path.isdir(data_root):
                for d in sorted(os.listdir(data_root)):
                    if d in referenced:
                        continue
                    try:
                        age = now - os.path.getmtime(os.path.join(data_root, d))
                    except OSError:
                        continue  # vanished concurrently (not possible
                        # under the lock, but harmless to skip)
                    if age < min_age_seconds:
                        kept_young += 1
                        continue
                    shutil.rmtree(
                        os.path.join(data_root, d), ignore_errors=True
                    )
                    removed.append(d)
        return {
            "orphan_dirs_removed": len(removed),
            "removed": removed,
            "kept_young": kept_young,
        }
