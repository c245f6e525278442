"""Metadata growth bounds (VERDICT round-1 item #7): commits write delta
manifests (O(touched buckets) bytes), full bucket maps only on checkpoint
versions, and the exactly-once epoch map is pruned to a retention window —
so a 10^5-commit stream's metadata stays O(1) per commit instead of
O(commits) per version / O(commits²) cumulative."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import types as T

from tap_postgres_spark.lake import LakeTable
from tap_postgres_spark.schema import widen_for_cdc

SCHEMA = widen_for_cdc(
    T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
        ]
    )
)

_BATCH_SCHEMA = (
    "repo string, path string, content string, _sdc_lsn long, "
    "_sdc_deleted_at string, txid long, _action string"
)


def _batch(spark, rows):
    return spark.createDataFrame(
        [(r, p, c, l, None, 1, "U") for r, p, c, l in rows], _BATCH_SCHEMA
    )


def _msize(t, v):
    return os.path.getsize(os.path.join(t.path, "metadata", f"v{v:08d}.json"))


@pytest.fixture()
def small_windows(monkeypatch):
    monkeypatch.setattr(LakeTable, "CHECKPOINT_INTERVAL", 5)
    monkeypatch.setattr(LakeTable, "EPOCH_RETENTION", 10)


def test_delta_manifest_size_constant_and_reads_correct(spark, tmp_path, small_windows):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    n = 23
    for i in range(n):
        t.merge_into(_batch(spark, [("r", "hot", f"v{i}", 10 + i)]), epoch_id=f"e{i}")

    metas = {v: t.metadata(v) for v in range(2, n + 2)}
    deltas = [v for v, m in metas.items() if "buckets_delta" in m]
    checkpoints = [v for v, m in metas.items() if "buckets" in m]
    assert deltas and checkpoints
    assert all(v % 5 == 0 for v in checkpoints)

    # delta manifests don't grow with commit count: a late delta is no
    # bigger than an early one (within jitter from the version numbers)
    early, late = _msize(t, deltas[1]), _msize(t, deltas[-1])
    assert late <= early * 1.2

    # correctness across the manifest chain: final state + time travel
    assert {r["content"] for r in t.read().collect()} == {f"v{n-1}"}
    assert {r["content"] for r in t.read(version=5).collect()} == {"v3"}
    # buckets_map at a delta version == reconstruction through the chain
    assert t.delta_depth() == n  # single hot bucket, no compaction yet

    # compaction writes a 'set' delta and reads still resolve
    t.compact(max_delta_depth=1)
    assert t.delta_depth() == 1
    assert {r["content"] for r in t.read().collect()} == {f"v{n-1}"}


def test_epoch_retention_prunes_but_guards_recent_replays(spark, tmp_path, small_windows):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=2)
    for i in range(15):
        t.merge_into(_batch(spark, [("r", f"p{i}", "v", 10 + i)]), epoch_id=f"e{i}")
    epochs = t.committed_epochs()
    assert len(epochs) == 10  # pruned to retention
    assert "e0" not in epochs and "e14" in epochs
    # recent replay (the only kind Spark's checkpoint can produce) is a no-op
    v = t.current_version()
    res = t.merge_into(_batch(spark, [("r", "p14", "DUP", 99)]), epoch_id="e14")
    assert res["skipped"] and t.current_version() == v


def test_fresh_instance_resolves_chain_from_disk(spark, tmp_path, small_windows):
    path = str(tmp_path / "t")
    t = LakeTable.create(spark, path, SCHEMA, ["repo", "path"], num_buckets=2)
    for i in range(7):
        t.merge_into(_batch(spark, [("r", "p", f"v{i}", 10 + i)]), epoch_id=f"e{i}")
    # a brand-new handle (empty cache) must reconstruct identical state
    t2 = LakeTable(spark, path)
    assert t2.buckets_map() == t.buckets_map()
    assert {r["content"] for r in t2.read().collect()} == {"v6"}


def test_bucket_watermarks_in_commit_summary(spark, tmp_path):
    """North rule: commits carry per-partition (bucket) LSN watermarks —
    read from parquet footer stats, no extra job."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=2)
    res = t.merge_into(
        _batch(spark, [("r", f"p{i}", "v", 100 + i) for i in range(8)]),
        epoch_id="e0",
    )
    wms = res["bucket_watermarks"]
    assert set(wms) == set(res["buckets_written"])
    # each bucket's watermark is the true max lsn of its rows
    from pyspark.sql import functions as F
    got = {
        str(r["b"]): r["m"]
        for r in t.read()
        # murmur3 (F.hash): the bucket fn of newly-created tables
        .withColumn("b", F.pmod(F.hash("repo", "path"), F.lit(2)).cast("int"))
        .groupBy("b").agg(F.max("_sdc_lsn").alias("m")).collect()
    }
    assert wms == got
    # the same doc lands in the version metadata summary
    assert t.metadata()["summary"]["bucket_watermarks"] == wms


def test_read_changes_incremental_changelog(spark, tmp_path):
    """Iceberg-incremental-read parity: rows committed in a version range,
    upserts and tombstones, LWW-folded, without scanning the base table."""
    from pyspark.sql import functions as F

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=2)
    t.merge_into(
        spark.createDataFrame(
            [("r", "base", "v0", 10, None, 1, "U")], _BATCH_SCHEMA
        ),
        epoch_id="e0",
    )
    v1 = t.current_version()
    t.merge_into(
        spark.createDataFrame(
            [("r", "p1", "a", 20, None, 1, "U"),
             ("r", "p1", "b", 30, None, 1, "U")], _BATCH_SCHEMA
        ),
        epoch_id="e1",
    )
    t.merge_into(
        spark.createDataFrame(
            [("r", "base", None, 40, "2024-01-01T00:00:00Z", 1, "D")], _BATCH_SCHEMA
        ),
        epoch_id="e2",
    )
    ch = {
        (r["path"]): (r["content"], r["_sdc_lsn"], r["_sdc_deleted_at"] is not None)
        for r in t.read_changes(v1).collect()
    }
    # p1 folded to its latest (lsn 30); base appears as a tombstone;
    # the pre-range base row does NOT appear
    assert ch == {"p1": ("b", 30, False), "base": (None, 40, True)}

    # compaction is PASS-THROUGH for the changelog (round-4 ADVICE):
    # compact dirs are full-bucket rewrites, but each merge manifest's
    # lineage still holds that merge's change dirs, so a range crossing
    # the compact yields the identical changelog
    t.compact(max_delta_depth=0)
    assert {
        (r["path"]): (r["content"], r["_sdc_lsn"], r["_sdc_deleted_at"] is not None)
        for r in t.read_changes(v1).collect()
    } == ch
    # and ranges after the compact work too
    vc = t.current_version()
    t.merge_into(
        spark.createDataFrame(
            [("r", "p2", "z", 50, None, 1, "U")], _BATCH_SCHEMA
        ),
        epoch_id="e3",
    )
    assert {r["path"] for r in t.read_changes(vc).collect()} == {"p2"}


def test_tiered_compaction_folds_deltas_keeps_base(spark, tmp_path):
    """LSM-style tiered compact: O(changes since base), base untouched,
    state preserved, tombstone safety enforced."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=2)
    t.merge_into(
        spark.createDataFrame(
            [("r", f"p{i}", "base", 10 + i, None, 1, "U") for i in range(6)],
            _BATCH_SCHEMA,
        ),
        epoch_id="e0",
    )
    base_dirs = {b: dl[0] for b, dl in t.buckets_map().items()}
    # delta tier: update p0, delete p1, across 3 commits
    t.merge_into(
        spark.createDataFrame([("r", "p0", "v2", 100, None, 1, "U")], _BATCH_SCHEMA),
        epoch_id="e1",
    )
    t.merge_into(
        spark.createDataFrame(
            [("r", "p1", None, 110, "2024-01-01T00:00:00Z", 1, "D")], _BATCH_SCHEMA
        ),
        epoch_id="e2",
    )
    t.merge_into(
        spark.createDataFrame([("r", "p0", "v3", 120, None, 1, "U")], _BATCH_SCHEMA),
        epoch_id="e3",
    )
    before = _read_state(t)
    res = t.compact(max_delta_depth=1, include_base=False)
    assert not res["skipped"]
    after_map = t.buckets_map()
    # base untouched; delta tier folded to one dir per bucket
    for b, dl in after_map.items():
        assert dl[0] == base_dirs[b]
        assert len(dl) <= 2
    assert _read_state(t) == before
    # delta-tier tombstone retained → delete still masks the base row
    assert ("r", "p1") not in _read_state(t)
    # and an out-of-order lower-LSN replay still loses
    t.merge_into(
        spark.createDataFrame([("r", "p1", "stale", 50, None, 1, "U")], _BATCH_SCHEMA),
        epoch_id="e4",
    )
    assert ("r", "p1") not in _read_state(t)

    with pytest.raises(ValueError, match="tiered"):
        t.compact(include_base=False, drop_tombstones_below=200)


def _read_state(t):
    return {
        (r["repo"], r["path"]): (r["content"], r["_sdc_lsn"])
        for r in t.read().collect()
    }


def test_timestamp_time_travel(spark, tmp_path):
    from datetime import datetime, timezone

    t = LakeTable.create(spark, str(tmp_path / "tt"), SCHEMA, ["repo", "path"], 4)
    t.merge_into(_batch(spark, [("r", "p1", "v1", 100)]), epoch_id="e1")
    between = datetime.now(timezone.utc)
    t.merge_into(_batch(spark, [("r", "p1", "v2", 200)]), epoch_id="e2")

    v_at = t.version_as_of(between)
    assert _read_state(LakeTable(spark, t.path)) == {("r", "p1"): ("v2", 200)}
    assert {
        (r["repo"], r["path"]): (r["content"], r["_sdc_lsn"])
        for r in t.read(as_of=between).collect()
    } == {("r", "p1"): ("v1", 100)}
    # ISO-string form and version equivalence
    assert t.read(as_of=between.isoformat()).collect() == t.read(version=v_at).collect()
    # before table creation → error; version+as_of together → error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no version committed"):
        t.version_as_of(datetime(2000, 1, 1, tzinfo=timezone.utc))
    with _pytest.raises(ValueError, match="at most one"):
        t.read(version=1, as_of=between)
    # every version carries its own commit stamp (no inherited parent stamp)
    stamps = [t.metadata(v)["committed_at"] for v in range(1, t.current_version() + 1)]
    assert len(set(stamps)) == len(stamps)


class TestExpireVersions:
    def _table(self, spark, tmp_path):
        from tests.test_lake_merge import SCHEMA, _batch

        t = LakeTable.create(spark, str(tmp_path / "exp"), SCHEMA, ["repo", "path"], num_buckets=2)
        for i in range(5):
            t.merge_into(
                _batch(spark, [("r1", "a", f"v{i}", 10 + i, None),
                               ("r1", f"k{i}", "x", 20 + i, None)]),
                epoch_id=f"e{i}",
            )
        return t

    def test_expire_keeps_recent_reads_and_removes_old(self, spark, tmp_path):
        import os

        t = self._table(spark, tmp_path)
        cur = t.current_version()
        before = t.read().collect()
        n_dirs_before = len(os.listdir(os.path.join(t.path, "data")))
        res = t.expire_versions(keep_last=2)
        assert not res["skipped"] and res["floor_version"] == cur - 1
        # current state identical
        assert sorted(map(tuple, t.read().collect())) == sorted(map(tuple, before))
        # kept window still time-travels; expired versions raise
        assert t.read(version=cur - 1).count() >= 0
        with pytest.raises(FileNotFoundError):
            t.metadata(cur - 2)
        # changelog within the kept window still works
        assert t.read_changes(cur - 1).count() > 0
        # history stops at the rewritten floor
        assert [h["version"] for h in t.history()] == [cur, cur - 1]
        assert len(os.listdir(os.path.join(t.path, "data"))) <= n_dirs_before

    def test_expire_after_compact_reclaims_folded_dirs(self, spark, tmp_path):
        import os

        t = self._table(spark, tmp_path)
        t.compact(max_delta_depth=1)  # strands the folded delta dirs
        data_root = os.path.join(t.path, "data")
        n_before = len(os.listdir(data_root))
        res = t.expire_versions(keep_last=1)
        assert res["data_dirs_removed"] > 0
        assert len(os.listdir(data_root)) < n_before
        # the compacted head still reads fully
        assert t.read().count() == 6  # key a + k0..k4
        # merges continue cleanly after expiration
        from tests.test_lake_merge import _batch

        t.merge_into(_batch(spark, [("r1", "a", "post", 99, None)]), epoch_id="post")
        assert t.read().filter("path = 'a'").collect()[0]["content"] == "post"

    def test_expire_noop_when_history_short(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        assert t.expire_versions(keep_last=50)["skipped"]


def test_compact_clusters_rows_by_key_within_bucket(spark, tmp_path):
    """Compaction sorts rows by key inside each bucket file, so parquet
    row-group min/max stats become selective for point reads."""
    import pyarrow.parquet as pq

    from tests.test_lake_merge import SCHEMA, _batch

    t = LakeTable.create(spark, str(tmp_path / "cl"), SCHEMA, ["repo", "path"], num_buckets=1)
    # insert keys in descending order across two epochs
    t.merge_into(
        _batch(spark, [("r9", f"p{i}", "v", 10 + i, None) for i in range(20, 10, -1)]),
        epoch_id="e1",
    )
    t.merge_into(
        _batch(spark, [("r1", f"p{i}", "v", 40 + i, None) for i in range(10, 0, -1)]),
        epoch_id="e2",
    )
    t.compact(max_delta_depth=1)
    dirs = t.buckets_map()["0"]
    assert len(dirs) == 1
    files = [
        os.path.join(t.path, dirs[0], f)
        for f in os.listdir(os.path.join(t.path, dirs[0]))
        if f.endswith(".parquet")
    ]
    rows = []
    for f in files:
        tb = pq.read_table(f, columns=["repo", "path"])
        rows += list(zip(tb.column("repo").to_pylist(), tb.column("path").to_pylist()))
    assert rows == sorted(rows)  # clustered by (repo, path)
    # state unchanged
    assert t.read().count() == 20


def test_read_keys_point_lookup(spark, tmp_path):
    from tests.test_lake_merge import SCHEMA, _batch

    t = LakeTable.create(spark, str(tmp_path / "pk"), SCHEMA, ["repo", "path"], num_buckets=4)
    t.merge_into(
        _batch(spark, [("r1", f"p{i}", f"v{i}", 10 + i, None) for i in range(20)]),
        epoch_id="e1",
    )
    t.merge_into(_batch(spark, [("r1", "p3", "new", 99, None),
                                ("r1", "p4", None, 100, "2024-01-01")]), epoch_id="e2")
    keys = spark.createDataFrame([("r1", "p3"), ("r1", "p4"), ("r1", "p7")],
                                 "repo string, path string")
    got = {(r["repo"], r["path"]): r["content"] for r in t.read_keys(keys).collect()}
    # p3 updated, p4 deleted (absent), p7 original
    assert got == {("r1", "p3"): "new", ("r1", "p7"): "v7"}
    # empty key set → empty result
    assert t.read_keys(keys.limit(0)).count() == 0
    # large-key-set strategy (semi-join, no row collect): same results
    big = t.read().select("repo", "path")  # every live key
    via_join = {
        (r["repo"], r["path"]): r["content"]
        for r in t.read_keys(big, pushdown_limit=4).collect()
    }
    assert via_join == {
        (r["repo"], r["path"]): r["content"] for r in t.read().collect()
    }
    # and the two strategies agree on the small probe set too
    assert {
        (r["repo"], r["path"]): r["content"]
        for r in t.read_keys(keys, pushdown_limit=1).collect()
    } == got
    # a NULL key matches NULL-safely on both strategies
    t.merge_into(_batch(spark, [(None, "a", "null-repo", 200, None),
                                ("a", "a", "a-repo", 201, None)]), epoch_id="e3")
    nkeys = spark.createDataFrame([(None, "a"), ("a", "a")],
                                  "repo string, path string")
    want = {(None, "a"): "null-repo", ("a", "a"): "a-repo"}
    for limit in (128, 1):
        assert {
            (r["repo"], r["path"]): r["content"]
            for r in t.read_keys(nkeys, pushdown_limit=limit).collect()
        } == want


def _spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through the status tracker under
    a job group of its own."""
    sc = spark.sparkContext
    group = f"read-keys-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group, False)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def threshold(spark):
    """Sets ``spark.sql.autoBroadcastJoinThreshold`` for one test."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    yield lambda v: spark.conf.set(key, v)
    spark.conf.set(key, prev)


def _point_table(spark, path):
    from tests.test_lake_merge import SCHEMA, _batch

    t = LakeTable.create(spark, path, SCHEMA, ["repo", "path"], num_buckets=4)
    for e in range(3):
        t.merge_into(
            _batch(spark, [("r1", f"p{i}", f"v{e}.{i}", 10 * e + i,
                            "2024-01-01" if (e, i) == (2, 5) else None)
                           for i in range(8)]),
            epoch_id=f"e{e}",
        )
    keys = spark.createDataFrame([("r1", "p3"), ("r1", "p5"), ("r9", "p1")],
                                 "repo string, path string")
    return t, keys


def test_read_keys_point_read_runs_only_the_probe(spark, tmp_path, threshold):
    """A bounded point read runs the key probe's jobs and nothing else:
    no job for the bucket ids, none for reading the pruned files."""
    t, keys = _point_table(spark, str(tmp_path / "pt"))
    threshold("10MB")
    probe = _spark_jobs(
        spark, lambda: keys.select("repo", "path").limit(129).toArrow()
    )
    rows = []
    assert _spark_jobs(spark, lambda: rows.extend(t.read_keys(keys).collect())) == probe
    assert [(r["repo"], r["path"], r["content"]) for r in rows] == [("r1", "p3", "v2.3")]
    # the bucket ids from the probed rows prune exactly like a Spark job would
    assert t._probe_buckets(keys.toArrow(), keys.schema, t.metadata()) == sorted(
        t.buckets_for_keys(keys)
    )


def test_read_keys_probe_jobs(spark, tmp_path, threshold):
    """Inside the driver gate, a key DataFrame built from Arrow (a local
    relation) costs no Spark job at all, and one built from a Python
    list (an RDD the workers unpickle) costs at most one."""
    import pyarrow as pa

    t, listed = _point_table(spark, str(tmp_path / "pt"))
    threshold("10MB")
    arrow = spark.createDataFrame(
        pa.table({"repo": ["r1", "r1", "r9"], "path": ["p3", "p5", "p1"]})
    )
    want = [("r1", "p3", "v2.3")]
    for keys, most in ((arrow, 0), (listed, 1)):
        rows = []
        assert _spark_jobs(spark, lambda: rows.extend(t.read_keys(keys).collect())) <= most
        assert [(r["repo"], r["path"], r["content"]) for r in rows] == want


def test_read_keys_duplicate_key_rows(spark, tmp_path):
    """200 raw key rows of 3 distinct keys (more rows than the probe
    bound) return the rows the 3 keys return."""
    t, _ = _point_table(spark, str(tmp_path / "pt"))
    three = [("r1", "p3"), ("r1", "p6"), ("r9", "p1")]

    def read(n):
        keys = spark.createDataFrame(
            [three[i % 3] for i in range(n)], "repo string, path string"
        )
        return sorted(map(tuple, t.read_keys(keys).collect()))

    want = read(3)
    assert [r[:2] for r in want] == [("r1", "p3"), ("r1", "p6")]
    assert read(200) == want
    # under the bound too: the probe's duplicates fold on the driver
    assert read(9) == want


def test_read_keys_above_threshold_takes_spark_read(spark, tmp_path, threshold):
    """Pruned files over ``spark.sql.autoBroadcastJoinThreshold`` (or a
    threshold of -1) take the Spark point read, with the same rows."""
    t, keys = _point_table(spark, str(tmp_path / "pt"))
    threshold("10MB")
    probe = _spark_jobs(
        spark, lambda: keys.select("repo", "path").limit(129).toArrow()
    )
    want = sorted(map(tuple, t.read_keys(keys).collect()))
    for v in ("100b", "-1"):
        threshold(v)
        rows = []
        assert _spark_jobs(
            spark, lambda: rows.extend(t.read_keys(keys).collect())
        ) > probe
        assert sorted(map(tuple, rows)) == want


def test_read_keys_driver_read_keeps_types(spark, tmp_path, threshold):
    """Every column type the driver-side read accepts comes back with
    the Spark read's values and schema; a type it does not accept
    (arrays) takes the Spark read."""
    import decimal

    from pyspark.sql import functions as F

    cols = (
        "id long, ts timestamp, ntz timestamp_ntz, d decimal(10,2), dt date, "
        "b binary, f double, r float, s short, flag boolean, tags array<string>"
    )
    schema = widen_for_cdc(T._parse_datatype_string(cols))
    rows = [
        (i, f"2024-01-02 03:04:0{i}", f"2024-01-02 03:04:0{i}",
         decimal.Decimal(f"{i}.25"), f"2024-01-0{i + 1}", bytes([i]), i / 3,
         i / 4, i, i % 2 == 0, [f"t{i}"], 100 + i, None)
        for i in range(6)
    ] + [(6, *[None] * 10, 106, None)] + [
        # Postgres sentinels, outside the range of nanosecond timestamps
        (i, day, day, decimal.Decimal("1.00"), day, b"", 0.0, 0.0, 0, True, [],
         100 + i, None)
        for i, day in ((7, "0001-01-01"), (8, "9999-12-31"))
    ]
    # timestamps go in as strings: Python's datetime cannot convert
    # 0001-01-01 00:00 through a local time
    batch = spark.createDataFrame(
        rows,
        cols.replace(" timestamp_ntz", " string").replace(" timestamp", " string")
        .replace(" date", " string") + ", _sdc_lsn long, _sdc_deleted_at string",
    ).withColumns({
        "ts": F.col("ts").cast("timestamp"),
        "ntz": F.col("ntz").cast("timestamp_ntz"),
        "dt": F.col("dt").cast("date"),
    })
    keys = spark.createDataFrame([(1,), (4,), (6,), (7,), (8,), (9,)], "id long")
    for name, frame in (("typed", batch.drop("tags")), ("tagged", batch)):
        table_schema = T.StructType([f for f in schema.fields if f.name in frame.columns])
        t = LakeTable.create(spark, str(tmp_path / name), table_schema, ["id"],
                             num_buckets=2)
        t.merge_into(frame, epoch_id="e1")
        threshold("10MB")
        probe = _spark_jobs(spark, lambda: keys.limit(129).toArrow())
        jobs = _spark_jobs(spark, lambda: t.read_keys(keys).select("id").collect())
        assert (jobs == probe) == (name == "typed")
        local = t.read_keys(keys).orderBy("id")
        threshold("-1")
        remote = t.read_keys(keys).orderBy("id")
        assert local.schema == remote.schema
        got = local.toArrow()
        assert got.equals(remote.toArrow())
        assert got.column("id").to_pylist() == [1, 4, 6, 7, 8]
        assert [
            tuple(r) for r in
            local.where("id >= 7").selectExpr("string(ts)", "string(ntz)", "string(dt)")
            .collect()
        ] == [("0001-01-01 00:00:00",) * 2 + ("0001-01-01",),
              ("9999-12-31 00:00:00",) * 2 + ("9999-12-31",)]


class TestCommitConcurrency:
    """Round-4 multi-writer safety: commits validate their parent under
    an atomic lock and CONFLICT instead of silently dropping the other
    writer's version (the Iceberg optimistic-concurrency contract)."""

    def test_stale_parent_commit_conflicts(self, spark, tmp_path):
        from tap_postgres_spark.lake import CommitConflictError

        path = str(tmp_path / "occ")
        t1 = LakeTable.create(spark, path, SCHEMA, ["repo", "path"], num_buckets=2)
        t2 = LakeTable(spark, path)
        # t2 plans a merge against v1 by reading metadata lazily inside
        # merge_into — so force the interleave at the metadata layer:
        # t1 commits first, then a commit planned against the old head
        meta_old = t2.metadata()
        t1.merge_into(_batch(spark, [("r", "a", "x", 10)]), epoch_id="w1")
        with pytest.raises(CommitConflictError, match="advanced"):
            t2._write_metadata(
                {**meta_old, "version": meta_old["version"] + 1,
                 "summary": {"operation": "merge-mor", "lineage": {}},
                 "parent": meta_old["version"]},
                expect_parent=meta_old["version"],
            )
        # the winning chain is intact and a re-planned merge applies fine
        assert t2.current_version() == 2
        t2.merge_into(_batch(spark, [("r", "b", "y", 11)]), epoch_id="w2")
        assert {r["path"] for r in t2.read().collect()} == {"a", "b"}

    def test_concurrent_threads_one_conflicts_or_serializes(self, spark, tmp_path):
        """Two threads merging the SAME table: every surviving version
        chain is linear (no lost commit), and each thread either lands
        its commit or gets a clean CommitConflictError to retry."""
        import threading

        from tap_postgres_spark.lake import CommitConflictError

        path = str(tmp_path / "race")
        LakeTable.create(spark, path, SCHEMA, ["repo", "path"], num_buckets=2)
        errors, done = [], []

        def writer(tag: str):
            t = LakeTable(spark, path)
            for i in range(3):
                while True:
                    try:
                        t = LakeTable(spark, path)  # re-read head (retry)
                        t.merge_into(
                            _batch(spark, [("r", f"{tag}{i}", "v", hash(tag) % 50 + i)]),
                            epoch_id=f"{tag}-{i}",
                        )
                        done.append(f"{tag}-{i}")
                        break
                    except CommitConflictError:
                        errors.append(tag)
                        continue

        th = [threading.Thread(target=writer, args=(t,)) for t in ("A", "B")]
        for x in th:
            x.start()
        for x in th:
            x.join()
        t = LakeTable(spark, path)
        # all six commits landed (retries resolved every conflict)
        assert len(done) == 6
        # the chain is linear from head to create with no gaps
        versions = [h["version"] for h in t.history()]
        assert versions == list(range(t.current_version(), 0, -1))
        assert t.read().count() == 6

    def test_stale_lock_is_broken(self, spark, tmp_path, monkeypatch):
        import os as _os

        path = str(tmp_path / "stale")
        t = LakeTable.create(spark, path, SCHEMA, ["repo", "path"], num_buckets=2)
        lock = _os.path.join(path, "metadata", "_commit.lock")
        open(lock, "w").write("dead")
        _os.utime(lock, (1, 1))  # ancient mtime → stale
        monkeypatch.setattr(LakeTable, "LOCK_STALE_SECONDS", 5.0)
        t.merge_into(_batch(spark, [("r", "a", "x", 10)]), epoch_id="e")
        assert t.current_version() == 2 and not _os.path.exists(lock)


class TestVacuumAndSweepSafety:
    """vacuum() orphan GC + the expire_versions sweep's version-prefix
    guard (an in-flight writer stages data BEFORE the commit lock, so
    retention must never sweep unreferenced dirs at/above the floor)."""

    def _table(self, spark, tmp_path, name="vac"):
        from tests.test_lake_merge import SCHEMA, _batch

        t = LakeTable.create(
            spark, str(tmp_path / name), SCHEMA, ["repo", "path"], num_buckets=2
        )
        for i in range(4):
            t.merge_into(
                _batch(spark, [("r1", f"k{i}", f"v{i}", 10 + i, None)]),
                epoch_id=f"e{i}",
            )
        return t

    def _fake_staged_dir(self, t, version):
        """Simulate a writer that staged data but never committed."""
        import uuid

        d = os.path.join(
            t.path, "data", f"v{version:08d}-{uuid.uuid4().hex[:8]}"
        )
        os.makedirs(os.path.join(d, "_bucket=0"))
        with open(os.path.join(d, "_bucket=0", "part-0.parquet"), "wb") as f:
            f.write(b"not really parquet")
        return d

    def test_vacuum_removes_old_orphans_keeps_referenced_and_young(
        self, spark, tmp_path
    ):
        t = self._table(spark, tmp_path)
        before = sorted(map(tuple, t.read().collect()))
        old_orphan = self._fake_staged_dir(t, t.current_version() + 1)
        past = os.path.getmtime(old_orphan) - 7 * 86_400
        os.utime(old_orphan, (past, past))
        young_orphan = self._fake_staged_dir(t, t.current_version() + 2)

        res = t.vacuum(min_age_seconds=3600)
        assert res["orphan_dirs_removed"] == 1
        assert os.path.basename(old_orphan) in res["removed"]
        assert not os.path.exists(old_orphan)
        assert os.path.exists(young_orphan)  # inside the age horizon
        assert res["kept_young"] == 1
        # every referenced dir untouched: table reads identically
        assert sorted(map(tuple, t.read().collect())) == before
        # second pass with horizon 0 reclaims the young orphan too
        assert t.vacuum(min_age_seconds=0)["orphan_dirs_removed"] == 1
        assert sorted(map(tuple, t.read().collect())) == before

    def test_vacuum_keeps_dirs_referenced_only_by_old_versions(
        self, spark, tmp_path
    ):
        # time-travel reads of EVERY existing version must survive vacuum
        t = self._table(spark, tmp_path)
        t.compact(max_delta_depth=1)  # strands folded dirs from v-1's map
        v1_rows = t.read(version=2).count()
        assert t.vacuum(min_age_seconds=0)["orphan_dirs_removed"] == 0
        assert t.read(version=2).count() == v1_rows

    def test_expire_sweep_spares_inflight_staging_dir(self, spark, tmp_path):
        from tests.test_lake_merge import _batch

        t = self._table(spark, tmp_path)
        cur = t.current_version()
        # concurrent writer staged its data for v{cur+1} but has not
        # committed yet (no manifest references it, mtime = now)
        staged = self._fake_staged_dir(t, cur + 1)
        res = t.expire_versions(keep_last=2)
        assert not res["skipped"]
        # the guard: unreferenced BUT at/above the floor → spared
        assert os.path.exists(staged)
        # a crashed writer's dir BELOW the floor is still reclaimed
        import shutil

        shutil.rmtree(staged)
        below = self._fake_staged_dir(t, 1)
        t.merge_into(
            _batch(spark, [("r1", "z", "zz", 99, None)]), epoch_id="z"
        )
        res2 = t.expire_versions(keep_last=2)
        assert not res2["skipped"]
        assert not os.path.exists(below)
