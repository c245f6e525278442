"""LakeTable tests: MERGE semantics (SURVEY.md §2.5 J1), exactly-once
epoch dedup, schema evolution, compaction, time travel, bucket pruning.
"""

from pyspark.sql import functions as F
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
    """rows: (repo, path, content, lsn, deleted_at)"""
    return spark.createDataFrame(
        [(r, p, c, l, d, 1, "U" if d is None else "D") for r, p, c, l, d in rows],
        _BATCH_SCHEMA,
    )


def _state(table):
    return {
        (r["repo"], r["path"]): (r["content"], r["_sdc_lsn"])
        for r in table.read().collect()
    }


def test_merge_upsert_delete(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    r1 = t.merge_into(
        _batch(spark, [("r1", "a", "v1", 10, None), ("r1", "b", "v1", 11, None)]),
        epoch_id="e1",
    )
    assert not r1["skipped"]
    assert _state(t) == {("r1", "a"): ("v1", 10), ("r1", "b"): ("v1", 11)}

    # update a + delete b + insert c in one batch
    t.merge_into(
        _batch(
            spark,
            [("r1", "a", "v2", 20, None), ("r1", "b", None, 21, "2024-01-01T00:00:00Z"),
             ("r2", "c", "new", 22, None)],
        ),
        epoch_id="e2",
    )
    assert _state(t) == {("r1", "a"): ("v2", 20), ("r2", "c"): ("new", 22)}


def test_epoch_dedup_idempotent_replay(spark, tmp_path):
    # north-star exactly-once: replaying a committed epoch is a no-op
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    b = _batch(spark, [("r1", "a", "v1", 10, None)])
    t.merge_into(b, epoch_id="e1")
    v = t.current_version()
    replay = t.merge_into(b, epoch_id="e1")
    assert replay["skipped"] and t.current_version() == v
    # and state unchanged after a *different* epoch with same rows (idempotent merge)
    t.merge_into(b, epoch_id="e2")
    assert _state(t) == {("r1", "a"): ("v1", 10)}


def test_lww_within_batch_and_across_batches(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    # same key three times in one batch: highest lsn wins
    t.merge_into(
        _batch(spark, [("r", "p", "v1", 10, None), ("r", "p", "v3", 30, None),
                       ("r", "p", "v2", 20, None)]),
        epoch_id="e1",
    )
    assert _state(t) == {("r", "p"): ("v3", 30)}
    # stale batch (lower lsn) must NOT regress the row — MOR read resolves by lsn
    t.merge_into(_batch(spark, [("r", "p", "old", 5, None)]), epoch_id="e2")
    assert _state(t) == {("r", "p"): ("v3", 30)}


def test_delete_then_resurrect_across_batches(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=2)
    t.merge_into(_batch(spark, [("r", "p", "v1", 10, None)]), epoch_id="e1")
    t.merge_into(_batch(spark, [("r", "p", None, 20, "2024-01-01T00:00:00Z")]), epoch_id="e2")
    assert _state(t) == {}
    t.merge_into(_batch(spark, [("r", "p", "v2", 30, None)]), epoch_id="e3")
    assert _state(t) == {("r", "p"): ("v2", 30)}


def test_schema_evolution_additive(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=2)
    t.merge_into(_batch(spark, [("r", "p", "v1", 10, None)]), epoch_id="e1")
    evolved = _batch(spark, [("r", "q", "v1", 20, None)]).withColumn(
        "stars", F.lit(7).cast("int")
    )
    t.merge_into(evolved, epoch_id="e2")
    assert "stars" in [f.name for f in t.schema.fields]
    rows = {(r["repo"], r["path"]): r["stars"] for r in t.read().collect()}
    # old row read with schema-on-read → NULL for the new column
    assert rows == {("r", "p"): None, ("r", "q"): 7}


def test_compaction_preserves_state_and_drops_tombstones(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=2)
    for i in range(5):
        t.merge_into(
            _batch(spark, [("r", f"p{i}", f"v{i}", 10 + i, None),
                           ("r", "hot", f"h{i}", 100 + i, None)]),
            epoch_id=f"e{i}",
        )
    t.merge_into(_batch(spark, [("r", "p0", None, 200, "2024-01-01T00:00:00Z")]),
                 epoch_id="edel")
    before = _state(t)
    assert ("r", "p0") not in before and before[("r", "hot")] == ("h4", 104)
    assert t.delta_depth() > 1
    # floor past the delete's lsn (200) → the tombstone is settled and may go
    res = t.compact(drop_tombstones_below=201)
    assert not res["skipped"]
    assert t.delta_depth() == 1
    assert _state(t) == before
    # settled tombstones physically gone
    assert t.read(include_tombstones=True).filter(
        F.col("_sdc_deleted_at").isNotNull()
    ).count() == 0


def test_time_travel_and_history(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=2)
    t.merge_into(_batch(spark, [("r", "p", "v1", 10, None)]), epoch_id="e1")
    v1 = t.current_version()
    t.merge_into(_batch(spark, [("r", "p", "v2", 20, None)]), epoch_id="e2")
    assert {r["content"] for r in t.read(version=v1).collect()} == {"v1"}
    assert {r["content"] for r in t.read().collect()} == {"v2"}
    ops = [h["summary"]["operation"] for h in t.history()]
    assert ops == ["merge-mor", "merge-mor", "create"]


def test_bucket_pruned_point_read(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=8)
    rows = [(f"r{i}", f"p{i}", f"v{i}", 10 + i, None) for i in range(20)]
    t.merge_into(_batch(spark, rows), epoch_id="e1")
    keys = spark.createDataFrame([("r3", "p3")], ["repo", "path"])
    buckets = t.buckets_for_keys(keys)
    assert len(buckets) == 1
    got = t.read(buckets=buckets).filter((F.col("repo") == "r3") & (F.col("path") == "p3"))
    assert got.collect()[0]["content"] == "v3"
