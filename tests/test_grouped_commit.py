"""Fused multi-stream commit (lake/grouped.py): N tables' MOR deltas
decoded, folded and written in ONE Spark job, committed per-table
through the same _commit_delta tail merge_into uses.

Pins: (1) fused ≡ per-stream final state, replay included — a pure
plan-shape change; (2) partial-commit crash replay skips only the
already-committed streams; (3) un-fusable schemas (same column name,
conflicting types) fall back to the per-stream path transparently.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from tap_postgres_spark.decode import classify, decode_stream, parse_raw_payloads
from tap_postgres_spark.lake import LakeTable
from tap_postgres_spark.lake.table import SDC_GEN
from tap_postgres_spark.lake.grouped import (
    execute_grouped_fused,
    prepare_grouped_fused,
)
from tap_postgres_spark.modes.log_based import CdcPipeline
from tap_postgres_spark.schema import StreamDef, widen_for_cdc
from tap_postgres_spark.state import StateStore


def _payload(action, table, **cols):
    d = {"action": action, "schema": "public", "table": table}
    key = "identity" if action == "D" else "columns"
    d[key] = [{"name": k, "type": "text", "value": v} for k, v in cols.items()]
    return json.dumps(d)


def _schema(*names):
    return T.StructType([T.StructField(n, T.StringType()) for n in names])


def _build(spark, root, grouped: bool):
    """``grouped``: one 3-stream pipeline, which takes the fused commit.
    Otherwise the per-stream reference: each table fed the same batches
    through ``decode_stream`` + ``LakeTable.merge_into`` (a one-stream
    pipeline would take the fused commit too)."""
    # three streams with DIFFERENT column sets — exercises the
    # unionByName null-fill — one of which (t_c) goes quiet in batch 2
    # (zero-row branch still commits its epoch)
    streams = [
        StreamDef("public", "t_a", _schema("id", "v"), ("id",)),
        StreamDef("public", "t_b", _schema("id", "w", "x"), ("id",)),
        StreamDef("public", "t_c", _schema("id", "y"), ("id",)),
    ]
    tables = {
        s.fqn: LakeTable.create(
            spark, str(root / s.table_name), widen_for_cdc(s.spark_schema),
            ["id"], num_buckets=4,
        )
        for s in streams
    }
    pg_types = {s.fqn: {f.name: "text" for f in s.spark_schema.fields} for s in streams}
    pipe = CdcPipeline(
        spark, streams, pg_types, tables, StateStore(str(root / "state.json"))
    )

    def apply(rows, epoch):
        raw = spark.createDataFrame(rows, "lsn long, txid long, payload string")
        if grouped:
            return pipe.apply_batch(raw, epoch_id=epoch)["streams"]
        cls = classify(parse_raw_payloads(raw), list(tables))
        return {
            s.fqn: tables[s.fqn].merge_into(
                decode_stream(cls, s, pg_types[s.fqn]),
                epoch_id=f"{epoch}:{s.fqn}",
            )
            for s in streams
        }

    b1 = [
        (10, 1, _payload("I", "t_a", id="a1", v="x")),
        (11, 1, _payload("I", "t_b", id="b1", w="y", x="q")),
        (12, 1, _payload("I", "t_c", id="c1", y="z")),
        (13, 2, _payload("U", "t_a", id="a1", v="x2")),
        (14, 2, _payload("I", "t_a", id="a2", v="m")),
        (15, 2, _payload("D", "t_b", id="b1")),
    ]
    b2 = [
        (20, 3, _payload("I", "t_b", id="b2", w="n", x="r")),
        (21, 3, _payload("D", "t_a", id="a2")),
        (22, 3, _payload("U", "t_a", id="a1", v="x3")),
    ]
    for i, rows in enumerate((b1, b2)):
        apply(rows, f"e{i}")
    # crash-replay of the last epoch must be a no-op
    assert all(r.get("skipped") for r in apply(b2, "e1").values())
    return pipe, {
        fqn: sorted(map(tuple, t.read().collect()))
        for fqn, t in tables.items()
    }


def test_grouped_matches_per_stream(spark, tmp_path):
    _, grouped = _build(spark, tmp_path / "g", grouped=True)
    _, classic = _build(spark, tmp_path / "c", grouped=False)
    assert grouped == classic
    assert sorted(map(tuple, grouped["public.t_a"])) != []  # non-trivial


def test_grouped_zero_row_stream_commits_epoch(spark, tmp_path):
    pipe, _ = _build(spark, tmp_path / "z", grouped=True)
    # t_c saw no events in e1, but its epoch committed (exactly-once
    # bookkeeping must not depend on data presence)
    assert "e1:public.t_c" in pipe.tables["public.t_c"].committed_epochs()


def _decoded(spark, rows, schema_cols):
    fields = "id string, " + ", ".join(f"{c} string" for c in schema_cols)
    fields += ", _sdc_lsn long, _sdc_deleted_at string"
    return spark.createDataFrame(rows, fields)


def _classified(spark, rows, fqns):
    raw = spark.createDataFrame(rows, "lsn long, txid long, payload string")
    return classify(parse_raw_payloads(raw), fqns)


def test_fused_partial_commit_replay(spark, tmp_path):
    """Crash between table commits: the already-committed stream is
    skipped on replay (excluded from the fused write), the rest commit."""
    sa_def = StreamDef("public", "t_a", _schema("id", "v"), ("id",))
    sb_def = StreamDef("public", "t_b", _schema("id", "w"), ("id",))
    ta = LakeTable.create(
        spark, str(tmp_path / "a"), widen_for_cdc(sa_def.spark_schema),
        ["id"], num_buckets=2,
    )
    tb = LakeTable.create(
        spark, str(tmp_path / "b"), widen_for_cdc(sb_def.spark_schema),
        ["id"], num_buckets=2,
    )
    tables = {"public.t_a": ta, "public.t_b": tb}
    rows = [
        (10, 1, _payload("I", "t_a", id="k1", v="v1")),
        (11, 1, _payload("I", "t_b", id="k9", w="w1")),
    ]
    cls = _classified(spark, rows, list(tables))
    # simulate: epoch e5 already landed on table b (crash after its
    # commit, before a's)
    tb.merge_into(
        _decoded(spark, [("k9", "w1", 11, None)], ["w"]), epoch_id="e5"
    )

    def plan():
        return prepare_grouped_fused(
            cls, [sa_def, sb_def],
            {f: {"id": "text"} for f in tables}, tables,
            {f: "e5" for f in tables}, {f: None for f in tables},
            staging_root=str(tmp_path / "stage"),
        )

    res = execute_grouped_fused(plan())
    assert res["public.t_b"]["skipped"] is True
    assert res["public.t_a"]["skipped"] is False
    assert res["public.t_a"]["rows_written"] == 1
    assert [tuple(r) for r in ta.read().select("id", "v").collect()] == [("k1", "v1")]
    assert [tuple(r) for r in tb.read().select("id", "w").collect()] == [("k9", "w1")]
    # full replay: everything skips, no write job
    res2 = execute_grouped_fused(plan())
    assert all(r["skipped"] for r in res2.values())


def test_fused_type_conflict_returns_none_and_pipeline_falls_back(
    spark, tmp_path
):
    # same column name "v", string in one table / long in the other:
    # prepare_grouped_fused refuses (None) …
    sa = widen_for_cdc(_schema("id", "v"))
    sb_struct = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("v", T.LongType())]
    )
    sb = widen_for_cdc(sb_struct)
    sa_def = StreamDef("public", "t_a", _schema("id", "v"), ("id",))
    sb_def = StreamDef("public", "t_b", sb_struct, ("id",))
    ta = LakeTable.create(spark, str(tmp_path / "a"), sa, ["id"], num_buckets=2)
    tb = LakeTable.create(spark, str(tmp_path / "b"), sb, ["id"], num_buckets=2)
    tables2 = {"public.t_a": ta, "public.t_b": tb}
    cls = _classified(
        spark, [(10, 1, _payload("I", "t_a", id="k1", v="s"))], list(tables2)
    )
    assert (
        prepare_grouped_fused(
            cls, [sa_def, sb_def],
            {"public.t_a": {"id": "text", "v": "text"},
             "public.t_b": {"id": "text", "v": "int8"}},
            tables2, {f: "e0" for f in tables2}, {f: None for f in tables2},
            staging_root=str(tmp_path / "stage"),
        )
        is None
    )
    # … and the pipeline still applies the batch via the per-stream path
    streams = [
        StreamDef("public", "t_a", _schema("id", "v"), ("id",)),
        StreamDef("public", "t_b", sb_struct, ("id",)),
    ]
    tables = {
        "public.t_a": LakeTable.create(
            spark, str(tmp_path / "pa"), sa, ["id"], num_buckets=2
        ),
        "public.t_b": LakeTable.create(
            spark, str(tmp_path / "pb"), sb, ["id"], num_buckets=2
        ),
    }
    pipe = CdcPipeline(
        spark, streams,
        {"public.t_a": {"id": "text", "v": "text"},
         "public.t_b": {"id": "text", "v": "int8"}},
        tables, StateStore(str(tmp_path / "state.json")),
    )
    rows = [
        (10, 1, _payload("I", "t_a", id="a1", v="str")),
        (11, 1, _payload("I", "t_b", id="b1", v="7")),
    ]
    raw = spark.createDataFrame(rows, "lsn long, txid long, payload string")
    res = pipe.apply_batch(raw, epoch_id="e0")
    assert not any(r.get("skipped") for r in res["streams"].values())
    assert [tuple(r) for r in tables["public.t_a"].read().select("id", "v").collect()] == [("a1", "str")]
    assert [tuple(r) for r in tables["public.t_b"].read().select("id", "v").collect()] == [("b1", 7)]


def _deep_tables(spark, root):
    """Three tables with 4 merge deltas per bucket; t_c's ``v`` is bigint
    where t_a's is string, so grouped compaction cannot fuse it."""
    tabs = {}
    for t, cols, typ in (
        ("t_a", ("v",), T.StringType()),
        ("t_b", ("w", "x"), T.StringType()),
        ("t_c", ("v",), T.LongType()),
    ):
        schema = widen_for_cdc(T.StructType(
            [T.StructField("id", T.StringType())]
            + [T.StructField(c, typ) for c in cols]
        ))
        tab = LakeTable.create(spark, str(root / t), schema, ["id"], num_buckets=2)
        for i in range(4):  # 4 merge deltas per bucket
            rows = [
                (
                    f"k{j}",
                    *[f"{c}{i}-{j}" if typ == T.StringType() else 10 * i + j
                      for c in cols],
                    100 * i + j,
                    None,
                )
                for j in range(6)
            ]
            tab.merge_into(spark.createDataFrame(rows, schema), epoch_id=f"e{i}")
        tabs[f"public.{t}"] = tab
    return tabs


def test_compact_grouped_matches_per_table(spark, tmp_path, monkeypatch):
    """compact_grouped ≡ per-table compact(include_base=False): same
    final contents, same bucket-map shape (base kept + one folded delta
    dir), same commit summary; the type-conflicting table takes its own
    compact() call."""
    from tap_postgres_spark.lake.grouped import compact_grouped

    grouped = _deep_tables(spark, tmp_path / "g")
    classic = _deep_tables(spark, tmp_path / "c")
    before = {fqn: t.buckets_map() for fqn, t in grouped.items()}
    own_compacts = []
    compact = LakeTable.compact

    def spy(self, *a, **kw):
        own_compacts.append(self.path)
        return compact(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "compact", spy)
    res = compact_grouped(spark, grouped)
    monkeypatch.undo()
    assert own_compacts == [grouped["public.t_c"].path]
    for fqn, tab in classic.items():
        r = tab.compact(max_delta_depth=1, include_base=False)
        assert res[fqn]["skipped"] == r["skipped"] == False  # noqa: E712
        assert res[fqn]["compacted"] == r["compacted"] == 2
    for fqn in grouped:
        g = sorted(map(tuple, grouped[fqn].read().collect()))
        c = sorted(map(tuple, classic[fqn].read().collect()))
        assert g == c and len(g) == 6
        assert grouped[fqn].metadata()["summary"] == classic[fqn].metadata()["summary"]
        g_map, c_map = grouped[fqn].buckets_map(), classic[fqn].buckets_map()
        assert sorted(g_map) == sorted(c_map) == sorted(before[fqn])
        for b, dl in g_map.items():
            assert dl[0] == before[fqn][b][0]  # base kept
            assert len(dl) == len(c_map[b]) == 2  # + one folded dir
    # nothing left to compact → per-table skipped markers
    res2 = compact_grouped(spark, grouped)
    assert all(r["skipped"] for r in res2.values())


def test_compact_grouped_leaves_reader_session_aqe_alone(
    spark, tmp_path, monkeypatch
):
    """Grouped compaction turns AQE off for its write on a session of its
    own: the session that reads the tables never sees the setting
    change, not even while the write runs."""
    from pyspark.sql.conf import RuntimeConfig

    from tap_postgres_spark.lake.grouped import compact_grouped

    aqe = "spark.sql.adaptive.enabled"
    tables = _deep_tables(spark, tmp_path)
    before = spark.conf.get(aqe)
    rows = {fqn: sorted(map(tuple, t.read().collect())) for fqn, t in tables.items()}
    seen = []
    conf_set, conf_unset = RuntimeConfig.set, RuntimeConfig.unset

    def watch(real):
        def call(self, *a, **kw):
            out = real(self, *a, **kw)
            seen.append(spark.conf.get(aqe))
            return out

        return call

    monkeypatch.setattr(RuntimeConfig, "set", watch(conf_set))
    monkeypatch.setattr(RuntimeConfig, "unset", watch(conf_unset))
    res = compact_grouped(spark, tables)
    monkeypatch.undo()
    assert not any(r["skipped"] for r in res.values())
    assert seen and set(seen) == {before}
    assert spark.conf.get(aqe) == before
    assert {
        fqn: sorted(map(tuple, t.read().collect())) for fqn, t in tables.items()
    } == rows


def _two_tables(spark, tmp_path):
    defs = [
        StreamDef("public", "t_a", _schema("id", "v"), ("id",)),
        StreamDef("public", "t_b", _schema("id", "w"), ("id",)),
    ]
    tables = {
        s.fqn: LakeTable.create(
            spark, str(tmp_path / s.table_name),
            widen_for_cdc(s.spark_schema), ["id"], num_buckets=2,
        )
        for s in defs
    }
    return defs, tables


def _fused_epoch(session, defs, tables, rows, epoch, floors, stage):
    cls = _classified(session, rows, list(tables))
    plan = prepare_grouped_fused(
        cls, defs, {f: {"id": "text"} for f in tables}, tables,
        {f: f"{epoch}:{f}" for f in tables}, floors, staging_root=stage,
    )
    return execute_grouped_fused(plan)


def test_fused_write_is_one_job_on_the_dataframes_session(spark, tmp_path):
    """The batch of a streaming foreachBatch lives on the query's cloned
    session: AQE must go off THERE (one job, not AQE's stage jobs), and
    neither session's setting may change."""
    aqe = "spark.sql.adaptive.enabled"
    clone = spark.newSession()
    before = (spark.conf.get(aqe), clone.conf.get(aqe))
    defs, tables = _two_tables(spark, tmp_path)
    rows = [
        (10, 1, _payload("I", "t_a", id="a1", v="x")),
        (11, 1, _payload("I", "t_b", id="b1", w="y")),
        (12, 2, _payload("U", "t_a", id="a1", v="x2")),
    ]
    sc = spark.sparkContext
    sc.setJobGroup("fused-one-job", "fused write")
    try:
        res = _fused_epoch(
            clone, defs, tables, rows, "e0", {f: None for f in tables},
            str(tmp_path / "stage"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("fused-one-job")) == 1
    assert (spark.conf.get(aqe), clone.conf.get(aqe)) == before
    assert [r["rows_written"] for r in res.values()] == [1, 1]


def test_one_stream_pipeline_takes_the_fused_write(spark, tmp_path, monkeypatch):
    """A plain one-stream pipeline lands through the fused plan too: one
    Spark job for the whole apply_batch on the batch's own (cloned)
    session, no merge_into, and neither session's AQE setting moves."""
    aqe = "spark.sql.adaptive.enabled"
    clone = spark.newSession()
    before = (spark.conf.get(aqe), clone.conf.get(aqe))
    s = StreamDef("public", "t_a", _schema("id", "v"), ("id",))
    table = LakeTable.create(
        spark, str(tmp_path / "t_a"), widen_for_cdc(s.spark_schema),
        ["id"], num_buckets=2,
    )
    pipe = CdcPipeline(
        spark, [s], {s.fqn: {"id": "text", "v": "text"}}, {s.fqn: table},
        StateStore(str(tmp_path / "state.json")),
    )
    merges = []
    real_merge = LakeTable.merge_into

    def spy(self, *a, **kw):
        merges.append(self.path)
        return real_merge(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "merge_into", spy)
    raw = clone.createDataFrame(
        [
            (10, 1, _payload("I", "t_a", id="a1", v="x")),
            (11, 1, _payload("I", "t_a", id="a2", v="y")),
            (12, 2, _payload("U", "t_a", id="a1", v="x2")),
        ],
        "lsn long, txid long, payload string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("one-stream-fused", "one-stream apply_batch")
    try:
        res = pipe.apply_batch(raw, epoch_id="e0")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("one-stream-fused")) == 1
    assert merges == []
    assert (spark.conf.get(aqe), clone.conf.get(aqe)) == before
    assert res["streams"][s.fqn]["rows_written"] == 2
    assert sorted(
        tuple(r) for r in table.read().select("id", "v").collect()
    ) == [("a1", "x2"), ("a2", "y")]


def test_one_stream_depth_trigger_compacts_in_one_job(
    spark, tmp_path, monkeypatch
):
    """A one-stream pipeline whose depth trigger trips: every compaction,
    tiered and full, is ONE Spark job on top of the epoch's fused write
    (counted by job group per epoch), the reader session's AQE setting
    never changes, the full pass runs retention and vacuum, and the
    table reads the same as an uncompacted twin fed the same batches."""
    from pyspark.sql.conf import RuntimeConfig

    aqe = "spark.sql.adaptive.enabled"
    clone = spark.newSession()
    s = StreamDef("public", "t_a", _schema("id", "v"), ("id",))

    def pipeline(name, depth):
        table = LakeTable.create(
            spark, str(tmp_path / name), widen_for_cdc(s.spark_schema),
            ["id"], num_buckets=2,
        )
        pipe = CdcPipeline(
            spark, [s], {s.fqn: {"id": "text", "v": "text"}}, {s.fqn: table},
            StateStore(str(tmp_path / f"{name}.json")),
            auto_compact_depth=depth, full_compact_every=2,
            retention_keep_last=50,
        )
        return pipe, table

    pipe, table = pipeline("compacted", 2)
    twin, twin_table = pipeline("plain", 0)
    before = spark.conf.get(aqe)
    seen = []
    conf_set, conf_unset = RuntimeConfig.set, RuntimeConfig.unset

    def watch(real):
        def call(self, *a, **kw):
            out = real(self, *a, **kw)
            seen.append(spark.conf.get(aqe))
            return out

        return call

    monkeypatch.setattr(RuntimeConfig, "set", watch(conf_set))
    monkeypatch.setattr(RuntimeConfig, "unset", watch(conf_unset))
    sc = spark.sparkContext
    compactions = []
    for e in range(6):
        rows = [
            (100 * e + j, e, _payload("I", "t_a", id=f"k{j}", v=f"v{e}-{j}"))
            for j in range(8)
            if e < 3 or j != 5
        ]
        if e == 3:
            rows.append((100 * e + 9, e, _payload("D", "t_a", id="k5")))
        raw = clone.createDataFrame(rows, "lsn long, txid long, payload string")
        group = f"depth-trigger-{e}"
        sc.setJobGroup(group, "one-stream epoch")
        try:
            out = pipe.apply_batch(raw, epoch_id=f"e{e}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        twin.apply_batch(raw, epoch_id=f"e{e}")
        res = out["streams"][s.fqn]
        compaction = res.get("compaction")
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs == (2 if compaction else 1), (e, jobs, compaction)
        if compaction:
            assert not compaction["skipped"]
            full = not table.metadata()["summary"]["tiered"]
            assert ("retention" in res) == ("vacuum" in res) == full
            compactions.append("full" if full else "tiered")
    monkeypatch.undo()
    assert compactions == ["tiered", "full", "tiered"]
    assert set(seen) <= {before} and spark.conf.get(aqe) == before
    assert table.delta_depth() <= 2 < twin_table.delta_depth()
    got = sorted(map(tuple, table.read().select("id", "v").collect()))
    assert got == sorted(map(tuple, twin_table.read().select("id", "v").collect()))
    assert len(got) == 7  # k5 deleted


def test_fused_memo_hits_and_per_epoch_literals_stay_live(spark, tmp_path):
    """A second epoch of the same layout builds no new memoized plan
    pieces; the per-epoch literals still follow each epoch: every
    table's new delta carries its own committed version as _sdc_gen,
    and an advanced bookmark floor filters that table's older events."""
    from tap_postgres_spark import plancache

    defs, tables = _two_tables(spark, tmp_path)
    ta, tb = tables["public.t_a"], tables["public.t_b"]
    # put the tables at different versions, so a shared or stale _sdc_gen
    # literal shows
    ta.merge_into(_decoded(spark, [("a0", "v0", 1, None)], ["v"]), epoch_id="pre")
    stage = str(tmp_path / "stage")
    no_floor = {f: None for f in tables}

    def new_gens(table, version):
        old = {d for dl in table.buckets_map(version - 1).values() for d in dl}
        new = [
            os.path.join(table.path, d)
            for dl in table.buckets_map(version).values()
            for d in dl
            if d not in old
        ]
        return {r[0] for r in spark.read.parquet(*new).select(SDC_GEN).collect()}

    _fused_epoch(spark, defs, tables, [
        (10, 1, _payload("I", "t_a", id="a1", v="x")),
        (11, 1, _payload("I", "t_b", id="b1", w="y")),
    ], "e1", no_floor, stage)
    n_entries = len(plancache._cache)
    res = _fused_epoch(spark, defs, tables, [
        (20, 2, _payload("I", "t_a", id="a2", v="m")),
        (21, 2, _payload("U", "t_b", id="b1", w="y2")),
    ], "e2", no_floor, stage)
    assert len(plancache._cache) == n_entries  # same layout: all hits
    versions = {f: r["version"] for f, r in res.items()}
    assert versions["public.t_a"] == versions["public.t_b"] + 1
    for fqn, v in versions.items():
        assert new_gens(tables[fqn], v) == {v}

    # t_a's floor advances past LSN 30: its older event must not apply
    res = _fused_epoch(spark, defs, tables, [
        (25, 3, _payload("U", "t_a", id="a1", v="stale")),
        (31, 3, _payload("U", "t_a", id="a2", v="fresh")),
        (26, 3, _payload("U", "t_b", id="b1", w="kept")),
    ], "e3", {"public.t_a": 30, "public.t_b": None}, stage)
    assert res["public.t_a"]["rows_written"] == 1
    assert sorted(map(tuple, ta.read().select("id", "v").collect())) == [
        ("a0", "v0"), ("a1", "x"), ("a2", "fresh"),
    ]
    assert [tuple(r) for r in tb.read().select("id", "w").collect()] == [
        ("b1", "kept")
    ]
    for fqn, r in res.items():
        assert new_gens(tables[fqn], r["version"]) == {r["version"]}
