"""Property tests: the two sides of the lake reads' size gate agree,
on tables built by random merges with deletes, NULL keys, NULL and
out-of-order LSNs, LSN ties across commits, tiered compactions, an
added column, an int→bigint widening and fused 2-stream commits
(lake/grouped.py, whose files carry the union of both streams'
columns).

The driver-side read (the default under the session's broadcast
threshold) and the Spark read (forced with a threshold of -1) must
return identical rows and an identical schema, for a bounded point
read (``LakeTable.read_keys``, which must also equal a NULL-safe semi
join over ``read()``) and for every shape of ``read`` and
``read_changes``."""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_postgres_spark.decode import classify, parse_raw_payloads
from tap_postgres_spark.lake import LakeTable
from tap_postgres_spark.lake.grouped import (
    execute_grouped_fused,
    prepare_grouped_fused,
)
from tap_postgres_spark.schema import StreamDef, widen_for_cdc

_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"

# None is a key too: read_keys matches NULL-safely.  Fused commits go
# through wal2json decode, so they draw from the non-NULL keys only.
KEYS = ["k0", "k1", "k2", "k3", None]
LIVE_KEYS = KEYS[:-1]


def _schema(*names):
    return T.StructType([T.StructField(n, T.StringType()) for n in names])


A_DEF = StreamDef("public", "t_a", _schema("id", "v"), ("id",))
B_DEF = StreamDef("public", "t_b", _schema("id", "w"), ("id",))

event = st.tuples(
    st.sampled_from(range(len(KEYS))),
    # lsn: out of order, repeats, NULL (orders below every LSN)
    st.one_of(st.none(), st.integers(min_value=1, max_value=40)),
    st.booleans(),  # is_delete
)
live_event = st.tuples(
    st.sampled_from(range(len(LIVE_KEYS))),
    st.integers(min_value=1, max_value=40),
    st.booleans(),
)
batch = st.lists(event, min_size=1, max_size=4)
ops = st.lists(
    st.one_of(
        # direct merge; "int"/"long" carry an extra column n of that type
        st.tuples(st.just("merge"), batch, st.sampled_from([None, "int", "long"])),
        st.tuples(
            st.just("fused"),
            st.lists(live_event, min_size=1, max_size=3),
            st.lists(live_event, min_size=1, max_size=3),
        ),
        st.just(("compact_tiered",)),
    ),
    min_size=1,
    max_size=6,
)
probe_keys = st.lists(st.sampled_from(KEYS + ["absent"]), min_size=1, max_size=4)


def _dedup(events):
    """One event per (key, lsn) within a batch: a WAL feed cannot carry
    two events at one LSN for one key, and a tie inside one batch
    resolves arbitrarily in the merge fold."""
    return list({(ki, lsn): (ki, lsn, d) for ki, lsn, d in events}.values())


def _merge(spark, table, events, n_type, epoch):
    cols = (
        "id string, v string, _sdc_lsn long, _sdc_deleted_at string, "
        "txid long, _action string"
    )
    if n_type is not None:
        cols += f", n {n_type}"
    rows = []
    for ki, lsn, is_del in _dedup(events):
        row = (KEYS[ki], None if is_del else f"v{lsn}", lsn,
               "2024-01-01" if is_del else None, 1, "D" if is_del else "U")
        rows.append(row + ((lsn,) if n_type is not None else ()))
    table.merge_into(spark.createDataFrame(rows, cols), epoch_id=epoch)


def _payload(action, table, **cols):
    d = {"action": action, "schema": "public", "table": table}
    key = "identity" if action == "D" else "columns"
    d[key] = [{"name": k, "type": "text", "value": v} for k, v in cols.items()]
    return json.dumps(d)


def _fused(spark, tables, events_a, events_b, epoch, staging):
    rows = []
    for name, col, events in (("t_a", "v", events_a), ("t_b", "w", events_b)):
        for ki, lsn, is_del in _dedup(events):
            if is_del:
                rows.append((lsn, 1, _payload("D", name, id=LIVE_KEYS[ki])))
            else:
                rows.append((lsn, 1, _payload("U", name, id=LIVE_KEYS[ki],
                                              **{col: f"{col}{lsn}"})))
    raw = spark.createDataFrame(rows, "lsn long, txid long, payload string")
    plan = prepare_grouped_fused(
        classify(parse_raw_payloads(raw), list(tables)), [A_DEF, B_DEF],
        {f: {"id": "text", "v": "text", "w": "text"} for f in tables}, tables,
        {f: epoch for f in tables}, {f: None for f in tables},
        staging_root=staging,
    )
    assert plan is not None
    res = execute_grouped_fused(plan)
    assert not any(r["skipped"] for r in res.values())


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


def _build(spark, root, sequence):
    """Table ``t_a`` after ``sequence``."""
    tables = {
        d.fqn: LakeTable.create(
            spark, str(root / d.table_name), widen_for_cdc(d.spark_schema),
            ["id"], num_buckets=4,
        )
        for d in (A_DEF, B_DEF)
    }
    t = tables[A_DEF.fqn]
    for i, op in enumerate(sequence):
        if op[0] == "merge":
            _merge(spark, t, op[1], op[2], f"e{i}")
        elif op[0] == "fused":
            _fused(spark, tables, op[1], op[2], f"e{i}", str(root / "stage"))
        else:
            t.compact(max_delta_depth=1, include_base=False)
    return t


# every shape at least once: winning and losing deletes (one fused),
# NULL and out-of-order LSNs, LSN ties across commits (12, and NULL),
# an added int column widened to bigint, a fused commit and a tiered
# compaction
EVERY_SHAPE = [
    ("merge", [(0, 9, False), (1, 5, False), (4, 3, False), (3, None, False)], None),
    ("merge", [(0, 4, False), (2, 7, False), (3, None, True)], "int"),
    ("fused", [(1, 8, False), (2, 20, True)], [(0, 3, False)]),
    ("merge", [(1, 6, True), (3, 12, False), (4, 1, True)], "long"),
    ("compact_tiered",),
    ("merge", [(2, 1, False), (3, 12, True), (0, 15, True), (4, None, False)], None),
]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(sequence=ops, probe=probe_keys, narrow=st.booleans())
@example(sequence=EVERY_SHAPE, probe=KEYS + ["absent"], narrow=False)
def test_point_read_strategies_agree(_spark, tmp_path_factory, sequence, probe, narrow):
    t = _build(_spark, tmp_path_factory.mktemp("read-keys-prop"), sequence)
    columns = ["v"] if narrow else None
    kdf = _spark.createDataFrame([(k,) for k in probe], "id string")
    on_driver = t.read_keys(kdf, columns=columns)
    prev = _spark.conf.get(_THRESHOLD)
    _spark.conf.set(_THRESHOLD, "-1")
    try:
        on_spark = t.read_keys(kdf, columns=columns)
        spark_rows = _rows(on_spark)
    finally:
        _spark.conf.set(_THRESHOLD, prev)
    full = t.read(columns=columns).alias("t")
    joined = full.join(
        kdf.alias("k"), F.col("t.id").eqNullSafe(F.col("k.id")), "left_semi"
    )
    assert on_driver.schema == on_spark.schema == joined.schema
    assert _rows(on_driver) == spark_rows == _rows(joined)


READ_SHAPES = {
    "read": lambda t, v: t.read(),
    "read(version)": lambda t, v: t.read(version=v),
    "read(as_of)": lambda t, v: t.read(as_of=t.metadata(v)["committed_at"]),
    "read(as_of_lsn)": lambda t, v: t.read(as_of_lsn=9),
    "read(buckets)": lambda t, v: t.read(buckets=[0, 3]),
    "read(columns)": lambda t, v: t.read(columns=["n"] if "n" in t.schema.names
                                         else ["v"]),
    "read(include_tombstones)": lambda t, v: t.read(include_tombstones=True),
    "read_changes": lambda t, v: t.read_changes(v),
    "read_changes(columns)": lambda t, v: t.read_changes(1, columns=["v"]),
    "read_changes(fold=False)": lambda t, v: t.read_changes(1, fold=False),
}


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(sequence=ops)
@example(sequence=EVERY_SHAPE)
def test_read_shapes_agree_on_driver_and_spark(_spark, tmp_path_factory, sequence):
    from tap_postgres_spark.lake.table import _is_local

    t = _build(_spark, tmp_path_factory.mktemp("read-shapes-prop"), sequence)
    mid = max(1, t.current_version() // 2)
    prev = _spark.conf.get(_THRESHOLD)
    for name, shape in READ_SHAPES.items():
        on_driver = shape(t, mid)
        assert _is_local(on_driver), name
        _spark.conf.set(_THRESHOLD, "-1")
        try:
            on_spark = shape(t, mid)
            assert on_driver.schema == on_spark.schema, name
            assert _rows(on_driver) == _rows(on_spark), name
        finally:
            _spark.conf.set(_THRESHOLD, prev)
