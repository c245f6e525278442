"""Property-based tests (hypothesis): random event interleavings vs a
dict-fold oracle — the SURVEY.md §5 property tier (the reference uses
hypothesis for slot-name validation; we apply it to the semantics that
actually matter here: LWW resolution and batch-split invariance).
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tap_postgres_spark.operators import fold_last_writer_wins_agg

KEYS = ["k0", "k1", "k2"]

events_strategy = st.lists(
    st.tuples(
        st.sampled_from(KEYS),
        st.sampled_from(["I", "U", "D"]),
        st.integers(min_value=0, max_value=99),  # payload version
    ),
    min_size=1,
    max_size=25,
)


def oracle(events):
    """Apply in order; D removes, I/U set."""
    state = {}
    for i, (k, action, v) in enumerate(events):
        if action == "D":
            state.pop(k, None)
        else:
            state[k] = (v, i)
    return state


def spark_fold(spark, events, fold_fn):
    rows = [
        (k, i + 1, 1, a, v) for i, (k, a, v) in enumerate(events)
    ]  # lsn = position+1 (strictly increasing)
    df = spark.createDataFrame(
        rows, "key string, _sdc_lsn long, txid long, _action string, v int"
    )
    folded = fold_fn(df, ["key"])
    return {
        r["key"]: (r["v"], r["_sdc_lsn"] - 1)
        for r in folded.collect()
        if r["_action"] != "D"
    }


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=events_strategy)
def test_folds_match_oracle(spark, events):
    assert spark_fold(spark, events, fold_last_writer_wins_agg) == oracle(events)


maybe = st.one_of(st.none(), st.integers(min_value=0, max_value=6))
order_rows = st.lists(
    st.tuples(st.sampled_from(KEYS + [None]), maybe, maybe, st.integers(0, 99)),
    min_size=0,
    max_size=30,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=order_rows)
def test_arrow_fold_matches_agg_fold(spark, rows):
    """The driver-side Arrow fold keeps the agg fold's winner per key:
    NULL keys group together, NULL orders below every value, ties on
    the first order column fall to the second."""
    import pyarrow as pa

    from tap_postgres_spark.operators import fold_last_writer_wins_arrow

    # one row per (key, lsn, gen): a full tie has no defined winner
    rows = list({r[:3]: r for r in rows}.values())
    tbl = pa.table(
        {n: pa.array([r[i] for r in rows], t) for i, (n, t) in enumerate(
            [("key", pa.string()), ("_sdc_lsn", pa.int64()), ("_sdc_gen", pa.int64()),
             ("v", pa.int64())]
        )}
    )
    order = ("_sdc_lsn", "_sdc_gen")
    got = fold_last_writer_wins_arrow(tbl, ["key"], order)
    assert got.schema == tbl.schema
    want = fold_last_writer_wins_agg(spark.createDataFrame(tbl), ["key"], order)
    assert sorted(got.to_pylist(), key=repr) == sorted(
        (r.asDict() for r in want.collect()), key=repr
    )
