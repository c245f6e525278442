"""LWW fold tests — the ordered-application contract (client.py:242-243)
made explicit, incl. the hard cases from SURVEY.md §7: D-then-I
resurrection and update-then-delete inside one batch, a hot key, and an
LSN tie.
"""

import pytest
from pyspark.sql import functions as F

from tap_postgres_spark.operators import fold_last_writer_wins_agg


@pytest.fixture()
def events(spark):
    rows = [
        # key, lsn, txid, action, val
        ("k1", 10, 1, "I", "a"),
        ("k1", 20, 1, "U", "b"),
        ("k1", 30, 2, "U", "c"),      # winner for k1
        ("k2", 11, 1, "I", "x"),
        ("k2", 25, 2, "D", None),     # update-then-delete: delete wins
        ("k3", 12, 1, "D", None),
        ("k3", 26, 2, "I", "revived"),  # D-then-I resurrection: insert wins
    ]
    return spark.createDataFrame(rows, ["key", "_sdc_lsn", "txid", "_action", "val"])


def _winners(df):
    return {r["key"]: (r["_action"], r["val"]) for r in df.collect()}


def test_plain_fold(events):
    w = _winners(fold_last_writer_wins_agg(events, ["key"]))
    assert w == {"k1": ("U", "c"), "k2": ("D", None), "k3": ("I", "revived")}


def test_fold_hot_key(spark):
    # one key with 10k updates (the hot-repo case) + a bystander
    hot = spark.range(10_000).select(
        F.lit("hot").alias("key"),
        (F.col("id") + 100).alias("_sdc_lsn"),
        F.lit(1).alias("txid"),
        F.lit("U").alias("_action"),
        F.col("id").cast("string").alias("val"),
    )
    cold = spark.createDataFrame(
        [("cold", 5, 1, "I", "c0")], ["key", "_sdc_lsn", "txid", "_action", "val"]
    )
    folded = fold_last_writer_wins_agg(hot.unionByName(cold), ["key"])
    w = _winners(folded)
    assert w["hot"] == ("U", "9999")
    assert w["cold"] == ("I", "c0")
    assert folded.count() == 2


def test_lsn_tie_broken_by_txid(spark):
    df = spark.createDataFrame(
        [("k", 10, 1, "I", "first"), ("k", 10, 2, "U", "second")],
        ["key", "_sdc_lsn", "txid", "_action", "val"],
    )
    assert _winners(fold_last_writer_wins_agg(df, ["key"]))["k"] == ("U", "second")


def test_fold_without_order_columns_keeps_one_row_per_key(events):
    # no order column present: one arbitrary row per key survives
    folded = fold_last_writer_wins_agg(events, ["key"], ("no_such_col",))
    assert sorted(r["key"] for r in folded.collect()) == ["k1", "k2", "k3"]
