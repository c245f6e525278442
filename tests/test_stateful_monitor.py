"""Out-of-order monitor: the batch-window form (SURVEY.md §2.10 T3
observability)."""

from __future__ import annotations

from tap_postgres_spark.streaming.stateful import monotonicity_violations


def test_batch_violations_window_form(spark):
    rows = [
        # (key, ordinal, arrival)
        ("a", 10, 1),
        ("a", 30, 2),
        ("a", 20, 3),   # regression: 20 < 30
        ("a", 40, 4),
        ("b", 5, 5),
        ("b", 6, 6),    # monotone — no violation
        ("b", 2, 7),    # regression: 2 < 6
    ]
    df = spark.createDataFrame(rows, "k string, o long, arr long")
    got = {
        (r["key"], r["ordinal"], r["max_seen"], r["lag"])
        for r in monotonicity_violations(df, "k", "o", "arr").collect()
    }
    assert got == {("a", 20, 30, 10), ("b", 2, 6, 4)}
