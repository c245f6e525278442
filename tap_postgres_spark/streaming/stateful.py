"""Per-key ordering monitor over a batch of CDC events.

CDC observability for late/out-of-order delivery (SURVEY.md §2.10 T3):
for every key, track the maximum ordinal (LSN / event id) seen so far
in arrival order and emit one row per event whose ordinal is lower than
the running maximum ("regression"), i.e. an event that would have been
applied out of order by a naive consumer.  The LWW merge makes such
events harmless for final state; this operator makes them *visible*
(alerting, upstream-lag diagnosis), which is exactly the observability
the reference gets for free from its strictly-ordered single cursor and
a Spark consumer has to reconstruct.

One form, :func:`monotonicity_violations`: plain window functions over
a static DataFrame, with an exact SQL oracle (``q_order_monitor``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

def monotonicity_violations(
    df: DataFrame,
    key_col: str,
    ordinal_col: str,
    order_col: str,
) -> DataFrame:
    """Batch form: events whose ``ordinal_col`` is below the running max
    of all PRECEDING events for the key (preceding = ``order_col`` order,
    the arrival order).  One window pass, no shuffle beyond the key
    partitioning."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max(F.col(ordinal_col)).over(w)
    return (
        df.withColumn("_prev_max", prev_max)
        .filter(F.col(ordinal_col) < F.col("_prev_max"))
        .select(
            F.col(key_col).cast("string").alias("key"),
            F.col(ordinal_col).cast("long").alias("ordinal"),
            F.col("_prev_max").cast("long").alias("max_seen"),
            (F.col("_prev_max") - F.col(ordinal_col)).cast("long").alias("lag"),
        )
    )
