"""Last-writer-wins fold ("foldUp") — the vectorized replacement for the
reference's ordered row-at-a-time application.

The reference applies WAL events strictly in LSN order
(/root/reference/tap_postgres/client.py:242-243 ``is_sorted = True``), so
the last event for a key silently wins.  In Spark a micro-batch holds many
events per key at once; collapsing them to one row per key *before* the
merge both reproduces that semantics and bounds the upsert-stage shuffle
at |distinct keys| instead of |events| — the north-star "foldUp /
compaction of per-microbatch deltas".

D-then-I resurrection, multiple updates to the same key, and
update-then-delete inside one batch are all resolved here by
``(lsn, txid)`` descending.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plancache import memo

if TYPE_CHECKING:
    import pyarrow as pa

DEFAULT_ORDER = ("_sdc_lsn", "txid")


def fold_last_writer_wins_agg(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str] = DEFAULT_ORDER,
) -> DataFrame:
    """LWW as a hash aggregation: ``max_by(struct(payload), struct(order))``.

    One row per key: the event with the highest ``order_cols`` tuple.
    Executes as ONE shuffle with map-side partial aggregation — each map
    task pre-folds its local events per key before anything moves, so a
    hot key that receives 10^6 updates in a batch ships ≤ num_map_tasks
    candidate rows through the shuffle instead of 10^6.  That makes the
    fold skew-proof without salting; it is the only LWW fold.

    With none of ``order_cols`` present there is no writer order to
    resolve, and the fold keeps one arbitrary row per key.
    """
    order_cols = [c for c in order_cols if c in df.columns]
    if not order_cols:
        return df.dropDuplicates(list(key_cols))
    payload_cols = [c for c in df.columns if c not in key_cols]

    def build() -> tuple[list[Column], Column]:
        winner = F.max_by(
            F.struct(*payload_cols), F.struct(*[F.col(c) for c in order_cols])
        ).alias("_w")
        return [F.col(c) for c in key_cols], winner

    # the agg expressions depend only on the column layout — memoized
    # (plancache.py) because this runs on every CDC micro-batch
    group_cols, winner = memo(
        ("lww_agg", tuple(payload_cols), tuple(key_cols), tuple(order_cols)),
        build,
    )
    return df.groupBy(*group_cols).agg(winner).select(*key_cols, "_w.*")


def fold_last_writer_wins_arrow(
    tbl: pa.Table,
    key_cols: Sequence[str],
    order_cols: Sequence[str] = DEFAULT_ORDER,
) -> pa.Table:
    """:func:`fold_last_writer_wins_agg` over an Arrow table on the
    driver, with the same winners: one row per key (NULL keys group
    together), the one with the highest ``order_cols`` tuple, NULL
    ordered below every value as Spark orders it.

    Vectorized, with no per-row Python: a stable sort on ``order_cols``,
    the highest sorted position per key, then one ``take``.  Kernels
    run single-threaded, so the fold of a read set does not compete
    with the Spark tasks running beside it.  Output columns are the
    input's, in the input's order.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    order_cols = [c for c in order_cols if c in tbl.column_names]
    positions = pa.array(np.arange(tbl.num_rows, dtype=np.int64))
    idx = positions
    if order_cols:
        idx = pc.sort_indices(
            tbl,
            sort_keys=[(c, "ascending") for c in order_cols],
            null_placement="at_start",
        )
    sorted_keys = pa.table(
        [tbl.column(k).take(idx) for k in key_cols] + [positions],
        names=[*key_cols, "__pos"],
    )
    last = sorted_keys.group_by(list(key_cols), use_threads=False).aggregate(
        [("__pos", "max")]
    )
    return tbl.take(idx.take(last.column("__pos_max")))
