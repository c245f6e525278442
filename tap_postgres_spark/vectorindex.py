"""Incrementally-maintained on-disk IVF vector index over a CDC lake
table — the vector instantiation of
:mod:`~tap_postgres_spark.lake.inverted` (cell = nearest trained
centroid; see that module for the forward-map / move-tombstone / MOR
fold machinery and the exactly-once contract).

The on-disk IVF layout is vectors as parquet partitioned by
``centroid_id``, so a search reads only the probed cells.  At 100 TB the
corpus keeps changing, and rebuilding a 10^9-vector index per ingest
epoch rereads the world.  Here the refresh
costs O(|changes|): changed vectors re-assign (broadcast-matmul above
the k threshold, `ivf_assign_auto`), old cells come from a
bucket-pruned forward-map lookup, and searches stay partition-pruned
over probed ``centroid_id=`` dirs with the per-key ``(lsn, live)``
fold; :func:`compact_cells` is the inverted file's tiered maintenance.

Reference parity: the reference stops at the Singer stream
(client.py:234-260 LOG_BASED bookmarks); this is the downstream
continuation of the same incremental contract, like lake/derived.py.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lake import LakeTable
from .lake.inverted import (
    bootstrap_inverted,
    compact_inverted,
    read_inverted_meta,
    refresh_inverted,
    resolved_cells,
)
from .vectorops import cosine, ivf_assign_auto, probe_cells

_CELL = "centroid_id"

# back-compat alias: tests/CLI read the index meta through this name
read_index_meta = read_inverted_meta


def _assign_fn(meta_like: dict[str, Any]):
    centroids = [(int(c), v) for c, v in meta_like["centroids"]]
    vec_col = meta_like["vec_col"]
    round_to = meta_like["assign_round_to"]

    def _assign(df: DataFrame) -> DataFrame:
        return ivf_assign_auto(
            df.filter(F.col(vec_col).isNotNull()), centroids,
            vec_col=vec_col, round_to=round_to,
        )

    return _assign


def bootstrap_ivf_index(
    spark: SparkSession,
    base: LakeTable,
    root: str,
    centroids: list[tuple[int, list[float]]],
    *,
    vec_col: str = "embedding",
    assign_round_to: int | None = 6,
) -> dict[str, Any]:
    """Full build (the one O(|table|) pass): assign the base head's
    vectors, write the cell layout, and create the forward map stamped
    with the base version — the first :func:`refresh_ivf_index` picks up
    exactly where this stopped."""
    extra = {
        "centroids": [[int(c), [float(x) for x in v]] for c, v in centroids],
        "vec_col": vec_col,
        "assign_round_to": assign_round_to,
    }
    return bootstrap_inverted(
        spark, base, root, _assign_fn(extra),
        cell_col=_CELL, payload_cols=[vec_col],
        n_cells=len(centroids), extra_meta=extra,
    )


def refresh_ivf_index(
    base: LakeTable,
    root: str,
    *,
    to_version: int | None = None,
) -> dict[str, Any]:
    """Bring the index up to the base head at O(|changes|) — see
    :func:`~tap_postgres_spark.lake.inverted.refresh_inverted`."""
    meta = read_inverted_meta(root)
    return refresh_inverted(
        base, root, _assign_fn(meta), to_version=to_version
    )


def search_ivf_index(
    spark: SparkSession,
    root: str,
    query_vec: list[float],
    k: int = 10,
    *,
    n_probe: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """IVF top-k over the maintained layout: rank centroids driver-side,
    open ONLY the probed cell dirs, fold MOR deltas per key, score the
    survivors exactly.  Equals a full rebuild + search at the same base
    version (pinned in tests)."""
    meta = read_inverted_meta(root)
    keys = meta["key_columns"]
    centroids = [(int(c), v) for c, v in meta["centroids"]]
    probe_ids = probe_cells(query_vec, centroids, n_probe)
    resolved = resolved_cells(spark, root, probe_ids)
    q = F.lit([float(v) for v in query_vec])
    scored = resolved.select(
        *keys,
        F.round(cosine(F.col(meta["vec_col"]), q), round_to).alias("cos_sim"),
    )
    return scored.orderBy(
        F.col("cos_sim").desc(), *[F.col(c).asc() for c in keys]
    ).limit(k)


def compact_cells(
    spark: SparkSession, root: str, *, cells: list[int] | None = None
) -> int:
    """Tiered maintenance of the inverted file — see
    :func:`~tap_postgres_spark.lake.inverted.compact_inverted`."""
    return compact_inverted(spark, root, cells=cells)
