"""Plan-shape assertions — the "would this survive 100×" checks.

These pin the physical properties the 100 TB design depends on, so a
future refactor that silently regresses them fails loudly:

- the LWW agg fold runs as hash aggregation with a MAP-SIDE PARTIAL
  phase (hot keys pre-folded before the shuffle)
- small dimension joins go broadcast
- the decode projection keeps payload parsing out of extra operators
  (exactly one FilterExec over the projected helper columns)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tap_postgres_spark.operators import fold_last_writer_wins_agg


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_agg_fold_has_partial_aggregation(spark):
    df = spark.range(1000).select(
        (F.col("id") % 10).alias("key"),
        F.col("id").alias("_sdc_lsn"),
        F.lit(1).alias("txid"),
        F.col("id").cast("string").alias("v"),
    )
    plan = _plan(fold_last_writer_wins_agg(df, ["key"]))
    # two-phase hash agg: partial max_by on the map side, final after the
    # exchange — the skew-proofing property
    assert plan.count("max_by") >= 2, plan
    assert "Exchange hashpartitioning(key" in plan, plan


def test_broadcast_join_for_small_dim(spark, tmp_path):
    big = spark.range(10_000).withColumnRenamed("id", "k")
    small = spark.createDataFrame([(i, f"n{i}") for i in range(10)], ["k", "name"])
    plan = _plan(big.join(F.broadcast(small), "k"))
    assert "BroadcastHashJoin" in plan, plan


def test_fold_input_is_single_scan(spark):
    """decode_stream's plan: one parquet scan feeding one projection —
    no duplicated subtree re-reading the feed."""
    import json as _json

    from tap_postgres_spark.decode import classify, decode_stream, parse_raw_payloads
    from tap_postgres_spark.schema import StreamDef
    from pyspark.sql import types as T

    payload = _json.dumps(
        {"action": "I", "schema": "public", "table": "t",
         "columns": [{"name": "id", "type": "integer", "value": "1"}]}
    )
    import tempfile, os

    d = tempfile.mkdtemp()
    spark.createDataFrame(
        [(1, 1, payload)], "lsn long, txid long, payload string"
    ).write.mode("overwrite").parquet(os.path.join(d, "feed"))
    raw = spark.read.parquet(os.path.join(d, "feed"))
    stream = StreamDef(
        "public", "t",
        T.StructType([T.StructField("id", T.IntegerType())]), ("id",),
    )
    out = decode_stream(
        classify(parse_raw_payloads(raw), ["public.t"]), stream, {"id": "integer"}
    )
    plan = _plan(out)
    assert plan.count("Scan parquet") == 1, plan


def test_neardup_blocking_plans_have_no_cartesian_product(spark):
    """Every pairwise near-dup operator must join through a blocking key —
    a CartesianProduct/BroadcastNestedLoopJoin in any of these plans means
    an O(n²) stage snuck back in (the round-1 scale-killers)."""
    from tap_postgres_spark import textops, vectorops

    docs = spark.createDataFrame(
        [(i, f"text number {i} with some shared words") for i in range(50)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 0.5, 0.25]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    plans = {
        "simhash_neardup": _plan(textops.simhash_neardup_pairs(docs, bits=32)),
        "minhash_capped": _plan(
            textops.minhash_lsh_pairs(docs, num_hashes=8, bands=4, max_bucket_size=32)
        ),
        "neardup_lsh": _plan(
            vectorops.neardup_pairs_lsh(emb, dim=4, threshold=0.9, n_planes=4, seeds=(7, 13))
        ),
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan, (name, plan)


def test_semi_keys_filter_sits_below_lww_fold(spark, tmp_path):
    """read(semi_keys=) must apply the broadcast LEFT SEMI to the RAW
    scan, under the max_by fold — Catalyst does not push a semi join
    below the aggregate itself, and folding whole buckets only to
    discard most groups is O(pruned buckets) instead of O(matches).
    In the plan's tree text, deeper operators print LATER, so the join
    must appear after the aggregate lines."""
    from pyspark.sql import types as T

    from tap_postgres_spark.lake import LakeTable
    from tap_postgres_spark.schema import widen_for_cdc

    schema = widen_for_cdc(
        T.StructType(
            [
                T.StructField("k", T.LongType(), False),
                T.StructField("x", T.LongType(), True),
            ]
        )
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, ["k"], num_buckets=4)
    t.merge_into(
        spark.range(1000).select(
            F.col("id").alias("k"),
            F.col("id").alias("x"),
            (F.col("id") + 10).alias("_sdc_lsn"),
            F.lit(None).cast("string").alias("_sdc_deleted_at"),
        ),
        epoch_id="e1",
    )
    keys = spark.range(5).select((F.col("id") * 97).alias("k"))
    for df in (
        t.read(semi_keys=keys),
        t.read_keys(keys, pushdown_limit=2),  # large-key-set strategy
    ):
        plan = _plan(df)
        assert "LeftSemi" in plan, plan
        agg_at = plan.index("max_by")
        join_at = plan.index("LeftSemi")
        assert join_at > agg_at, plan


def test_columns_param_narrows_read_schema(spark, tmp_path, threshold):
    """read(columns=) must narrow the parquet ReadSchema itself: the
    max_by(struct(<all cols>)) fold blocks Catalyst's column pruning, so
    a .select() after read() still scans the full row width — passing
    columns builds the narrow read schema directly.  A threshold of -1
    keeps the read on Spark (a driver-side read is a local relation,
    with no ReadSchema)."""
    from pyspark.sql import types as T

    from tap_postgres_spark.lake import LakeTable
    from tap_postgres_spark.schema import widen_for_cdc

    schema = widen_for_cdc(
        T.StructType(
            [
                T.StructField("k", T.LongType(), False),
                T.StructField("g", T.StringType(), True),
                T.StructField("wide", T.StringType(), True),
            ]
        )
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, ["k"], num_buckets=4)
    t.merge_into(
        spark.range(50).select(
            (F.col("id") % 25).alias("k"),
            F.lit("a").alias("g"),
            F.lit("w").alias("wide"),
            (F.col("id") + 5).alias("_sdc_lsn"),
            F.lit(None).cast("string").alias("_sdc_deleted_at"),
        ),
        epoch_id="e1",
    )
    threshold("-1")
    # the documented hole: select() after read() does NOT prune
    assert "wide" in _plan(t.read().select("k", "g"))
    # columns= does
    narrow = _plan(t.read(columns=["g"]))
    assert "wide" not in narrow, narrow
    import re

    rs = re.search(r"ReadSchema: ([^\n]+)", narrow).group(1)
    assert "wide" not in rs and "g:string" in rs, rs
    # changelog reads narrow the same way
    ch = _plan(t.read_changes(1, columns=["g"]))
    assert "wide" not in ch, ch
    import pytest

    with pytest.raises(ValueError, match="not in schema"):
        t.read(columns=["nope"])
