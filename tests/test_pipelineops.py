"""Unit semantics for tap_postgres_spark.pipelineops — hand-computed
oracles on tiny inputs (the driver's DuckDB oracle covers the same ops at
sf0.01; these pin edge cases the synthetic corpus never hits)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tap_postgres_spark import pipelineops


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, value double"
    )


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


class TestSessionize:
    def test_gap_splits_sessions(self, spark):
        ev = _events(
            spark,
            [
                (1, _ts(0), 7, 1.0),
                (2, _ts(1), 7, 2.0),   # same session (60 s gap)
                (3, _ts(20), 7, 4.0),  # > 300 s gap → new session
                (4, _ts(0), 8, 8.0),   # other user
            ],
        )
        out = {
            (r.user_id, r.session_seq): (r.n_events, r.total_value_cents)
            for r in pipelineops.sessionize(ev, gap_s=300).collect()
        }
        assert out == {(7, 1): (2, 300), (7, 2): (1, 400), (8, 1): (1, 800)}

    def test_tie_on_timestamp_breaks_by_event_id(self, spark):
        ev = _events(spark, [(2, _ts(0), 7, 1.0), (1, _ts(0), 7, 1.0)])
        rows = pipelineops.sessionize(ev, gap_s=60).collect()
        assert len(rows) == 1 and rows[0].n_events == 2

    def test_boundary_gap_exactly_equal_stays(self, spark):
        # gap strictly greater than gap_s splits; equal does not
        ev = _events(spark, [(1, _ts(0), 7, 1.0), (2, _ts(5), 7, 1.0)])
        rows = pipelineops.sessionize(ev, gap_s=300).collect()
        assert len(rows) == 1


class TestWindowRollup:
    def test_buckets_and_sums(self, spark):
        ev = spark.createDataFrame(
            [
                (1, _ts(0), 7, "a", 1.5),
                (2, _ts(4), 7, "a", 2.5),
                (3, _ts(6), 7, "a", 1.0),  # next 5-min bucket
                (4, _ts(0), 7, "b", 9.0),
            ],
            "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
        )
        out = {
            (r.window_start_us, r.event_type): (r.n, r.sum_value_cents)
            for r in pipelineops.window_rollup(ev, window_s=300).collect()
        }
        base = int(dt.datetime(2024, 1, 1).replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
        assert out[(base, "a")] == (2, 400)
        assert out[(base + 300_000_000, "a")] == (1, 100)
        assert out[(base, "b")] == (1, 900)


class TestRepetitionStats:
    def test_ratios(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "a b a b a"),      # 5 tokens, 2 distinct; bigrams: ab,ba,ab,ba → top 2/4
                (2, "x y z"),          # no repetition
                (3, "solo"),           # 1 token → no bigrams → ratio 0
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in pipelineops.repetition_stats(docs).collect()}
        assert out[1].dup_word_ratio == pytest.approx(1 - 2 / 5, abs=1e-6)
        assert out[1].top_bigram_ratio == pytest.approx(0.5, abs=1e-6)
        assert out[2].dup_word_ratio == 0.0
        assert out[2].top_bigram_ratio == pytest.approx(0.5, abs=1e-6)  # all unique: 1/2
        assert out[3].n_tokens == 1
        assert out[3].top_bigram_ratio == 0.0


class TestTfidf:
    def test_rare_term_outranks_common(self, spark):
        docs = spark.createDataFrame(
            [(1, "common rare"), (2, "common"), (3, "common")],
            "doc_id long, text string",
        )
        rows = pipelineops.tfidf_top_terms(docs, top_n=1).collect()
        top = {r.doc_id: r.term for r in rows}
        assert top[1] == "rare"  # df=1 beats df=3 at equal tf

    def test_deterministic_tie_break(self, spark):
        docs = spark.createDataFrame([(1, "b a")], "doc_id long, text string")
        rows = pipelineops.tfidf_top_terms(docs, top_n=2).collect()
        assert [r.term for r in sorted(rows, key=lambda r: r.rk)] == ["a", "b"]


class TestPii:
    def test_scan_counts(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "mail me at jo.doe+x@my-site.org now"),
                (2, "server 192.168.0.1 and 10.0.0.2"),
                (3, "call +555 123-4567 or 555 123-4568"),
                (4, "clean text with no pii at all"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in pipelineops.pii_scan(docs).collect()}
        assert (out[1].n_email, out[1].n_pii) == (1, 1)
        assert (out[2].n_ip, out[2].n_pii) == (2, 2)
        assert (out[3].n_phone, out[3].n_pii) == (2, 2)
        assert out[4].n_pii == 0

    def test_redact_replaces_all_spans(self, spark):
        docs = spark.createDataFrame(
            [(1, "a@b.co and c@d.io at 1.2.3.4 call +123 456-7890")],
            "doc_id long, text string",
        )
        red = pipelineops.pii_redact(docs).collect()[0].text_redacted
        assert red == "[EMAIL] and [EMAIL] at [IP] call [PHONE]"

    def test_ip_inside_word_not_matched(self, spark):
        docs = spark.createDataFrame(
            [(1, "version v1.2.3.4beta is fine")], "doc_id long, text string"
        )
        assert pipelineops.pii_scan(docs).collect()[0].n_ip == 0


class TestChunking:
    def test_overlap_and_tail(self, spark):
        words = " ".join(f"w{i}" for i in range(10))
        docs = spark.createDataFrame([(1, words)], "doc_id long, text string")
        rows = sorted(
            pipelineops.chunk_documents(docs, chunk_tokens=4, overlap=1).collect(),
            key=lambda r: r.chunk_idx,
        )
        # stride 3: starts 0,3,6,9
        assert [r.chunk_idx for r in rows] == [0, 1, 2, 3]
        assert rows[0].chunk_text == "w0 w1 w2 w3"
        assert rows[1].chunk_text == "w3 w4 w5 w6"  # 1-token overlap
        assert rows[3].chunk_text == "w9"  # short tail
        assert rows[3].n_chunk_tokens == 1
        # every token appears in at least one chunk
        covered = set(" ".join(r.chunk_text for r in rows).split())
        assert covered == set(words.split())

    def test_empty_doc_yields_no_chunks(self, spark):
        docs = spark.createDataFrame([(1, "")], "doc_id long, text string")
        assert pipelineops.chunk_documents(docs).count() == 0

    def test_overlap_must_be_smaller(self, spark):
        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError):
            pipelineops.chunk_documents(docs, chunk_tokens=4, overlap=4)


class TestCorpusDedup:
    def test_anti_join_on_hash(self, spark):
        fresh = spark.createDataFrame(
            [(1, "seen"), (2, "new"), (3, "seen")], "doc_id long, text string"
        )
        corpus = fresh.filter("doc_id = 1").select(F.md5("text").alias("h"))
        kept = {r.doc_id for r in pipelineops.dedup_against_corpus(fresh, corpus).collect()}
        # doc 3 duplicates corpus content even though its id is new
        assert kept == {2}


class TestLabelCentroids:
    def test_mean_per_dim(self, spark):
        emb = spark.createDataFrame(
            [
                (1, [1.0, 2.0], 0),
                (2, [3.0, 4.0], 0),
                (3, [10.0, 20.0], 1),
            ],
            "vec_id long, embedding array<float>, label int",
        )
        out = {
            (r.label, r.dim): r.centroid
            for r in pipelineops.label_centroids(emb, dim=2).collect()
        }
        assert out == {(0, 0): 2.0, (0, 1): 3.0, (1, 0): 10.0, (1, 1): 20.0}


class TestLengthStats:
    def test_exact_percentiles(self, spark):
        docs = spark.createDataFrame(
            [(i, "en", i * 10) for i in range(1, 6)] + [(9, "fr", 100)],
            "doc_id long, lang string, n_chars long",
        )
        out = {r.lang: r for r in __import__("tap_postgres_spark.pipelineops", fromlist=["x"]).length_stats(docs).collect()}
        assert out["en"].n_docs == 5
        assert out["en"].median_chars == 30.0
        assert out["en"].mean_chars == 30.0
        assert out["fr"].median_chars == 100.0


class TestStratifiedSample:
    def test_deterministic_and_partition_invariant(self, spark):
        from tap_postgres_spark import pipelineops

        docs = spark.createDataFrame(
            [(i, "x") for i in range(1000)], "doc_id long, lang string"
        )
        a = {r.doc_id for r in pipelineops.stratified_sample(docs, pct=10).collect()}
        b = {
            r.doc_id
            for r in pipelineops.stratified_sample(docs.repartition(7), pct=10).collect()
        }
        assert a == b  # same sample regardless of partitioning
        assert 50 < len(a) < 200  # ~10% of 1000
        # monotone: a larger pct strictly contains the smaller sample
        c = {r.doc_id for r in pipelineops.stratified_sample(docs, pct=20).collect()}
        assert a <= c


def test_decontaminate_flags_exact_and_partial_overlap(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h i j"),            # benchmark member
            (1, "x a b c d e f g h z"),            # shares the 8-gram a..h
            (2, "totally different words only here there now"),  # clean
            (3, "a b c d e f g h i j"),            # exact dup of benchmark
        ],
        "doc_id long, text string",
    )
    bench = docs.filter("doc_id = 0")
    got = {
        r["doc_id"]: r["n_contaminated_shingles"]
        for r in pipelineops.decontaminate(docs, bench, shingle_k=8).collect()
    }
    assert 2 not in got                       # clean doc absent
    assert got[0] == 3 and got[3] == 3        # all 3 8-grams collide
    assert got[1] == 1                        # one shared 8-gram


def test_decontaminate_short_doc_whole_text_fallback(spark):
    docs = spark.createDataFrame(
        [(0, "tiny doc"), (1, "tiny doc"), (2, "other")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_contaminated_shingles"]
        for r in pipelineops.decontaminate(
            docs, docs.filter("doc_id = 0"), shingle_k=8
        ).collect()
    }
    assert got == {0: 1, 1: 1}


def test_token_entropy_bounds(spark):
    docs = spark.createDataFrame(
        [(0, "spam spam spam spam"), (1, "one two three four")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pipelineops.token_entropy(docs).collect()}
    assert got[0]["entropy_ppm"] == 0             # zero diversity
    import math

    assert got[1]["entropy_ppm"] == round(math.log(4) * 1_000_000)  # uniform max
    assert got[0]["n_tokens"] == got[1]["n_tokens"] == 4


def test_neardup_clusters_transitive_closure(spark):
    # components: {1,2,3,4} (chain), {10,11}, singletons absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in pipelineops.neardup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_neardup_clusters_long_chain_converges(spark):
    # worst case: a 12-node path graph — needs ~diameter rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "a long, b long"
    )
    got = pipelineops.neardup_clusters(pairs).collect()
    assert all(r["cluster_id"] == 0 for r in got) and len(got) == 13


def test_neardup_clusters_reliable_checkpoint_path(spark, tmp_path):
    """checkpoint_dir switches per-round lineage truncation to reliable
    checkpoint() (cluster executor-loss safety): the iteration must
    converge to the same components and actually write checkpoint data."""
    import os

    ckpt = str(tmp_path / "cc-ckpt")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)] + [(100 + i, 101 + i) for i in range(8)],
        "a long, b long",
    )
    local = {
        r["id"]: r["cluster_id"]
        for r in pipelineops.neardup_clusters(
            pairs, small_graph_limit=0
        ).collect()
    }
    reliable = {
        r["id"]: r["cluster_id"]
        for r in pipelineops.neardup_clusters(
            pairs, checkpoint_dir=ckpt, small_graph_limit=0
        ).collect()
    }
    assert reliable == local
    # reliable checkpoints really landed on (shared) storage
    assert any(files for _, _, files in os.walk(ckpt))


def test_neardup_clusters_small_graph_fast_path_matches_iterative(spark):
    """The size-gated union-find fast path must return exactly the
    iterative min-label propagation result (ids, labels, schema)."""
    pairs = spark.createDataFrame(
        # two chains, one triangle-with-tail, one isolated edge, plus a
        # pair list ordering that exercises non-min-first unions
        [(5, 4), (4, 3), (3, 2), (2, 1), (10, 11), (20, 22), (22, 21),
         (21, 20), (22, 23), (40, 41)],
        "a long, b long",
    )
    fast = pipelineops.neardup_clusters(pairs)  # under the default gate
    slow = pipelineops.neardup_clusters(pairs, small_graph_limit=0)
    assert fast.schema == slow.schema
    f = {r["id"]: r["cluster_id"] for r in fast.collect()}
    s = {r["id"]: r["cluster_id"] for r in slow.collect()}
    assert f == s
    assert f[5] == 1 and f[23] == 20 and f[41] == 40 and f[11] == 10


def test_neardup_clusters_merged_endpoint_types(spark):
    """An int ``a`` with a bigint ``b``: both gates type the ids as the
    a/b union does (bigint), and a bigint id survives the fast path."""
    big = 2**40
    pairs = spark.createDataFrame([(1, 2), (3, big)], "a int, b long")
    fast = pipelineops.neardup_clusters(pairs)
    slow = pipelineops.neardup_clusters(pairs, small_graph_limit=0)
    assert fast.schema == slow.schema
    assert fast.schema["id"].dataType.simpleString() == "bigint"
    want = {1: 1, 2: 1, 3: 3, big: 3}
    assert {r["id"]: r["cluster_id"] for r in fast.collect()} == want
    assert {r["id"]: r["cluster_id"] for r in slow.collect()} == want


def test_neardup_clusters_skip_null_endpoints(spark):
    """A pair with a NULL endpoint is no edge: the union-find fast path
    and the iterative path both drop it (no TypeError from comparing a
    NULL root, no NULL-id component)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (None, None), (4, 5)], "a long, b long"
    )
    fast = pipelineops.neardup_clusters(pairs)  # under the default gate
    slow = pipelineops.neardup_clusters(pairs, small_graph_limit=0)
    f = sorted(tuple(r) for r in fast.collect())
    assert f == sorted(tuple(r) for r in slow.collect())
    assert f == [(1, 1), (2, 1), (4, 4), (5, 4)]


def test_pack_sequences_boundaries(spark):
    docs = spark.createDataFrame(
        [(i, "g", "w " * 10) for i in range(10)],  # 10 tokens each
        "doc_id long, lang string, text string",
    )
    got = {
        r["doc_id"]: r["shard_seq"]
        for r in pipelineops.pack_sequences(docs, budget_tokens=25).collect()
    }
    # cumsum starts: 0,10,20,30,... → shards 0,0,0,1,1,2,2,(70)2,3,3
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 2, 6: 2, 7: 2, 8: 3, 9: 3}


def test_pack_sequences_two_level_equals_single_window(spark):
    """Round-4 scale fix: the two-level parallel prefix sum (default) is
    bit-identical to the single-window form, including a hot dominant
    group, variable doc lengths, and a NULL group."""
    import random

    rng = random.Random(11)
    rows = [
        (i, "en" if i % 10 else None, "w " * rng.randint(0, 40))
        for i in range(400)
    ] + [(1000 + i, "fr", "x " * rng.randint(1, 15)) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    one = {
        (r["doc_id"], r["lang"]): (r["n_tokens"], r["shard_seq"])
        for r in pipelineops.pack_sequences(
            docs, budget_tokens=64, n_subgroups=1
        ).collect()
    }
    two = {
        (r["doc_id"], r["lang"]): (r["n_tokens"], r["shard_seq"])
        for r in pipelineops.pack_sequences(
            docs, budget_tokens=64, n_subgroups=8
        ).collect()
    }
    assert one == two and len(two) == 440


def test_pack_sequences_hot_group_splits_across_subranges(spark):
    """A single dominant group must fan out over ≥ n_subgroups window
    partitions instead of one serial task (plan pin for the skew fix)."""
    docs = spark.createDataFrame(
        [(i, "en", "w " * 5) for i in range(600)],
        "doc_id long, lang string, text string",
    )
    out = pipelineops.pack_sequences(docs, budget_tokens=50, n_subgroups=8)
    # the physical plan's main window partitions by (group, subrange)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_sub" in plan
    # and the hot group's rows really spread over >= 8 subranges: rebuild
    # the internal subrange assignment the way the operator does
    from pyspark.sql import functions as F

    d = docs.select("doc_id", "lang", F.size(pipelineops.tokens(F.col("text"))).alias("n"))
    fracs = [i / 8 for i in range(1, 8)]
    bounds = d.groupBy("lang").agg(
        F.percentile_approx(F.col("doc_id"), F.array(*[F.lit(x) for x in fracs])).alias("bs")
    )
    n_sub = (
        d.join(bounds, "lang")
        .select(F.size(F.filter(F.col("bs"), lambda b: b < F.col("doc_id"))).alias("s"))
        .distinct()
        .count()
    )
    assert n_sub >= 8
    # output still correct: 5 tokens/doc, 50-token budget → 10 docs/shard
    got = {r["doc_id"]: r["shard_seq"] for r in out.collect()}
    assert all(got[i] == i // 10 for i in range(600))


class TestCapPerSource:
    def _docs(self, spark, n_per_src=30, sources=("a", "b")):
        rows = [
            (s_i * 1000 + i, src, f"text {i}")
            for s_i, src in enumerate(sources)
            for i in range(n_per_src)
        ]
        return spark.createDataFrame(rows, "doc_id long, source string, text string")

    def test_caps_and_is_deterministic(self, spark):
        docs = self._docs(spark)
        got = pipelineops.cap_per_source(docs, cap=5).collect()
        per_src = {}
        for r in got:
            per_src.setdefault(r["source"], []).append(r["doc_id"])
        assert all(len(v) == 5 for v in per_src.values())
        again = pipelineops.cap_per_source(docs.repartition(7), cap=5).collect()
        assert sorted(r["doc_id"] for r in got) == sorted(
            r["doc_id"] for r in again
        )

    def test_salted_rank_equals_plain_rank(self, spark):
        """The salted two-stage rank must select exactly the rows a plain
        global hash-rank would — salting is a physical rewrite only."""
        from pyspark.sql import Window

        from tap_postgres_spark.functions import md5_60bit

        docs = self._docs(spark, n_per_src=40, sources=("a", "b", "c"))
        w = Window.partitionBy("source").orderBy(
            md5_60bit(F.col("doc_id")).asc(), F.col("doc_id").asc()
        )
        plain = {
            r["doc_id"]
            for r in docs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 7)
            .collect()
        }
        salted = {
            r["doc_id"]
            for r in pipelineops.cap_per_source(docs, cap=7, n_salt=4).collect()
        }
        assert salted == plain

    def test_under_cap_passthrough(self, spark):
        docs = self._docs(spark, n_per_src=3)
        got = pipelineops.cap_per_source(docs, cap=10).collect()
        assert len(got) == 6
        assert set(docs.columns) == set(got[0].asDict().keys())


class TestWeightedSample:
    def test_extremes_and_determinism(self, spark):
        docs = spark.createDataFrame(
            [(i, "t") for i in range(200)], "doc_id long, text string"
        )
        none = pipelineops.weighted_sample(
            docs.withColumn("w", F.lit(0.0)), "w"
        ).count()
        everything = pipelineops.weighted_sample(
            docs.withColumn("w", F.lit(1.0)), "w"
        ).count()
        assert none == 0 and everything == 200
        half = pipelineops.weighted_sample(docs.withColumn("w", F.lit(0.5)), "w")
        ids1 = sorted(r["doc_id"] for r in half.collect())
        ids2 = sorted(
            r["doc_id"]
            for r in pipelineops.weighted_sample(
                docs.repartition(7).withColumn("w", F.lit(0.5)), "w"
            ).collect()
        )
        assert ids1 == ids2 and 60 <= len(ids1) <= 140

    def test_monotone_overlap_on_weight_change(self, spark):
        """Raising a weight only ADDS rows; lowering only removes."""
        docs = spark.createDataFrame(
            [(i, "t") for i in range(300)], "doc_id long, text string"
        )
        lo = {
            r["doc_id"]
            for r in pipelineops.weighted_sample(
                docs.withColumn("w", F.lit(0.3)), "w"
            ).collect()
        }
        hi = {
            r["doc_id"]
            for r in pipelineops.weighted_sample(
                docs.withColumn("w", F.lit(0.7)), "w"
            ).collect()
        }
        assert lo <= hi


def test_quality_logit_orders_obvious_cases(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog is on the mat of the house"),
            (2, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pipelineops.quality_logit(docs).collect()}
    assert got[1]["quality_logit"] > got[2]["quality_logit"]
    assert got[1]["keep"] and not got[2]["keep"]


def test_mixture_weights_fracs_sum_to_one(spark):
    docs = spark.createDataFrame(
        [
            (1, "en", "a", "one two three"),
            (2, "en", "b", "four five"),
            (3, "fr", "a", "six"),
        ],
        "doc_id long, lang string, source string, text string",
    )
    rows = pipelineops.mixture_weights(docs).collect()
    assert {(r["lang"], r["source"]): r["n_tokens"] for r in rows} == {
        ("en", "a"): 3, ("en", "b"): 2, ("fr", "a"): 1,
    }
    assert abs(sum(r["token_frac_ppm"] for r in rows) - 1_000_000) <= len(rows)


def test_length_stats_approx_exact_regime_matches_sorted_percentiles(spark):
    """Below the accuracy bound the GK sketch returns exact discrete
    percentiles (elements of the data, nearest-rank)."""
    vals = [10, 20, 30, 40, 50, 60, 70, 80, 90, 100]
    docs = spark.createDataFrame(
        [(i, "en", v) for i, v in enumerate(vals)],
        "doc_id long, lang string, n_chars long",
    )
    r = pipelineops.length_stats_approx(docs).collect()[0]
    assert r["n_docs"] == 10
    assert r["median_chars"] == 50   # nearest-rank lower median
    assert r["p95_chars"] == 100


def test_frequent_ngrams_counts_docs_and_occurrences(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c a b c"),      # "a b c" twice in one doc
            (2, "a b c d"),
            (3, "a b c"),
            (4, "x y z"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["gram"]: (r["n_docs"], r["n_occurrences"])
        for r in pipelineops.frequent_ngrams(docs, k=3, min_docs=3).collect()
    }
    # "a b c" appears in docs 1,2,3 (distinct=3) with 4 total occurrences
    assert got == {"a b c": (3, 4)}


def test_property_cap_per_source_equals_plain_rank(spark):
    """Hypothesis: for random corpora and cap/salt settings, the salted
    two-stage rank selects exactly the plain global rank's rows."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window

    from tap_postgres_spark.functions import md5_60bit

    corpus = st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from(["a", "b", "c", "d"])),
        min_size=1, max_size=60, unique_by=lambda t: t[0],
    )

    @settings(max_examples=12, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(rows=corpus, cap=st.integers(1, 8), n_salt=st.integers(1, 5))
    def check(rows, cap, n_salt):
        docs = spark.createDataFrame(
            [(i, s, "t") for i, s in rows], "doc_id long, source string, text string"
        )
        w = Window.partitionBy("source").orderBy(
            md5_60bit(F.col("doc_id")).asc(), F.col("doc_id").asc()
        )
        plain = {
            r["doc_id"]
            for r in docs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= cap).collect()
        }
        salted = {
            r["doc_id"]
            for r in pipelineops.cap_per_source(
                docs, cap=cap, n_salt=n_salt
            ).collect()
        }
        assert salted == plain

    check()


def test_build_training_mix_downsamples_toward_targets(spark):
    # 'a' dominates tokens 4:1; target 50/50 → 'a' downsampled ~4x, 'b' kept
    docs = spark.createDataFrame(
        [(i, "a", "w " * 8) for i in range(400)]
        + [(1000 + i, "b", "w " * 8) for i in range(100)],
        "doc_id long, lang string, text string",
    )
    kept = pipelineops.build_training_mix(docs, {"a": 0.5, "b": 0.5}).collect()
    by = {}
    for r in kept:
        by[r["lang"]] = by.get(r["lang"], 0) + 1
    assert by["b"] == 100                 # under target → weight 1, all kept
    # weight for a = min(1, 0.5/0.8) = 0.625 → expect ~250; hash-uniform
    # tolerance is wide but deterministic
    assert 200 <= by["a"] <= 300

    # groups absent from targets are dropped entirely
    kept2 = pipelineops.build_training_mix(docs, {"b": 1.0}).collect()
    assert all(r["lang"] == "b" for r in kept2) and len(kept2) == 100


class TestSourceOverlap:
    def test_pairwise_shared_gram_counts(self, spark):
        # src A and B share exactly the gram "x y z"; C shares nothing
        docs = spark.createDataFrame(
            [
                (1, "A", "x y z q"),        # grams: xyz, yzq
                (2, "B", "p x y z"),        # grams: pxy, xyz
                (3, "B", "x y z"),          # gram: xyz (dup inside B — counts once)
                (4, "C", "totally different words"),
            ],
            "doc_id long, source string, text string",
        )
        out = {
            (r.source_a, r.source_b): r.shared_grams
            for r in pipelineops.source_overlap(docs, k=3).collect()
        }
        assert out == {("A", "B"): 1}

    def test_short_doc_whole_text_gram(self, spark):
        # < k tokens → whole text is the gram (decontaminate fallback)
        docs = spark.createDataFrame(
            [(1, "A", "hi there"), (2, "B", "hi there"), (3, "C", "nope")],
            "doc_id long, source string, text string",
        )
        out = {
            (r.source_a, r.source_b): r.shared_grams
            for r in pipelineops.source_overlap(docs, k=3).collect()
        }
        assert out == {("A", "B"): 1}

    def test_three_way_overlap_expands_all_pairs(self, spark):
        docs = spark.createDataFrame(
            [(1, "A", "x y z"), (2, "B", "x y z"), (3, "C", "x y z w")],
            "doc_id long, source string, text string",
        )
        out = {
            (r.source_a, r.source_b): r.shared_grams
            for r in pipelineops.source_overlap(docs, k=3).collect()
        }
        assert out == {("A", "B"): 1, ("A", "C"): 1, ("B", "C"): 1}

    def test_plan_has_no_join(self, spark):
        """The overlap matrix is join-free (set expansion, not digest
        self-join) — one exchange on the gram digest, one on the pair."""
        docs = spark.createDataFrame(
            [(1, "A", "x y z"), (2, "B", "x y z")],
            "doc_id long, source string, text string",
        )
        plan = pipelineops.source_overlap(docs, k=3)._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        assert "CartesianProduct" not in plan
