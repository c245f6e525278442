"""textops tests against the driver's documents table + hand oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tap_postgres_spark import textops

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_tokens_and_count(spark):
    df = spark.createDataFrame([(" hello  World  x ",), ("",)], ["text"])
    got = df.select(textops.token_count(F.col("text")).alias("n")).collect()
    assert [r["n"] for r in got] == [3, 0]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["text"])
    got = df.select(textops.shingles(F.col("text"), 3).alias("s")).collect()
    assert got[0]["s"] == ["a b c", "b c d"]
    assert got[1]["s"] == ["a b"]  # shorter than k → single shingle


def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["n_copies"] for r in textops.dedup_exact(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_lsh_finds_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words nothing shared at all here believe me truly"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)], ["doc_id", "text"]
    )
    pairs = {
        (r["a"], r["b"])
        for r in textops.minhash_lsh_pairs(df, num_hashes=16, bands=8).collect()
    }
    assert (1, 4) in pairs  # exact dup always collides
    assert (1, 2) in pairs or (2, 4) in pairs  # near dup collides in some band
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "a b c x y")], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], ["a", "b"])
    got = {(r["a"], r["b"]): r["jaccard"] for r in textops.ngram_jaccard(df, pairs).collect()}
    assert got[(1, 2)] == 1.0
    # shingles(k=3) of doc1: {abc,bcd,cde}; doc3: {abc,bcx,cxy} → 1/5
    assert got[(1, 3)] == pytest.approx(0.2)


def test_simhash_neardup(spark):
    base = "spark streaming merge window filter join batch shuffle partition skew"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "zzz qqq www eee rrr ttt yyy uuu iii ooo")],
        ["doc_id", "text"],
    )
    sh = {r["doc_id"]: r["simhash"] for r in textops.simhash(df).collect()}
    assert sh[1] == sh[2] and sh[1] != sh[3]
    pairs = {(r["a"], r["b"]) for r in textops.simhash_neardup_pairs(df).collect()}
    assert (1, 2) in pairs


def test_quality_and_langid_on_documents(docs):
    q = textops.quality_features(docs).select(
        "doc_id", "q_tokens", "q_punct_ratio", "q_stopword_ratio"
    )
    rows = q.collect()
    assert all(0 <= r["q_punct_ratio"] <= 1 for r in rows)
    assert all(0 <= r["q_stopword_ratio"] <= 1 for r in rows)
    lid = textops.lang_id(docs)
    preds = {r["lang_pred"] for r in lid.collect()}
    assert preds <= set(list(textops.LANG_PROFILES) + ["und"])


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "different")],
        ["doc_id", "text"],
    )
    fp = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", textops.fingerprint(F.col("text")).alias("fp")
    ).collect()}
    assert fp[1] == fp[2] != fp[3]


def test_simhash_neardup_recall_is_exact_vs_bruteforce(spark, docs):
    """Pigeonhole chunk blocking must return EXACTLY the brute-force pair
    set for hamming <= max_hamming (recall 1, and the hamming filter makes
    precision 1 too) — VERDICT round-1 item #1."""
    sample = docs.limit(120)
    s = textops.simhash(sample, bits=32)
    a = s.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
    b = s.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
    brute = {
        (r["a"], r["b"], r["h"])
        for r in a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("h", F.bit_count(F.expr("ha ^ hb")).cast("long"))
        .filter(F.col("h") <= 3)
        .collect()
    }
    blocked = {
        (r["a"], r["b"], r["hamming"])
        for r in textops.simhash_neardup_pairs(sample, bits=32, max_hamming=3).collect()
    }
    assert blocked == brute
    assert brute  # the corpus must actually contain near-dups for this to mean anything


def test_simhash_chunks_cover_all_bits():
    for bits, mh in [(32, 3), (60, 3), (32, 1), (33, 3)]:
        chunks = textops.simhash_chunks(bits, mh)
        assert len(chunks) == mh + 1
        assert sum(w for _, _, w in chunks) == bits
        # contiguous, non-overlapping
        off = 0
        for _c, o, w in chunks:
            assert o == off
            off += w


def test_minhash_lsh_hot_bucket_cap(spark):
    """Adversarial corpus: many identical docs share every band key.
    Without the cap the pair count is quadratic; with it the degenerate
    bucket is excluded and enumerated — VERDICT round-1 item #4."""
    n_dup = 200
    rows = [(i, "identical boilerplate text repeated everywhere always") for i in range(n_dup)]
    rows += [(1000, "a unique document about sparks and rivers flowing"),
             (1001, "a unique document about sparks and rivers glowing")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = textops.minhash_lsh_pairs(
        df, num_hashes=16, bands=8, max_bucket_size=50
    )
    got = {(r["a"], r["b"]) for r in capped.collect()}
    # the quadratic cluster (19900 pairs) is gone; the small near-dup pair survives
    assert all(a >= 1000 for a, _b in got)
    assert (1000, 1001) in got

    oversized = textops.minhash_lsh_oversized_buckets(
        df, num_hashes=16, bands=8, max_bucket_size=50
    ).collect()
    assert oversized and all(r["n"] == n_dup for r in oversized)

    # sanity: uncapped does produce the quadratic pair set
    uncapped = textops.minhash_lsh_pairs(df, num_hashes=16, bands=8)
    assert uncapped.count() == n_dup * (n_dup - 1) // 2 + 1


def test_minhash_dedup_keep_handles_oversized_buckets(spark):
    """The hot-bucket cap must not leave a giant dup cluster un-deduped:
    oversized-bucket members dedup by keep-lowest-id-per-bucket."""
    n_dup = 120
    rows = [(i, "identical boilerplate text repeated everywhere always") for i in range(n_dup)]
    rows += [(1000, "a unique document about sparks and rivers flowing"),
             (1001, "a unique document about sparks and rivers glowing"),
             (2000, "an entirely different text about mountains and snow here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = {
        r["doc_id"]
        for r in textops.minhash_dedup_keep(
            df, num_hashes=16, bands=8, max_bucket_size=50
        ).collect()
    }
    # cluster of 120 → exactly one survivor (id 0); near-dup pair keeps 1000;
    # the unique doc survives
    assert kept == {0, 1000, 2000}


def test_minhash_dedup_keep_window_form_equals_pair_rule(spark, docs):
    """The round-3 rewrite computes the keep-list as one window-min over
    the banded relation.  Pin the equivalence it relies on: that result
    == {docs} minus {pair losers} minus {oversized non-minima}, for both
    a binding and a loose cap (the result is cap-independent)."""
    kw = dict(num_hashes=8, bands=4, shingle_k=3)
    got = {r["doc_id"] for r in textops.minhash_dedup_keep(df=docs, **kw).collect()}

    for cap in (2, 1000):
        pairs = textops.minhash_lsh_pairs(docs, max_bucket_size=cap, **kw)
        losers = {r["b"] for r in pairs.collect()}
        banded = textops.minhash_banded(docs, **kw)
        over = textops.minhash_lsh_oversized_buckets(
            docs, max_bucket_size=cap, banded=banded, **kw
        )
        over_members = (
            banded.join(over.select("band", "key"), ["band", "key"])
            .groupBy("band", "key")
            .agg(F.min("doc_id").alias("keep"), F.collect_set("doc_id").alias("ids"))
            .collect()
        )
        over_losers = {
            i for r in over_members for i in r["ids"] if i != r["keep"]
        }
        all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
        assert got == all_ids - losers - over_losers


def test_bpe_token_count(spark):
    df = spark.createDataFrame(
        [(1, "hello world-42, it's ok")], ["doc_id", "text"]
    )
    toks = df.select(textops.bpe_tokens(F.col("text")).alias("t")).collect()[0]["t"]
    # letters runs, single digits, punctuation chars
    assert toks == ["hello", "world", "-", "4", "2", ",", "it", "'", "s", "ok"]
    n = df.select(textops.token_count_bpe(F.col("text")).alias("n")).collect()[0]["n"]
    assert n == 10


def test_chargram_sketch_alignment_robust(spark):
    """The bottom-k rolling fingerprint must overlap heavily for a doc
    with a small insertion (where whole-doc hashing sees nothing shared),
    and be disjoint for unrelated text."""
    base = "the quick brown fox jumps over the lazy dog while birds sing in the trees"
    shifted = "PREFIX " + base  # insertion shifts all alignments
    other = "completely different material with no overlap at all in any region here"
    df = spark.createDataFrame(
        [(1, base), (2, shifted), (3, other)], ["doc_id", "text"]
    )
    sk = {
        r["doc_id"]: set(r["s"])
        for r in df.select(
            "doc_id", textops.chargram_sketch(F.col("text"), k=5, sketch_size=8).alias("s")
        ).collect()
    }
    assert len(sk[1] & sk[2]) >= 6  # near-dup despite the shift
    assert len(sk[1] & sk[3]) == 0


def test_probe_index_hot_bucket_cap_and_plan(spark):
    """probe_minhash_index's cap: a degenerate corpus bucket (many
    identical docs) is excluded from the pair join, its rows never
    becoming candidates; normal buckets still pair.  The probe side is
    broadcast (no index shuffle for the join) and no cartesian product
    appears."""
    hot = [(i, "boilerplate header repeated everywhere verbatim") for i in range(20)]
    corpus = spark.createDataFrame(
        hot + [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    index = textops.minhash_banded(corpus, bands=4)
    probes = spark.createDataFrame(
        [
            (1000, "boilerplate header repeated everywhere verbatim"),
            (2000, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    capped = textops.probe_minhash_index(
        index, probes, bands=4, max_bucket_size=3
    )
    got = {(r.probe_doc_id, r.doc_id) for r in capped.collect()}
    assert got == {(2000, 100)}  # hot bucket suppressed, normal pairs survive
    uncapped = textops.probe_minhash_index(index, probes, bands=4)
    got_all = {(r.probe_doc_id, r.doc_id) for r in uncapped.collect()}
    assert (2000, 100) in got_all and (1000, 0) in got_all
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
