"""Composed curation pipeline (curation.py): batch composition ≡
sequential application of the component operators, and stage wiring
edge cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from tap_postgres_spark import curation, pipelineops, textops

# stopword-rich sentences pass the quality gate; junk fails it
GOOD = "the cat and the dog of the house is to run in the park for fun on the mat with joy"
GOOD2 = "the sun and the moon of the sky is to shine in the night for hours on end with light"
GOOD3 = "the fish and the bird of the sea is to swim in the water for days on end with ease"
GOOD4 = "a boy and a girl of the town like to play in the field for hours with a kite of paper"
JUNK = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( ))) @@@"

# six DISTINCT stopword-rich bodies for the skewed source (pairwise
# 3-shingle overlap near zero, so they are not near-dups of each other)
SRC_A = [
    GOOD,
    "a bird is on the roof and it sings to the sun of a new day for all with cheer",
    "the rain is of the cloud and falls to the ground in sheets for hours on roofs with sound",
    "a ship is on the sea and sails to the port of the bay in fog for days with care",
    "the book is of the shelf and goes to the desk in the study for reading on nights with tea",
    "a tree is in the yard and grows to the sky of the town for years on soil with roots",
]

MH = dict(num_hashes=8, bands=4, shingle_k=3)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def _corpus(spark):
    # a skewed source (6 distinct docs), exact dups, a near dup
    # (case-only variant: tokens() lowercases, so the shingle set is
    # identical while md5(text) differs), a junk doc, and a benchmark doc
    rows = [(i, SRC_A[i], "en", "srcA") for i in range(6)]
    rows += [
        (10, GOOD2, "en", "srcB"),
        (11, GOOD2, "en", "srcB"),              # exact dup of 10
        (12, GOOD2.upper(), "en", "srcB"),      # near dup of 10 (case only)
        (20, GOOD3, "fr", "srcC"),
        (21, JUNK, "en", "srcC"),               # quality drop
        (22, GOOD4, "fr", "srcC"),
    ]
    return _docs(spark, rows)


class TestCurateCorpus:
    def test_composition_equals_sequential_stages(self, spark):
        docs = _corpus(spark)
        bench = docs.filter(F.col("doc_id") == 20)
        got = curation.curate_corpus(
            docs, bench, cap=3, mix_targets={"en": 0.7, "fr": 0.3},
            pack_budget=16, **MH,
        )

        # the same stages applied one at a time through the public ops
        s1 = (
            pipelineops.quality_logit(docs)
            .filter("keep")
            .select("doc_id")
            .join(docs, "doc_id")
        )
        ex = (
            s1.groupBy(F.md5("text").alias("_h"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        s2 = s1.join(ex, "doc_id", "left_semi")
        s3 = s2.join(textops.minhash_dedup_keep(s2, **MH), "doc_id", "left_semi")
        s4 = s3.join(
            pipelineops.decontaminate(s3, bench).select("doc_id"),
            "doc_id", "left_anti",
        )
        s5 = s4.join(
            pipelineops.cap_per_source(s4, 3).select("doc_id"),
            "doc_id", "left_semi",
        )
        s6 = pipelineops.build_training_mix(s5, {"en": 0.7, "fr": 0.3})
        expected = pipelineops.pack_sequences(s6, 16).join(
            s6.select("doc_id", "source"), "doc_id"
        )

        g = {tuple(r) for r in got.select(*sorted(got.columns)).collect()}
        e = {tuple(r) for r in expected.select(*sorted(got.columns)).collect()}
        assert g == e and g  # non-empty: the pipeline kept documents

    def test_each_stage_binds(self, spark):
        docs = _corpus(spark)
        bench = docs.filter(F.col("doc_id") == 20)
        kept = {
            r.doc_id
            for r in curation.curate_corpus(
                docs, bench, cap=3, pack_budget=16, **MH
            ).collect()
        }
        assert 21 not in kept                      # quality drop
        assert 11 not in kept                      # exact-dup loser (10 kept)
        assert 12 not in kept                      # near-dup loser
        assert 20 not in kept                      # contaminated (is the benchmark)
        assert len([d for d in kept if d < 6]) == 3  # srcA capped at 3
        assert 10 in kept and 22 in kept

    def test_optional_stages_skip(self, spark):
        docs = _corpus(spark)
        out = curation.curate_corpus(docs, None, pack_budget=16, **MH)
        kept = {r.doc_id for r in out.collect()}
        # no decontamination → 20 survives; no cap → all of srcA's
        # quality-passing uniques survive
        assert 20 in kept and len([d for d in kept if d < 6]) == 6
        assert set(out.columns) == {
            "doc_id", "lang", "source", "n_tokens", "shard_seq"
        }
