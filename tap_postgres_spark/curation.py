"""End-to-end training-corpus curation — the composed pipeline.

Every stage here already exists as an individually-oracled operator
(:mod:`textops`, :mod:`pipelineops`, :mod:`digestindex`); this module is
the composition a user actually runs: one declarative plan taking a raw
document corpus to packed training-shard assignments,

    quality gate → exact dedup → MinHash near-dup dedup →
    benchmark decontamination → per-source cap → mixture downsampling →
    sequence packing

Scale shape of the batch composition:

- Stage outputs that feed joins are **id-only relations** — after the
  quality gate (a narrow filter, no shuffle), every dedup /
  decontamination decision travels as a ``(doc_id)`` or
  ``(doc_id, digest)`` row.  Document text crosses the wire exactly
  never: the only text-derived shuffles are the MinHash banded relation
  (60-bit digest keys) and the decontamination shingle digests, both of
  which the component operators already bound (hot-bucket caps,
  broadcast benchmark side).
- Semi/anti joins on ``doc_id`` are hash joins on an 8-byte key; the
  slim side is the keep/drop list, which AQE broadcasts when small.
- The mixture stage collects |groups| rows to the driver (the
  broadcast-by-value pattern of :func:`pipelineops.build_training_mix`);
  the curated relation is ``localCheckpoint``-ed first so the stats job
  does not recompute the dedup chain a second time for the final pass.
- Packing uses the two-level parallel prefix sum of
  :func:`pipelineops.pack_sequences` — a dominant language cannot
  serialize through one task.

Reference parity: the reference engine (MeltanoLabs/tap-postgres) has no
corpus-curation surface; this module is part of the
large-scale-training-pipeline extension the build brief mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pipelineops import (
    build_training_mix,
    cap_per_source,
    decontaminate,
    pack_sequences,
    quality_logit_expr,
)
from .textops import minhash_dedup_keep, quality_features


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    source_col: str = "source",
    quality_threshold: float = 0.0,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    decon_shingle_k: int = 8,
    cap: int | None = None,
    mix_targets: dict[str, float] | None = None,
    pack_budget: int = 256,
) -> DataFrame:
    """Full batch curation: raw corpus in, packed shard assignments out.

    Returns ``(id_col, group_col, source_col, n_tokens, shard_seq)`` —
    one row per surviving document with its training-shard assignment.
    Stages with a ``None`` parameter (``benchmark``, ``cap``,
    ``mix_targets``) are skipped; the remaining stages always run.

    Every stage decision is deterministic (content hashes and key-hash
    uniforms, no RNG), so the curated corpus is reproducible across
    runs, partitionings, and engines — the property the DuckDB oracle
    (``__spark_entry__.oracle_sql()['curate_corpus']``) checks end to
    end.
    """
    # S1 — quality gate: narrow filter, no shuffle, keeps the full row.
    feats = quality_features(docs, text_col=text_col)
    s1 = feats.filter(
        F.round(quality_logit_expr(), 6) > quality_threshold
    ).select(*docs.columns)

    # S2 — exact dedup: keep the lowest id per content hash (the
    # dedup_exact rule), as an id-only semi join.
    keep_exact = (
        s1.groupBy(F.md5(F.col(text_col)).alias("_h"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    s2 = s1.join(keep_exact, id_col, "left_semi")

    # S3 — near-dup dedup: MinHash-LSH keep list (pair losers and
    # oversized-bucket non-minima drop; see minhash_dedup_keep).
    keep_near = minhash_dedup_keep(
        s2, text_col, id_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
    )
    s3 = s2.join(keep_near, id_col, "left_semi")

    # S4 — benchmark decontamination: any shared k-token shingle drops
    # the document (GPT-3/PaLM collision rule); the benchmark side
    # broadcasts inside `decontaminate`.
    if benchmark is not None:
        contaminated = decontaminate(
            s3, benchmark,
            shingle_k=decon_shingle_k, text_col=text_col, id_col=id_col,
        ).select(id_col)
        s4 = s3.join(contaminated, id_col, "left_anti")
    else:
        s4 = s3

    # S5 — per-source cap: salted two-stage hash rank.
    if cap is not None:
        keep_cap = cap_per_source(
            s4, cap, source_col=source_col, key_col=id_col
        ).select(id_col)
        s5 = s4.join(keep_cap, id_col, "left_semi")
    else:
        s5 = s4

    # S6 — mixture downsampling toward target token fractions.  The
    # mixer collects per-group stats at plan-construction time; the
    # lazy localCheckpoint materializes the curated relation on that
    # first job so the final pass reuses it instead of re-running the
    # dedup chain.
    if mix_targets:
        s5 = s5.localCheckpoint(eager=False)
        s6 = build_training_mix(
            s5, mix_targets,
            group_col=group_col, text_col=text_col, key_col=id_col,
        )
    else:
        s6 = s5

    # S7 — sequence packing (two-level parallel prefix sum) + source
    # re-attach: both sides of the final join are slim id-keyed rows.
    packed = pack_sequences(
        s6, pack_budget,
        group_col=group_col, text_col=text_col, id_col=id_col,
    )
    return packed.join(s6.select(id_col, source_col), id_col).select(
        id_col, group_col, source_col, "n_tokens", "shard_seq"
    )

