"""Training-data pipeline operators beyond dedup/ANN.

Round-3 widening of the LLM-data-pipeline surface (driver requirement;
SURVEY §2.12): sessionization and tumbling-window rollups over the
`events` stream, repetition / TF-IDF / vocabulary statistics and PII
scrubbing over `documents`, fixed-budget document chunking for training
shards, anti-join dedup of a fresh crawl against an existing corpus, and
per-label embedding centroids.

Design rules (same as textops.py):

- pure Column expressions (JVM, whole-stage codegen) end to end — zero
  Python UDFs in this module;
- every operator has an exact ANSI-SQL oracle in ``__spark_entry__``;
  regexes are restricted to constructs Java regex (Spark) and RE2
  (DuckDB) evaluate identically;
- every shuffle is keyed and bounded: sessionize shuffles once per user,
  the text statistics shuffle on ``doc_id`` prefixes so partial
  aggregation (map-side combine) does the heavy lifting, and the corpus
  anti-join is a hash join on a 16-byte digest, never on document text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import md5_60bit
from .textops import tokens

# ---------------------------------------------------------------------------
# Event-stream operators: sessionization + tumbling-window rollup
# ---------------------------------------------------------------------------


def sessionize(events: DataFrame, gap_s: int = 4 * 3600) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds ``gap_s``.  Classic training-pipeline /
    clickstream primitive (no reference analog — §2.12 addition).

    Scale shape: ONE shuffle on ``user_id`` feeds both window passes
    (lag + running sum preserve the partitioning), then the per-session
    fold groups on ``(user_id, session_seq)`` — a superset of the window
    key, so AQE coalesces it on the already-local data.  Hot users are
    inherently serial here (session order is a per-user total order);
    at 10^10 events the bound is the largest single user's history, not
    the corpus.
    """
    gap_us = int(gap_s) * 1_000_000
    # ts is TIMESTAMP_NTZ on disk; the session timezone is pinned UTC by
    # the callers, so the cast is the identity the oracle's epoch_us uses.
    # Money is folded as integer cents (per-row round, then an exact long
    # sum): integer addition is associative, so the total is independent
    # of partitioning/merge order and no double ever reaches the output.
    e = events.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("ts_us").over(w)
    new_sess = F.when(
        prev.isNull() | ((F.col("ts_us") - prev) > gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    tagged = e.withColumn(
        "session_seq",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return tagged.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        F.sum("value_cents").alias("total_value_cents"),
    )


def window_rollup(events: DataFrame, window_s: int = 86_400) -> DataFrame:
    """Tumbling-window aggregate by event type — the batch twin of a
    Structured Streaming windowed agg (bucket arithmetic instead of
    ``F.window`` so the SQL oracle is byte-identical).

    Scale shape: one shuffle on ``(window_start_us, event_type)`` with
    map-side combine; output cardinality is windows × types, independent
    of input size.
    """
    wus = int(window_s) * 1_000_000
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    # integer bucket arithmetic (not floor of a double quotient): exact at
    # any epoch magnitude, and byte-identical to the SQL oracle; value is
    # folded as integer cents so the sum is order-independent
    return (
        events.select(
            (ts_us - (ts_us % wus)).cast("long").alias("window_start_us"),
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        .groupBy("window_start_us", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value_cents").alias("sum_value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Document statistics: repetition, TF-IDF, vocabulary
# ---------------------------------------------------------------------------


def _bigrams(toks: Column) -> Column:
    """Word bigrams ('w1 w2') from a MATERIALIZED token-array column;
    empty array below 2 tokens (unlike textops.shingles' whole-text
    fallback — repetition stats must not count a 1-token doc as having a
    repeated bigram).

    ``zip_with`` over two ``slice``s so the lambda touches only array
    VALUES: referencing the token array's producing expression inside the
    lambda (e.g. ``element_at(tokens(text), i)``) re-evaluates the regex
    split per element — O(tokens²) per document, measured 10-40× slower
    at 5k docs (same trap documented at textops._shingle_rows)."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate-word
    fraction and most-frequent-bigram fraction (high values flag boilerplate
    / spam for corpus filtering).

    Scale shape: the bigram mode needs a per-(doc, bigram) count — explode
    then two groupBys, BOTH keyed by a ``doc_id`` prefix, so the second is
    a child-partitioning-preserving fold and partial aggregation absorbs
    the explode fan-out before any network transfer.  Tokenization is
    materialized in its own projection (referenced >1×, so CollapseProject
    keeps it) — every downstream expression indexes the array, never
    re-splits the text.
    """
    toked = docs.select("doc_id", tokens(F.col(text_col)).alias("__toks"))
    n = F.size(F.col("__toks"))
    base = toked.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(
            1 - F.size(F.array_distinct(F.col("__toks"))) / F.greatest(n, F.lit(1)), 6
        ).alias("dup_word_ratio"),
        _bigrams(F.col("__toks")).alias("bgs"),
    )
    # Rowwise top-bigram count (guide §2.4 — remove shuffles outright):
    # the per-(doc, bigram) multiplicity max is the longest equal-run of
    # the SORTED per-row bigram array — one sequential fold per row, no
    # explode, no groupBy pair, no join back.  max(count) ≡ longest run;
    # sum(count) ≡ size(bgs); a <2-token doc has an empty array → the
    # same coalesce(…, 0.0) the former left join produced.
    run_fold = F.aggregate(
        F.array_sort(F.col("bgs")),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return base.select(
        "doc_id",
        "n_tokens",
        "dup_word_ratio",
        F.round(
            F.coalesce(
                F.when(F.size("bgs") > 0, run_fold / F.size("bgs")),
                F.lit(0.0),
            ),
            6,
        ).alias("top_bigram_ratio"),
    )


def tfidf_top_terms(docs: DataFrame, top_n: int = 5, text_col: str = "text") -> DataFrame:
    """Top-``top_n`` TF-IDF terms per document (deterministic: score desc,
    term asc).  idf = ln((N+1)/(df+1)) — the smoothed form, computed as a
    1-row broadcast so no driver round-trip bakes N into the plan.

    Scale shape: explode → per-(doc, term) count (map-side combined) →
    document-frequency fold on ``term`` → shuffle hash join back on
    ``term`` → per-doc window.  The df relation is vocabulary-sized
    (≪ corpus), but not guaranteed broadcast-able at 10^10 docs, so it
    stays a shuffle join; the window's rank prune runs inside the
    partial-window optimization (rank filter pushed below the final sort).
    """
    terms = docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_n)
        .select("doc_id", "rk", "term", "tf", "score")
    )


def vocab_top(docs: DataFrame, n: int = 50, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary: top-``n`` terms by frequency (ties → term asc).
    One shuffle with map-side combine, then TakeOrderedAndProject — the
    driver never sees more than ``n`` rows regardless of corpus size."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(n)
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Restricted to constructs Java regex and RE2 evaluate identically:
# character classes, bounded repetition, \b word boundaries — no
# lookaround, no backreferences.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+?\d{3}[- ]\d{3}[- ]\d{4}"


def pii_scan(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII hit counts (emails, IPv4 addresses, phone-shaped
    numbers) — the audit pass a corpus runs before redaction.  Pure
    ``regexp_count`` column expressions; one codegen stage, no shuffle."""
    t = F.col(text_col)
    n_email = F.regexp_count(t, F.lit(EMAIL_RE))
    n_ip = F.regexp_count(t, F.lit(IPV4_RE))
    n_phone = F.regexp_count(t, F.lit(PHONE_RE))
    return docs.select(
        "doc_id",
        n_email.cast("long").alias("n_email"),
        n_ip.cast("long").alias("n_ip"),
        n_phone.cast("long").alias("n_phone"),
        (n_email + n_ip + n_phone).cast("long").alias("n_pii"),
    )


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace PII spans with typed placeholders.  Emails first (their
    local parts may contain digits that would otherwise be phone-matched),
    then IPs, then phones.  Global replace on both engines."""
    t = F.col(text_col)
    red = F.regexp_replace(t, EMAIL_RE, "[EMAIL]")
    red = F.regexp_replace(red, IPV4_RE, "[IP]")
    red = F.regexp_replace(red, PHONE_RE, "[PHONE]")
    return docs.select("doc_id", red.alias("text_redacted"))


# ---------------------------------------------------------------------------
# Document chunking — fixed token budget with overlap
# ---------------------------------------------------------------------------


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 32,
    overlap: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Split each document into ``chunk_tokens``-token windows with
    ``overlap`` tokens of context carried between consecutive chunks —
    the sharding step before tokenizer/packing in a training pipeline.

    Chunk starts are 0, stride, 2·stride, … (stride = chunk − overlap)
    up to the last start < n_tokens, so every token lands in ≥1 chunk and
    the final chunk may be short.  Empty documents produce no chunks.

    Scale shape: ``sequence`` + ``posexplode`` + ``slice`` — one codegen
    stage, no shuffle, output partitioning inherits the scan.  Fan-out is
    n_tokens/stride per doc, bounded and linear.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.when(
        n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    base = docs.select("doc_id", toks.alias("toks"), starts.alias("starts"))
    ex = base.select(
        "doc_id", "toks", F.posexplode("starts").alias("chunk_idx", "start")
    )
    return ex.select(
        "doc_id",
        "chunk_idx",
        F.least(F.lit(chunk_tokens), F.size("toks") - F.col("start")).alias(
            "n_chunk_tokens"
        ),
        F.array_join(
            F.slice("toks", F.col("start") + 1, F.lit(chunk_tokens)), " "
        ).alias("chunk_text"),
    )


def source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    k: int = 3,
) -> DataFrame:
    """Cross-source n-gram overlap matrix: for every source pair, how
    many distinct token-``k``-gram digests appear in BOTH — the
    contamination/provenance audit a corpus curator runs before mixing
    sources (is Common-Crawl-2023 largely a re-crawl of 2022?  is this
    'books' source actually web text?).

    Output: (source_a, source_b, shared_grams), a < b, one row per pair
    with at least one shared gram.

    Scale shape: the gram explode is O(corpus tokens) — the same cost
    :func:`decontaminate` already pays; then ONE shuffle, a groupBy on
    the 60-bit gram digest whose partially-aggregated
    ``collect_set(source)`` is bounded by |sources| (corpora have tens
    of sources, not millions).  Pair expansion is a pure array
    expression over each gram's source set (NO digest self-join — a
    gram appearing 10^6 times inside one source contributes a
    1-element set, where the naive self-join would explode 10^12
    comparisons).  The final pair aggregation is |sources|²-bounded.
    The DuckDB oracle deliberately uses the self-join shape — an
    independent implementation, not an echo.
    """
    from .functions import md5_60bit
    from .textops import shingles

    per_gram = (
        docs.select(
            F.col(source_col).alias("src"),
            F.explode(shingles(F.col(text_col), k=k)).alias("gram"),
        )
        .select("src", md5_60bit(F.col("gram")).alias("h"))
        .groupBy("h")
        .agg(F.array_sort(F.collect_set("src")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    pairs = per_gram.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (x, i) -> "
                "transform(slice(srcs, i + 2, size(srcs) - i - 1), "
                "y -> struct(x AS source_a, y AS source_b))))"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared_grams"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Anti-join dedup against an existing corpus
# ---------------------------------------------------------------------------


def dedup_against_corpus(
    fresh: DataFrame, corpus_hashes: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Keep only fresh documents whose exact content hash does not appear
    in an existing corpus — the incremental-crawl dedup step (the corpus
    side ships as hashes, never text).

    ``corpus_hashes`` must expose a single ``h`` column of md5 hex
    digests.  Scale shape: LEFT ANTI hash join on a 16-byte key; Spark
    plants a bloom-filter/DPP-style runtime filter on the fresh side when
    beneficial, and AQE picks broadcast automatically if the corpus digest
    set fits.  At 10^10×10^10 this is the canonical sort-merge anti join —
    no text bytes cross the wire.
    """
    return (
        fresh.withColumn("__h", F.md5(F.col(text_col)))
        .join(corpus_hashes, F.col("__h") == F.col("h"), "left_anti")
        .drop("__h")
    )


# ---------------------------------------------------------------------------
# Corpus statistics + deterministic stratified sampling
# ---------------------------------------------------------------------------


def length_stats(docs: DataFrame, group_col: str = "lang") -> DataFrame:
    """Per-group document-length distribution: count, mean, exact median
    and p95 of ``n_chars`` — the corpus health check run before/after
    every filtering stage.

    Exact percentiles (``percentile``, continuous interpolation — the
    same formula as DuckDB's ``quantile_cont``) require a per-group sort;
    honest cost note: at 10^10 docs the scale path swaps in
    ``percentile_approx`` (one-pass sketch, no sort) — same query shape,
    documented accuracy trade.  Group count is small (languages), so the
    shuffle is one partial-aggregated exchange either way.
    """
    return docs.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("mean_chars"),
        F.percentile("n_chars", F.lit(0.5)).alias("median_chars"),
        F.percentile("n_chars", F.lit(0.95)).alias("p95_chars"),
    )


def length_stats_approx(
    docs: DataFrame, group_col: str = "lang", *, accuracy: int = 10_000
) -> DataFrame:
    """The 10^10-doc twin of :func:`length_stats`: one-pass
    ``percentile_approx`` sketches (Greenwald-Khanna) instead of exact
    interpolated percentiles — no per-group sort, bounded state per
    group, rank error ≤ 1/``accuracy``.  Returns ELEMENTS of the data
    (discrete percentiles), so the exact-oracle twin is
    ``quantile_disc``, not ``quantile_cont``; when group cardinality is
    below ``accuracy`` the sketch is exact and the oracle match is
    bit-for-bit."""
    return docs.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.percentile_approx("n_chars", F.lit(0.5), F.lit(accuracy)).alias(
            "median_chars"
        ),
        F.percentile_approx("n_chars", F.lit(0.95), F.lit(accuracy)).alias(
            "p95_chars"
        ),
    )


def stratified_sample(
    docs: DataFrame,
    pct: int = 10,
    *,
    key_col: str = "doc_id",
    modulus: int = 100,
) -> DataFrame:
    """Deterministic hash sampling: keep rows whose md5-derived bucket of
    ``key_col`` falls below ``pct`` (of ``modulus``).  Unlike
    ``DataFrame.sample`` this is reproducible across engines, runs, and
    partitionings — the property a training pipeline needs so a re-run
    selects the SAME sample — and it composes with any pushed-down
    filter (pure column expression, no shuffle, no RNG state)."""
    bucket = md5_60bit(F.col(key_col)) % modulus
    return docs.filter(bucket < pct)


def frequent_ngrams(
    docs: DataFrame,
    *,
    k: int = 3,
    min_docs: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level frequent word ``k``-grams: phrases appearing in at
    least ``min_docs`` DISTINCT documents — the boilerplate/template
    detector (nav menus, license headers, scraped-site chrome) run
    before dedup, and the n-gram side of corpus-overlap audits.

    One explode → one groupBy with partial aggregation; the distinct-doc
    count is a two-phase aggregate (per-(gram, doc) partial first), so a
    gram repeated 10^6× inside one document contributes one shuffle row,
    not 10^6.  Output cardinality is bounded by the distinct-gram count
    — and the ``min_docs`` filter cuts it to the (tiny) frequent tail."""
    from .textops import shingles

    ex = docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), k=k)).alias("gram")
    )
    return (
        ex.groupBy("gram")
        .agg(
            F.count_distinct(F.col(id_col)).alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def weighted_sample(
    docs: DataFrame,
    weight_col: Column | str,
    *,
    key_col: str = "doc_id",
    modulus: int = 1_000_000,
) -> DataFrame:
    """Deterministic importance sampling: keep each row with probability
    ``weight`` (a per-row column in [0, 1] — a quality score, a language
    up/down-weight, a source mixture weight), decided by comparing the
    row key's md5-derived uniform to the weight.  The data-mixing
    primitive behind 'sample low-quality docs at 10%, keep high-quality
    at 100%'.

    Like :func:`stratified_sample` this is reproducible across engines,
    runs, and partitionings (no RNG state), composes with pushed-down
    filters (pure column expression, no shuffle), and — because the
    uniform depends only on the KEY — re-sampling after a weight change
    keeps the maximal overlap with the previous sample (the property
    that makes incremental corpus rebuilds cheap: rows whose weight
    rose are added, rows whose weight fell are dropped, nothing else
    moves)."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (md5_60bit(F.col(key_col)) % modulus) / F.lit(float(modulus))
    return docs.filter(u < w)


def quality_logit(
    docs: DataFrame,
    *,
    text_col: str = "text",
    round_to: int = 6,
    keep_threshold: float = 0.0,
) -> DataFrame:
    """Linear quality score over the standard feature set — the shape of
    a fastText/logistic quality classifier with FIXED, documented
    weights (no training data in the sandbox; swap the constants for
    learned ones).  Emits the raw logit (monotone in P(keep); the
    sigmoid is deliberately not applied so both engines compare exact
    polynomials, no transcendental parity risk) and the keep decision
    at ``keep_threshold``.

    Feature weights: reward stopword density and moderate length,
    penalize punctuation soup and extreme chars-per-token — the Gopher
    /C4-style heuristics folded into one score.  Pure column
    expressions; one scan, no shuffle, no UDF."""
    from .textops import quality_features

    feats = quality_features(docs, text_col=text_col)
    logit = F.round(quality_logit_expr(), round_to)
    return feats.select(
        "doc_id",
        logit.alias("quality_logit"),
        (logit > keep_threshold).alias("keep"),
    )


def quality_logit_expr() -> Column:
    """The quality-classifier polynomial over :func:`textops.quality_features`
    columns, unrounded — shared by :func:`quality_logit` and the composed
    curation pipeline (:mod:`tap_postgres_spark.curation`), which filters
    on it without projecting the document row away."""
    return (
        F.lit(-1.0)
        + 4.0 * F.col("q_stopword_ratio")
        - 6.0 * F.col("q_punct_ratio")
        + 0.4 * F.log(F.greatest(F.col("q_tokens"), F.lit(1)).cast("double"))
        - 0.2 * F.abs(F.col("q_chars_per_token") - 5.0)
    )


def mixture_weights(
    docs: DataFrame,
    *,
    group_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """Corpus mixture table: per (lang, source) document counts, token
    sums, and fraction of total tokens — the statistics a data-mixing
    scheduler needs to set per-group sampling weights (and the report
    auditors read).  One map-side-combined aggregate over the corpus;
    the total re-joins as a 1-row broadcast, so output cardinality is
    |groups|, independent of corpus size."""
    per = docs.groupBy(*group_cols).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(F.col(text_col)))).alias("n_tokens"),
    )
    total = per.agg(F.sum("n_tokens").alias("_tot"))
    # token share in parts-per-million as a BIGINT: both operands are
    # exact integers, so the quotient double is identical everywhere and
    # no free-form double rendering reaches the output
    return (
        per.join(F.broadcast(total))
        .select(
            *group_cols, "n_docs", "n_tokens",
            F.round(F.col("n_tokens") / F.col("_tot") * 1_000_000)
            .cast("long")
            .alias("token_frac_ppm"),
        )
    )


def build_training_mix(
    docs: DataFrame,
    targets: dict[str, float],
    *,
    group_col: str = "lang",
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """One-pass data mixer: downsample each group toward a target token
    fraction.  Group ``g``'s keep-probability is
    ``min(1, target_frac_g / current_frac_g)`` — the standard
    downsampling mixer (a one-pass mixer can only REMOVE; upsampling is
    repetition, i.e. the shard builder's job).  Groups absent from
    ``targets`` are dropped (target 0).

    Composition of the pieces this module already ships: one
    map-side-combined stats aggregate (|groups| rows, collected to the
    driver and inlined as literals — the broadcast-by-value pattern),
    then :func:`weighted_sample`'s key-hash uniform, so the mix is
    reproducible across runs/partitionings and monotone under target
    changes (retargeting moves only the rows whose group weight
    changed)."""
    stats = docs.groupBy(group_col).agg(
        F.sum(F.size(tokens(F.col(text_col)))).alias("_nt")
    ).collect()
    total = sum(r["_nt"] for r in stats)
    weights = {}
    for r in stats:
        frac = r["_nt"] / total if total else 0.0
        tgt = float(targets.get(r[group_col], 0.0))
        weights[r[group_col]] = min(1.0, tgt / frac) if frac > 0 else 0.0
    w = None
    for g, wt in sorted(weights.items()):
        cond = F.when(F.col(group_col) == g, F.lit(wt))
        w = cond if w is None else w.when(F.col(group_col) == g, F.lit(wt))
    w = (w.otherwise(F.lit(0.0)) if w is not None else F.lit(0.0)).alias("_w")
    return weighted_sample(docs.select("*", w), "_w", key_col=key_col).drop("_w")


def cap_per_source(
    docs: DataFrame,
    cap: int = 100,
    *,
    source_col: str = "source",
    key_col: str = "doc_id",
    n_salt: int = 16,
) -> DataFrame:
    """Keep at most ``cap`` documents per source/domain, chosen
    deterministically by md5-hash rank of ``key_col`` (ties → lowest
    key) — the standard web-pipeline guard against a single crawled
    domain dominating the training mix, reproducible across runs and
    partitionings like :func:`stratified_sample`.

    Scale shape: a naive ``row_number() OVER (PARTITION BY source)``
    funnels a hot domain's 10^9 rows through one task.  Here rank runs
    in two stages — a local rank over ``(source, salt)`` keeps at most
    ``cap`` rows per salt, then the global rank sees ≤ cap × n_salt
    rows per source.  Both stages are hash-partition shuffles; the
    second is bounded regardless of input skew.  The salted pre-rank
    cannot drop a global keeper: a row in the global top-``cap`` of its
    source is in the top-``cap`` of its own salt a fortiori.
    """
    h = md5_60bit(F.col(key_col)).alias("_h")
    salted = docs.select("*", h, (md5_60bit(F.col(key_col)) % n_salt).alias("_salt"))
    local = Window.partitionBy(source_col, "_salt").orderBy(
        F.col("_h").asc(), F.col(key_col).asc()
    )
    pre = (
        salted.withColumn("_lrn", F.row_number().over(local))
        .filter(F.col("_lrn") <= cap)
        .drop("_lrn", "_salt")
    )
    w = Window.partitionBy(source_col).orderBy(
        F.col("_h").asc(), F.col(key_col).asc()
    )
    return (
        pre.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn", "_h")
    )


# ---------------------------------------------------------------------------
# Embedding centroids per label
# ---------------------------------------------------------------------------


def label_centroids(emb: DataFrame, dim: int = 64) -> DataFrame:
    """Per-label mean embedding, one output row per (label, dim) — the
    class-prototype fold semantic-dedup and drift monitoring run over a
    labelled corpus.

    Scale shape: ``posexplode`` fans each vector into (label, dim, value)
    and ONE groupBy with map-side combine folds it; output cardinality is
    labels × dim, independent of corpus size.  (Row-form output instead of
    re-assembled arrays keeps the fold a plain sum — no array aggregation
    state — and gives the SQL oracle an exact twin.)
    """
    ex = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    return (
        ex.filter(F.col("dim") < dim)
        .groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 6).alias("centroid"))
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination + token entropy
# ---------------------------------------------------------------------------


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    shingle_k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-data decontamination against an eval benchmark: corpus
    docs sharing at least one ``shingle_k``-token shingle with any
    benchmark document, with the distinct-overlap count — the standard
    n-gram-collision rule (GPT-3 appendix C / PaLM-style 8-gram overlap).

    Scale shape: both sides reduce shingles to 60-bit digests (never
    shuffle shingle STRINGS); the benchmark side is an eval suite — MBs,
    not TBs — so it broadcasts and the corpus never shuffles at all:
    digest → broadcast-hash semi-join → per-doc count, one pass over the
    corpus shingle stream.
    """
    from .textops import _exploded_shingles

    corpus = (
        _exploded_shingles(docs, text_col, id_col, shingle_k)
        .select(id_col, md5_60bit(F.col("sh")).alias("_h"))
        .distinct()
    )
    bench = (
        _exploded_shingles(benchmark, text_col, id_col, shingle_k)
        .select(md5_60bit(F.col("sh")).alias("_h"))
        .distinct()
    )
    return (
        corpus.join(F.broadcast(bench), "_h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated_shingles"))
    )


def token_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unigram token entropy per document in nats (a perplexity proxy for
    quality filtering: near-zero = repetitive spam, high = diverse text).

    H = ln(n) − (Σ c·ln c)/n over per-term counts c — computed as one
    explode + two stacked aggregations keyed by a ``doc_id`` prefix, so
    partial aggregation absorbs the explode fan-out map-side.
    """
    terms = docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("t"))
    tf = terms.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    # entropy in micro-nats (parts-per-million BIGINT): the inputs are
    # integer counts, so the double intermediate is deterministic and the
    # ppm round keeps free-form doubles out of the certified output
    return tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.round(
            (F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"))
            * 1_000_000
        )
        .cast("long")
        .alias("entropy_ppm"),
    )


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int = 256,
    *,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_subgroups: int = 32,
) -> DataFrame:
    """Training-shard sequence packing, GPT-style: documents are
    concatenated in deterministic ``id`` order within each ``group_col``
    partition and split at ``budget_tokens`` boundaries — a document's
    shard is the boundary interval its FIRST token falls in (so shards
    are contiguous runs; a doc may straddle into the next boundary, the
    concat-then-split semantics of fixed-context pretraining).

    Scale shape — two-level parallel prefix sum (round-4 fix for the
    hot-group serial window): a dominant group (English ≈ half a web
    corpus) must not funnel through ONE window task.  Each group's
    id-ordered sequence is split into up to ``n_subgroups`` contiguous
    id ranges (approx-percentile boundaries; ANY monotone split yields
    identical output, so the approximation cannot affect results), the
    running sum is computed per (group, subrange) in parallel, and
    per-subrange totals — ≤ ``n_subgroups`` tiny rows per group — are
    prefix-summed into offsets added back to each subrange.  Token
    counts are integers, so the two-level sum is bit-identical to the
    single-window form (``n_subgroups=1`` keeps the old plan; equality
    is pinned in tests).  The windowed relation is localCheckpoint'ed
    so the offset aggregate reads materialized rows instead of
    re-running the tokenize+window pass.
    """
    n = F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens")
    d = docs.select(id_col, group_col, n)
    shard = lambda cum: (  # noqa: E731 — shared by both plan shapes
        F.floor((cum - F.col("n_tokens")) / F.lit(float(budget_tokens)))
        .cast("long")
        .alias("shard_seq")
    )
    if n_subgroups <= 1:
        w = (
            Window.partitionBy(group_col)
            .orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return d.select(
            id_col, group_col, "n_tokens", shard(F.sum("n_tokens").over(w))
        )
    fracs = [i / n_subgroups for i in range(1, n_subgroups)]
    bounds = d.groupBy(group_col).agg(
        F.percentile_approx(F.col(id_col), F.array(*[F.lit(x) for x in fracs]))
        .alias("_bs")
    )
    # null-safe join: a NULL group is a legitimate window partition in
    # the single-window form, so it must survive the two-level path too
    sub = (
        d.join(
            F.broadcast(bounds.withColumnRenamed(group_col, "_bg")),
            F.col(group_col).eqNullSafe(F.col("_bg")),
        )
        .withColumn(
            "_sub",
            F.size(F.filter(F.col("_bs"), lambda b: b < F.col(id_col))),
        )
        .drop("_bs", "_bg")
    )
    w_local = (
        Window.partitionBy(group_col, "_sub")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = sub.withColumn(
        "_cum_local", F.sum("n_tokens").over(w_local)
    ).localCheckpoint()
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("_sub")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        local.groupBy(group_col, "_sub")
        .agg(F.max("_cum_local").alias("_t"))  # last local cum = subrange total
        .withColumn("_off", F.coalesce(F.sum("_t").over(w_off), F.lit(0)))
        .select(
            F.col(group_col).alias("_og"), F.col("_sub").alias("_os"), "_off"
        )
    )
    return (
        local.join(
            F.broadcast(offsets),
            F.col(group_col).eqNullSafe(F.col("_og"))
            & (F.col("_sub") == F.col("_os")),
        )
        .select(
            id_col,
            group_col,
            "n_tokens",
            shard(F.col("_cum_local") + F.col("_off")),
        )
    )


def neardup_clusters(
    pairs: DataFrame,
    *,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
    small_graph_limit: int = 200_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: cluster id =
    min doc id reachable through the pair graph (the step after LSH pair
    generation that turns pairwise matches into dedup groups).

    Iterative min-label propagation: each round joins labels to the
    (undirected) edge list and folds ``min`` — O(graph diameter) rounds,
    each one shuffle-join + one map-side-combined aggregate, the classic
    scale-out CC shape (near-dup clusters are shallow: diameter is small
    because members all match the same content).  Driver-side work per
    round is ONE scalar (the convergence count); labels/edges never
    collect.  Converged when no label changes; raises if ``max_iter``
    rounds don't converge (pathological chain — raise the cap).  A pair
    with a NULL endpoint is no edge and is dropped.

    ``checkpoint_dir``: per-round lineage truncation defaults to
    ``localCheckpoint()`` (executor-local blocks — fastest, right for
    local mode and short jobs).  On a real cluster an executor lost
    mid-iteration takes its blocks — and every later round — with it;
    pass a (HDFS/object-store) directory to switch to RELIABLE
    ``checkpoint()``, which persists each round's labels so the
    iteration survives executor loss.
    """
    # cache the pair list FIRST: the undirected union scans it twice, and
    # without the cache each scan re-executes the upstream pair pipeline
    # (LSH banding etc.) — as does every propagation round without the
    # edge cache (measured 16.7s → ~3s at sf0.01)
    p = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .persist()
    )
    # Size-gated strategy switch (the broadcast-join rule applied to CC):
    # a pair list comfortably inside driver memory is solved with one
    # bounded collect + union-find — every iterative round otherwise
    # costs a shuffle join, a checkpoint and a driver action, ~1 s of
    # fixed overhead per round for a graph that fits in one task.  The
    # result is identical by construction: union-find with the minimum
    # id as the root IS min-label propagation run to convergence.  At
    # 10^10-doc scale the pair list exceeds the cap and the iterative
    # O(diameter)-round path below runs unchanged (cap = 200k edges ×
    # ~16 bytes ≈ 3 MB collected — the same order as a broadcast side).
    n_pairs = p.count()
    if n_pairs <= small_graph_limit:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in p.collect():
            a, b = row["a"], row["b"]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                # keep the MIN id as the root → root == component min
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        out_rows = [(i, find(i)) for i in parent]
        # ids come from both endpoints: their type is the a/b union's,
        # as in the distributed path below
        id_field = p.select("a").union(p.select("b")).schema["a"]
        out_schema = T.StructType(
            [
                T.StructField("id", id_field.dataType, id_field.nullable),
                T.StructField("cluster_id", id_field.dataType, id_field.nullable),
            ]
        )
        spark = pairs.sparkSession
        p.unpersist()
        return spark.createDataFrame(out_rows, out_schema)
    edges = (
        p.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(p.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .persist()
    )
    # per-round checkpoint TRUNCATES the logical plan: without it the
    # round-N plan nests all N-1 predecessors and Catalyst analysis time
    # grows superlinearly (the classic iterative-algorithm lineage
    # explosion — a 12-round chain graph ran >10 min unconverged).
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        _ckpt = lambda df: df.checkpoint()  # noqa: E731 — reliable, survives executor loss
    else:
        _ckpt = lambda df: df.localCheckpoint()  # noqa: E731
    labels = _ckpt(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster_id"))
    )  # materializes the edge cache as a side effect
    p.unpersist()
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_cluster = F.least(
            F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
        )
        # the changed flag rides the same checkpointed pass, so the
        # convergence probe is an aggregate over cached rows, not a
        # second join
        new_labels = _ckpt(
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                new_cluster.alias("new_cid"),
                (new_cluster != F.col("cluster_id")).cast("int").alias("_chg"),
            )
            .withColumnRenamed("new_cid", "cluster_id")
        )
        changed = new_labels.agg(F.sum("_chg")).first()[0]
        labels = new_labels.drop("_chg")
        if not changed:
            edges.unpersist()
            return labels
    raise RuntimeError(f"neardup_clusters: no convergence in {max_iter} rounds")
