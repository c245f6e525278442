"""Vectorized wal2json decode: raw WAL payloads → typed change DataFrames.

This module is the columnar re-creation of the reference's per-message
pipeline (all citations /root/reference/tap_postgres/):

- ``parse_wal_message`` — JSON parse with enum-quote repair retry
  (_wal_helpers.py:67-99)
- ``consume`` — action dispatch I/U/D/T/B/C, row construction with
  ``_sdc_lsn`` / ``_sdc_deleted_at`` (client.py:547-594)
- ``_parse_column_value`` — NULL passthrough, numeric ""→NULL, text[]
  literal parse (client.py:596-624)

The reference does all of this one dict at a time in a single Python
thread (wal_reader.py:194-257).  Here each micro-batch is ONE DataFrame
pass, entirely in Column expressions (whole-stage codegen) except the
PG-array-literal pandas UDF.

Performance shape (measured, 2M events / local[32]):
- the envelope is parsed with a LEAN schema — only ``(name, value)`` per
  column entry; the ``type`` field is parsed lazily and only by the
  (rare) schema-evolution discovery pass;
- the parsed struct stays PACKED in one ``_env`` column end-to-end;
  expanding nested entry arrays into top-level columns costs ~3× (struct
  copy per field), so routing/status/decode all reach into ``_env.*``
  inside single projections instead.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import (
    parse_bytea_hex,
    parse_hstore,
    parse_pg_array,
    repair_enum_quotes,
    sdc_deleted_at_literal,
)
from .plancache import memo
from .schema import (
    SDC_DELETED_AT,
    SDC_LSN,
    SDC_MASK,
    StreamDef,
    is_numeric_pg_type,
)

# Lean hot-path envelope: wal2json format-version=2, value-only entries.
# StringType absorbs any JSON primitive (Spark's JSON parser renders
# non-string scalars to their literal text), matching wal2json's mixed
# string/number/bool values.
_LEAN_ENTRY = T.ArrayType(
    T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("value", T.StringType()),
        ]
    )
)

LEAN_SCHEMA = T.StructType(
    [
        T.StructField("action", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("columns", _LEAN_ENTRY),
        T.StructField("identity", _LEAN_ENTRY),
    ]
)

# Full envelope incl. the per-column ``type`` names — used only by the
# schema-evolution discovery pass (reference _wal_helpers.py:67-89).
_FULL_ENTRY = T.ArrayType(
    T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("value", T.StringType()),
        ]
    )
)

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("action", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("columns", _FULL_ENTRY),
        T.StructField("identity", _FULL_ENTRY),
    ]
)

# Event-status taxonomy → metrics counters (reference wal_reader.py:116-122:
# records_emitted / records_filtered_by_lsn / records_unroutable /
# records_malformed; txn/truncate drops client.py:572-586).
STATUS_OK = "ok"
STATUS_MALFORMED = "malformed"
STATUS_TXN_MARKER = "txn_marker"  # B / C — dropped (client.py:578-586)
STATUS_TRUNCATE = "truncate"  # T — dropped  (client.py:572-576)
STATUS_UNKNOWN_ACTION = "unknown_action"  # logged + dropped (client.py:588-594)
STATUS_UNROUTABLE = "unroutable"  # no registered stream (wal_reader.py:276-288)
STATUS_BELOW_BOOKMARK = "below_bookmark"  # lsn < stream bookmark (wal_reader.py:290-297)

DATA_ACTIONS = ("I", "U", "D")


def parse_raw_payloads(raw: DataFrame) -> DataFrame:
    """(lsn, txid, payload:string) → (lsn, txid, payload, _env:struct).

    Applies the enum-quote repair *before* the JSON parse — the repaired
    form either parses or the row is marked malformed; this collapses the
    reference's parse-retry loop (_wal_helpers.py:78-88) into one
    deterministic vectorized pass.  The raw payload is carried along for
    the lazy full-schema evolution re-parse.
    """
    env = memo(
        ("parse_raw_env",),
        lambda: F.from_json(
            repair_enum_quotes(F.col("payload")), LEAN_SCHEMA
        ).alias("_env"),
    )
    return raw.select("lsn", "txid", "payload", env)


def classify(envelope: DataFrame, registered_fqns: list[str]) -> DataFrame:
    """Append ``_fqn`` and ``_status`` columns driving routing + metrics.

    One expression, no shuffle.  FQN normalization is the raw
    ``schema.table`` concatenation (reference _wal_helpers.py:22-36).
    ``from_json`` yields a null struct (or null action) on unparseable
    input → malformed (tests/test_wal_reader.py:565-580 analog).
    """
    def build() -> dict[str, Column]:
        action = F.col("_env.action")
        fqn = F.concat_ws(".", F.col("_env.schema"), F.col("_env.table"))
        malformed = F.col("_env").isNull() | action.isNull()
        status = (
            F.when(malformed, F.lit(STATUS_MALFORMED))
            .when(action.isin("B", "C"), F.lit(STATUS_TXN_MARKER))
            .when(action == "T", F.lit(STATUS_TRUNCATE))
            .when(~action.isin(*DATA_ACTIONS), F.lit(STATUS_UNKNOWN_ACTION))
            .when(~fqn.isin(registered_fqns), F.lit(STATUS_UNROUTABLE))
            .otherwise(F.lit(STATUS_OK))
        )
        return {"_fqn": fqn, "_status": status}

    return envelope.withColumns(memo(("classify", tuple(registered_fqns)), build))


def discover_columns(classified: DataFrame, fqn: str) -> list[tuple[str, str]]:
    """Distinct (column name, wal2json type) pairs appearing in this
    stream's routable events — the schema-evolution discovery pass.
    Re-parses the raw payload with the FULL envelope schema (the hot path
    deliberately skips the ``type`` field)."""
    rows = (
        classified.filter((F.col("_status") == STATUS_OK) & (F.col("_fqn") == fqn))
        .select(
            F.explode(
                F.from_json(
                    repair_enum_quotes(F.col("payload")), ENVELOPE_SCHEMA
                )["columns"]
            ).alias("c")
        )
        .select(F.col("c.name").alias("name"), F.col("c.type").alias("type"))
        .distinct()
        .collect()
    )
    return [(r["name"], r["type"]) for r in rows]


_NARROW_INTEGRALS = (T.ByteType, T.ShortType, T.IntegerType)


def _overflow_probe(
    fields: list[T.StructField], vals: Column
) -> Column:
    """1 when some value in this event parses as a BIGINT but NOT as the
    column's narrower declared integral type — the value-level signal
    that a Postgres ``ALTER COLUMN ... TYPE`` widened the column and the
    decode schema hasn't caught up.  The width trigger can't fire for a
    retype (the event's column count is unchanged), and the hot-path
    envelope deliberately drops wal2json's ``type`` field, so the signal
    has to come from the values themselves.  A genuinely malformed
    numeric is NULL under BOTH casts and never fires; a false fire costs
    one discovery pass that finds nothing.  Streams with no narrow
    integral columns (e.g. the all-string flagship table) compile to
    ``lit(0)`` — zero cost.  float→real widenings have no NULL-overflow
    signal (casts saturate, never NULL) and are picked up by the same
    discovery pass whenever any trigger fires."""
    probe = None
    for f in fields:
        if f.name in (SDC_LSN, SDC_DELETED_AT):
            continue
        if not isinstance(f.dataType, _NARROW_INTEGRALS):
            continue
        raw = vals.getItem(f.name)
        one = raw.cast(f.dataType).isNull() & raw.cast("long").isNotNull()
        probe = one if probe is None else (probe | one)
    if probe is None:
        return F.lit(0)
    return F.when(probe, F.lit(1)).otherwise(F.lit(0))


def _field_expr(field: T.StructField, pg_type: str, vals: Column) -> Column:
    """Typed decode expression for one column from the (name → value)
    event map: per-value coercions from the reference's
    ``_parse_column_value`` (client.py:596-624)."""
    raw_val = vals.getItem(field.name)
    # numeric ""→NULL (client.py:621-623)
    if is_numeric_pg_type(pg_type):
        raw_val = F.when(raw_val == "", F.lit(None)).otherwise(raw_val)
    if isinstance(field.dataType, T.ArrayType):
        # PG array literal '{a,b,"c d"}' → array (client.py:608-619)
        col = parse_pg_array(raw_val)
        if not isinstance(field.dataType.elementType, T.StringType):
            col = col.cast(field.dataType)
    elif isinstance(field.dataType, T.MapType):
        if pg_type in ("json", "jsonb"):
            # json_as_object mode (client.py:91-102): JSON text → map
            col = F.from_json(raw_val, field.dataType)
        else:
            # hstore literal '"k"=>"v"' (client.py:118-124)
            col = parse_hstore(raw_val)
    elif isinstance(field.dataType, T.StructType):
        # declared-shape JSON column (json_as_object with a concrete
        # schema — the flatten()-ready form): parse, don't cast
        col = F.from_json(raw_val, field.dataType)
    elif isinstance(field.dataType, T.BinaryType):
        # bytea hex literal '\x<hex>'
        col = parse_bytea_hex(raw_val)
    else:
        col = raw_val.cast(field.dataType)
    return col


def _coercion_tag(field: T.StructField, pg_type: str) -> tuple:
    """Identity of the decode expression :func:`_field_expr` builds —
    two streams may share a fused decode column iff their tags match."""
    return (
        field.dataType.json(),
        bool(is_numeric_pg_type(pg_type)),
        pg_type in ("json", "jsonb")
        if isinstance(field.dataType, T.MapType)
        else None,
    )


def decode_projection_multi(
    classified: DataFrame,
    streams: list,
    pg_types_by_fqn: dict[str, dict[str, str]],
    *,
    batch_time: datetime | None = None,
):
    """ONE decode projection covering every registered stream — the
    fused-decode half of the grouped multi-stream merge
    (lake/grouped.py).

    The per-stream :func:`decode_projection` applied N times makes N
    full passes over the parsed batch (each branch re-reads the cached
    envelope just to decode its own slice); this builds a single
    projection over the UNION of the streams' column sets instead.  A
    wal2json event only carries its own table's columns, so
    ``map.getItem(name)`` is naturally NULL for every foreign column —
    no per-stream masking needed.  Emits ``__gidx`` (the stream's index
    in ``streams``) for routing/partitioning downstream.

    Returns ``(projected, union_fields)`` or ``None`` when two streams
    carry the same column name with different types/coercions (the
    fused expression would be ambiguous) — callers fall back to
    per-stream decodes.
    """
    batch_time = batch_time or datetime.now(timezone.utc)

    def build():
        is_delete = F.col("_env.action") == "D"
        vals = F.when(
            is_delete, F.map_from_entries(F.col("_env.identity"))
        ).otherwise(F.map_from_entries(F.col("_env.columns")))

        union_fields: list[T.StructField] = []
        tags: dict[str, tuple] = {}
        pg_for: dict[str, str] = {}
        for s in streams:
            pg_types = pg_types_by_fqn.get(s.fqn, {})
            for field in s.spark_schema.fields:
                if field.name in (SDC_LSN, SDC_DELETED_AT):
                    continue
                pg_type = pg_types.get(field.name, "text")
                tag = _coercion_tag(field, pg_type)
                seen = tags.get(field.name)
                if seen is None:
                    tags[field.name] = tag
                    pg_for[field.name] = pg_type
                    union_fields.append(field)
                elif seen != tag:
                    return None  # conflicting decode for one name

        head: list[Column] = [
            _field_expr(f, pg_for[f.name], vals).alias(f.name)
            for f in union_fields
        ]
        head.append(F.col("lsn").alias(SDC_LSN))
        tail = [
            F.col("_env.action").alias("_action"),
            F.col("txid"),
            F.col("_status").alias("__status"),
            F.col("_fqn").alias("__fqn"),
            F.size(F.col("_env.columns")).alias("__ncols"),
            _overflow_probe(union_fields, vals).alias("__overflow"),
        ]
        gidx = F.lit(None).cast("int")
        for i in reversed(range(len(streams))):
            gidx = F.when(F.col("_fqn") == streams[i].fqn, F.lit(i)).otherwise(
                gidx
            )
        tail.append(gidx.alias("__gidx"))
        return head, is_delete, tail, union_fields

    # batch_time varies per batch: only the _sdc_deleted_at literal is
    # rebuilt per call; the fused projection is memoized (plancache.py)
    built = memo(
        (
            "decode_projection_multi",
            tuple(s.fqn for s in streams),
            tuple(s.spark_schema.json() for s in streams),
            tuple(
                tuple(sorted(pg_types_by_fqn.get(s.fqn, {}).items()))
                for s in streams
            ),
        ),
        build,
    )
    if built is None:
        return None
    head, is_delete, tail, union_fields = built
    deleted_at = (
        F.when(is_delete, sdc_deleted_at_literal(batch_time))
        .otherwise(F.lit(None).cast("string"))
        .alias(SDC_DELETED_AT)
    )
    return classified.select(*head, deleted_at, *tail), union_fields


def data_columns(stream: StreamDef) -> list[str]:
    """The stream's data columns in schema order (``_sdc_*`` excluded) —
    the bit order of the :data:`~..schema.SDC_MASK` presence bitmask."""
    return [
        f.name
        for f in stream.spark_schema.fields
        if f.name not in (SDC_LSN, SDC_DELETED_AT)
    ]


def decode_projection(
    classified: DataFrame,
    stream: StreamDef,
    pg_types: dict[str, str],
    *,
    batch_time: datetime | None = None,
    with_mask: bool = False,
    key_updates: bool = False,
) -> DataFrame:
    """Project this stream's routable events into its typed CDC schema.

    Semantics (reference ``consume``, client.py:547-594, pinned by
    tests/test_consume.py):

    - I/U → row from ``columns`` (full image), ``_sdc_deleted_at`` NULL
    - D   → row from ``identity`` (key-only image), ``_sdc_deleted_at`` =
      batch timestamp; non-key columns NULL
    - events with lsn < the stream's bookmark floor are dropped
      (wal_reader.py:290-297) — the replay filter for the shared
      min-LSN reader start
    - per-value coercions from ``_parse_column_value`` (client.py:596-624)

    ``key_updates=True`` (beyond-reference; the reference ignores the
    ``identity`` field on U events entirely, client.py:556-562, so a
    primary-key-changing UPDATE leaves a stale ghost row under the OLD
    key in any keyed target): wal2json attaches ``identity`` = the OLD
    key values to a U exactly when the replica-identity columns changed
    (always, with old full row, under REPLICA IDENTITY FULL).  When the
    old and new key values differ, the event expands to TWO rows — a
    tombstone under the old key plus the upsert under the new key, the
    Debezium delete+create model — via a conditional explode whose array
    is 1-element for every normal event.

    Output columns: widened CDC schema + ``_action`` (I/U/D), ``txid``.
    Everything happens in ONE projection over the packed ``_env`` struct;
    the only Python is the pg-array pandas UDF, applied only to
    array-typed columns.
    """
    batch_time = batch_time or datetime.now(timezone.utc)

    if key_updates:
        key_cols = list(stream.key_properties)

        def build_imgs() -> Column:
            idm = F.map_from_entries(F.col("_env.identity"))
            colm = F.map_from_entries(F.col("_env.columns"))
            changed = None
            for k in key_cols:
                one = ~idm[k].eqNullSafe(colm[k])
                changed = one if changed is None else (changed | one)
            key_changed = (
                (F.col("_env.action") == "U")
                & F.col("_env.identity").isNotNull()
                & changed
            )
            return F.when(
                key_changed, F.array(F.lit("new"), F.lit("old"))
            ).otherwise(F.array(F.lit("new")))

        imgs = memo(
            ("decode_imgs", tuple(key_cols)),
            build_imgs,
        )
        classified = classified.withColumn("_img", F.explode(imgs))

    def build() -> tuple[list[Column], Column, list[Column]]:
        is_delete = F.col("_env.action") == "D"
        if key_updates:
            # the 'old' image of a key-change U is a tombstone under the
            # OLD key: values from identity, deleted_at set
            is_delete = is_delete | (F.col("_img") == "old")
        # lean entries are (name, value) structs → directly map-ready
        vals = F.when(
            is_delete, F.map_from_entries(F.col("_env.identity"))
        ).otherwise(F.map_from_entries(F.col("_env.columns")))

        head: list[Column] = []
        for field in stream.spark_schema.fields:
            if field.name in (SDC_LSN, SDC_DELETED_AT):
                continue
            pg_type = pg_types.get(field.name, "text")
            head.append(_field_expr(field, pg_type, vals).alias(field.name))
        head.append(F.col("lsn").alias(SDC_LSN))

        # ``_status``/``_fqn`` are lazy expressions over ``_env`` —
        # filtering on them as separate operators would re-run from_json
        # per operator.  Everything (outputs + routing predicates + the
        # evolution-trigger width) is computed in ONE projection;
        # observers and the routing filter then read the materialized
        # helper columns.
        tail = [
            F.col("_env.action").alias("_action"),
            F.col("txid"),
            F.col("_status").alias("__status"),
            F.col("_fqn").alias("__fqn"),
            F.size(F.col("_env.columns")).alias("__ncols"),
            _overflow_probe(
                list(stream.spark_schema.fields), vals
            ).alias("__overflow"),
        ]
        if with_mask:
            # presence bitmask over the RAW payload map (absent key ⇒ bit
            # unset; explicit JSON null ⇒ key present ⇒ bit set) — the
            # absent-vs-NULL distinction the typed projection erases.
            # wal2json omits unchanged TOASTed columns from U events
            # (REPLICA IDENTITY DEFAULT), so "absent" must not become a
            # NULL overwrite downstream (operators/partial.py).
            names = data_columns(stream)
            if len(names) > 62:
                raise ValueError(
                    "partial-update masks support at most 62 data columns; "
                    f"{stream.fqn} has {len(names)}"
                )
            mask = F.lit(0).cast("long")
            for i, name in enumerate(names):
                mask = mask + F.when(
                    F.map_contains_key(vals, name), F.lit(1 << i).cast("long")
                ).otherwise(F.lit(0).cast("long"))
            tail.append(mask.alias(SDC_MASK))
        return head, is_delete, tail

    # batch_time varies per batch: only the _sdc_deleted_at literal is
    # rebuilt per call; everything else is memoized (see plancache.py)
    head, is_delete, tail = memo(
        (
            "decode_projection",
            stream.spark_schema.json(),
            tuple(sorted(pg_types.items())),
            with_mask,
            key_updates,
        ),
        build,
    )
    deleted_at = (
        F.when(is_delete, sdc_deleted_at_literal(batch_time))
        .otherwise(F.lit(None).cast("string"))
        .alias(SDC_DELETED_AT)
    )
    return classified.select(*head, deleted_at, *tail)


def finish_decode(
    projected: DataFrame, stream: StreamDef, bookmark_lsn: int | None = None
) -> DataFrame:
    """Routing + bookmark-floor filter over a :func:`decode_projection`."""
    cond = (F.col("__status") == STATUS_OK) & (F.col("__fqn") == stream.fqn)
    if bookmark_lsn is not None:
        cond = cond & (F.col(SDC_LSN) >= F.lit(bookmark_lsn))
    return projected.filter(cond).drop(
        "__status", "__fqn", "__ncols", "__overflow"
    )


def decode_stream(
    classified: DataFrame,
    stream: StreamDef,
    pg_types: dict[str, str],
    *,
    bookmark_lsn: int | None = None,
    batch_time: datetime | None = None,
    with_mask: bool = False,
    key_updates: bool = False,
) -> DataFrame:
    """decode_projection + finish_decode (see decode_projection docs)."""
    return finish_decode(
        decode_projection(
            classified,
            stream,
            pg_types,
            batch_time=batch_time,
            with_mask=with_mask,
            key_updates=key_updates,
        ),
        stream,
        bookmark_lsn,
    )
