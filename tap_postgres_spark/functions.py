"""Scalar function layer (SURVEY.md §2.9 F1-F9).

Everything here is a Column expression or an Arrow-vectorized pandas UDF —
no row-at-a-time Python, per BASELINE input_hint.  Reference citations are
into /root/reference/tap_postgres/.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# F3 — wal2json enum-quote repair.
# wal2json emits invalid JSON for enum-typed columns: {"type":""MyEnum""}.
# The reference repairs it with a regex then re-parses
# (_wal_helpers.py:17-19,92-99; tests/test_consume.py:149-162).  The
# pattern tolerates optional whitespace after the colon (wal2json output
# is compact; pretty-printed test fixtures are not).  The type name must be
# non-empty ([^"]+, matching the reference's regex): a legitimate empty-
# string value `"type":""` followed by another `""` elsewhere in the
# payload must not be rewritten.
_ENUM_QUOTE_PATTERN = r'("type":\s*)""([^"]+)""'


def repair_enum_quotes(payload: Column) -> Column:
    """Fix wal2json's doubled-quote enum bug.

    The regex is ~6× the cost of the JSON parse itself, so it only runs
    on payloads that can possibly need it: any occurrence of `""` (a
    superset: legitimate empty-string values also match, and merely pay
    the regex).  This conditional replaces the reference's parse-then-
    retry loop with a branch that whole-stage codegen executes per row.
    """
    return F.when(
        payload.contains('""'),
        F.regexp_replace(payload, _ENUM_QUOTE_PATTERN, r'$1"$2"'),
    ).otherwise(payload)


# ---------------------------------------------------------------------------
# F2 — LSN text ↔ int.  Postgres renders an LSN as 'HI/LO' (hex); the
# integer form is (HI << 32) + LO (reference _wal_helpers.py:135-138).
def lsn_str_to_long(lsn: Column) -> Column:
    hi = F.conv(F.split_part(lsn, F.lit("/"), F.lit(1)), 16, 10).cast("long")
    lo = F.conv(F.split_part(lsn, F.lit("/"), F.lit(2)), 16, 10).cast("long")
    return (F.shiftleft(hi, 32) + lo).alias("lsn")


def lsn_long_to_str(lsn: Column) -> Column:
    hi = F.upper(F.conv(F.shiftrightunsigned(lsn, 32), 10, 16))
    lo = F.upper(F.conv(lsn.bitwiseAND(F.lit(0xFFFFFFFF)), 10, 16))
    return F.concat(hi, F.lit("/"), lo)


# ---------------------------------------------------------------------------
# F5 — Postgres array-literal parse: '{a,b,"c d","He said ""hi"""}' → list.
# The reference pre-parses text[] values with psycopg2's STRINGARRAY caster
# while the replication cursor is alive (_wal_helpers.py:102-113,
# client.py:608-619; embedded-quote case tests/test_log_based.py:66-112).
# Here it is an Arrow-batched pandas UDF implementing the PG array-literal
# grammar (vectorized over the batch, no per-row Spark round trips).
def _parse_pg_array_one(s: str | None) -> list[str | None] | None:
    if s is None:
        return None
    s = s.strip()
    if not (s.startswith("{") and s.endswith("}")):
        return None
    body = s[1:-1]
    if body == "":
        return []
    out: list[str | None] = []
    buf: list[str] = []
    i, n = 0, len(body)
    in_quotes = False
    was_quoted = False
    while i < n:
        c = body[i]
        if in_quotes:
            if c == "\\":
                i += 1
                if i < n:
                    buf.append(body[i])
            elif c == '"':
                if i + 1 < n and body[i + 1] == '"':  # doubled quote escape
                    buf.append('"')
                    i += 1
                else:
                    in_quotes = False
            else:
                buf.append(c)
        elif c == '"':
            in_quotes = True
            was_quoted = True
        elif c == ",":
            token = "".join(buf)
            out.append(None if (not was_quoted and token == "NULL") else token)
            buf = []
            was_quoted = False
        elif c == "\\":
            i += 1
            if i < n:
                buf.append(body[i])
        else:
            buf.append(c)
        i += 1
    token = "".join(buf)
    out.append(None if (not was_quoted and token == "NULL") else token)
    return out


@F.pandas_udf(T.ArrayType(T.StringType()))
def parse_pg_array(series: pd.Series) -> pd.Series:
    return series.map(_parse_pg_array_one)


# ---------------------------------------------------------------------------
# hstore literal parse: '"foo"=>"bar", "baz"=>NULL' → map<string,string>.
# The reference gets this from psycopg2's hstore adapter (client.py:118-124
# maps hstore → object); wal2json renders the literal text.
def _parse_hstore_one(s: str | None) -> dict[str, str | None] | None:
    if s is None:
        return None
    out: dict[str, str | None] = {}
    i, n = 0, len(s)

    def read_quoted(j: int) -> tuple[str, int]:
        buf: list[str] = []
        while j < n:
            c = s[j]
            if c == "\\":
                j += 1
                if j < n:
                    buf.append(s[j])
            elif c == '"':
                return "".join(buf), j + 1
            else:
                buf.append(c)
            j += 1
        return "".join(buf), j

    while i < n:
        while i < n and s[i] in " ,\t":
            i += 1
        if i >= n:
            break
        if s[i] != '"':
            return None  # malformed
        key, i = read_quoted(i + 1)
        while i < n and s[i] in " =>":
            i += 1
        if i < n and s[i] == '"':
            val, i = read_quoted(i + 1)
            out[key] = val
        else:  # NULL value
            while i < n and s[i] not in ",":
                i += 1
            out[key] = None
    return out


@F.pandas_udf(T.MapType(T.StringType(), T.StringType()))
def parse_hstore(series: pd.Series) -> pd.Series:
    return series.map(_parse_hstore_one)


# ---------------------------------------------------------------------------
# bytea: wal2json renders bytea as a PG hex literal '\x48656c6c6f'.
def parse_bytea_hex(value: Column) -> Column:
    return F.unhex(F.regexp_replace(value, r"^\\x", ""))


# ---------------------------------------------------------------------------
# F1 — deleted-at timestamp: UTC ISO-8601 `%Y-%m-%dT%H:%M:%SZ`
# (reference client.py:52-54, asserted tests/test_consume.py:95-109).
# Per-batch constant, not a per-row clock — every delete in a micro-batch
# gets the batch's timestamp, which is the vectorized analog of the
# reference stamping each delete as it streams past.
SDC_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def sdc_deleted_at_literal(batch_time) -> Column:
    """``batch_time``: datetime (UTC).  Returns a string literal column."""
    return F.lit(batch_time.strftime("%Y-%m-%dT%H:%M:%SZ"))


# ---------------------------------------------------------------------------
# F8 — per-row content hash for the sha256 final-state invariant
# (BASELINE.json per-row invariant).
def content_sha256(col: Column) -> Column:
    return F.sha2(col.cast("string"), 256)


# ---------------------------------------------------------------------------
# F9 — Singer-style temporal string forms (reference tests/test_core.py:196-206):
# date → 'yyyy-MM-dd'; timestamp → ISO with microseconds and +00:00 offset;
# time is already carried as a string type.
def singer_date_string(col: Column) -> Column:
    return F.date_format(col, "yyyy-MM-dd")


def singer_timestamp_string(col: Column) -> Column:
    return F.concat(F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), F.lit("+00:00"))


# ---------------------------------------------------------------------------
# Shared doc/shingle hashing used by textops/vectorops AND their DuckDB
# oracles: lower 60 bits of md5 as a non-negative bigint.  Chosen because
# both engines can compute it exactly:
#   Spark:  conv(substring(md5(x), 1, 15), 16, 10)::long
#   DuckDB: ('0x' || substr(md5(x), 1, 15))::bigint
def md5_60bit(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")
