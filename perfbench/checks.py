"""Correctness gates.  Every check runs outside the timed sections.

- ``spark_certificates`` / ``duckdb_certificates``: the LWW-fold
  certificate of ``bench.py``, per table — a modular hash-sum plus row
  count of the live rows, computed by Spark from the lake tables and
  independently by DuckDB from the raw feed files.
- ``duckdb_point_states``: the live rows of given keys after the LWW
  fold of the feed's events up to given LSNs, the oracle of point
  reads.
- ``oracle_diff``: the value-multiset comparison of
  ``tools/verify_oracles.py`` (its own ``rowset``: floats to 9
  significant digits, order insensitive), plus a column-type comparison
  that reports oracle type differences without counting them as
  failures.
"""

from __future__ import annotations

_MOD = 1_000_003

# one row per feed event of ``{src}``: the fields the certificates use
_EVENTS_SQL = """
  SELECT lsn,
         json_extract_string(payload, '$.action') AS action,
         json_extract_string(payload, '$.table') AS tbl,
         coalesce(json_extract_string(payload, '$.columns[0].value'),
                  json_extract_string(payload, '$.identity[0].value')) AS repo,
         coalesce(json_extract_string(payload, '$.columns[1].value'),
                  json_extract_string(payload, '$.identity[1].value')) AS path,
         json_extract_string(payload, '$.columns[2].value') AS commit,
         json_extract_string(payload, '$.columns[4].value') AS content
  FROM {src}
"""


def spark_certificates(df) -> dict[str, tuple[int, int, int]]:
    """(hash-sum, rows, live bytes) per value of ``__t``, from Spark.
    Live bytes are the string lengths of the row plus 8 bytes of LSN."""
    from pyspark.sql import functions as F

    cols = ("repo", "path", "commit", "lang", "content")
    rows = df.groupBy("__t").agg(
        F.sum(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", "repo", "path",
                            F.coalesce("commit", F.lit("")),
                            F.coalesce("content", F.lit("")),
                        )
                    ), 1, 15,
                ), 16, 10,
            ).cast("long") % _MOD
        ).alias("s"),
        F.count("*").alias("n"),
        F.sum(sum(F.coalesce(F.length(c), F.lit(0)) for c in cols) + F.lit(8)).alias("b"),
    ).collect()
    return {r["__t"]: (int(r["s"] or 0), int(r["n"]), int(r["b"] or 0)) for r in rows}


def duckdb_certificates(
    files: list[str] = (), *, txn_groups: list[list[str]] = ()
) -> dict[str, tuple[int, int]]:
    """Expected (hash-sum, rows) per table name after an LWW fold of the
    data events (latest LSN per key wins, deletes drop the key).  Every
    data row of ``files`` counts.  Each of ``txn_groups`` is a feed with
    transaction markers and its own txid space: its data rows count only
    if their txid has a ``C`` marker in that group (rows of still-open
    transactions are not visible yet)."""
    import duckdb

    con = duckdb.connect()
    parts = []
    if files:
        parts.append(f"SELECT lsn, payload FROM read_parquet({list(files)!r})")
    for group in txn_groups:
        src = f"read_parquet({list(group)!r})"
        parts.append(
            f"SELECT lsn, payload FROM {src} WHERE txid IN ("
            f" SELECT txid FROM {src}"
            f" WHERE json_extract_string(payload, '$.action') = 'C')"
        )
    rows = con.sql(
        f"""
        WITH raw AS ({' UNION ALL '.join(parts)}),
        ev AS ({_EVENTS_SQL.format(src="raw")}),
        latest AS (
          SELECT *, row_number() OVER (
            PARTITION BY tbl, repo, path ORDER BY lsn DESC) AS rn
          FROM ev WHERE action IN ('I', 'U', 'D')
        )
        SELECT tbl,
               coalesce(sum((('0x' || substr(md5(repo || '|' || path || '|' ||
                   coalesce(commit, '') || '|' || coalesce(content, '')), 1, 15)
                   )::bigint) % {_MOD}), 0)::bigint AS s,
               count(*) AS n
        FROM latest WHERE rn = 1 AND action <> 'D'
        GROUP BY tbl
        """
    ).fetchall()
    con.close()
    return {t: (int(s), int(n)) for t, s, n in rows}


def duckdb_point_states(files: list[str], probes) -> dict:
    """Live rows ``(repo, path, commit, content)`` per probe id, from the
    feed ``files``.  Each probe is ``(id, upto, table, repo, path)``: the
    key's row after the LWW fold of that table's events at or below LSN
    ``upto``, if it is live.  Every id of ``probes`` is in the result."""
    import duckdb
    import pyarrow as pa

    cols = ("id", "upto", "tbl", "repo", "path")
    con = duckdb.connect()
    con.register("probe", pa.table(dict(zip(cols, zip(*probes)))))
    rows = con.sql(f"""
        WITH ev AS ({_EVENTS_SQL.format(src=f"read_parquet({list(files)!r})")}),
        latest AS (
          SELECT p.id, e.*, row_number() OVER (
            PARTITION BY p.id, p.repo, p.path ORDER BY e.lsn DESC) AS rn
          FROM probe p JOIN ev e
            ON e.tbl = p.tbl AND e.repo = p.repo AND e.path = p.path AND e.lsn <= p.upto
          WHERE e.action IN ('I', 'U', 'D')
        )
        SELECT id, repo, path, commit, content
        FROM latest WHERE rn = 1 AND action <> 'D'
    """).fetchall()
    con.close()
    out: dict = {p[0]: [] for p in probes}
    for pid, *row in rows:
        out[pid].append(tuple(row))
    return out


# ------------------------------------------------------------------ oracles


# Spark simpleString → the DuckDB type name of the same value domain
_SPARK_TO_DUCK = {
    "bigint": "BIGINT", "int": "INTEGER", "smallint": "SMALLINT",
    "tinyint": "TINYINT", "double": "DOUBLE", "float": "FLOAT",
    "string": "VARCHAR", "boolean": "BOOLEAN", "date": "DATE",
    "timestamp": "TIMESTAMP WITH TIME ZONE", "binary": "BLOB",
}


def oracle_diff(con, oracle: str, cols, rows, spark_types) -> tuple[bool, list[str]]:
    """(values match, the columns whose oracle type differs)."""
    from tools.verify_oracles import rowset

    res = con.sql(oracle)
    d_cols, d_rows = res.columns, res.fetchall()
    d_types = dict(zip(d_cols, (str(t) for t in res.types)))
    mismatched = [
        f"{c}: {t} vs {d_types[c]}"
        for c, t in zip(cols, spark_types)
        if t in _SPARK_TO_DUCK
        and c in d_types
        and d_types[c] != _SPARK_TO_DUCK[t]
        and not (t == "timestamp" and d_types[c].startswith("TIMESTAMP"))
    ]
    ok = (
        sorted(cols) == sorted(d_cols)
        and len(rows) == len(d_rows)
        and rowset(cols, rows) == rowset(d_cols, d_rows)
    )
    return ok, mismatched
