"""Deterministic synthetic WAL feed + base snapshot + replay oracle.

Produces the flagship input shape from BASELINE.json's input_hint — a
table of source-code repositories ``(repo, path, commit, lang, content)``
keyed on ``(repo, path)`` — plus a wal2json-style change feed totally
ordered by ``(lsn, txid)``, with every edge case the reference's tests pin
(FIXTURES.md §2; /root/reference/tap_postgres/tests/test_consume.py,
test_wal_reader.py, test_log_based.py):

- insert/update/delete mix with repeated updates to one key and
  delete-then-insert resurrection within a batch
- hot-repo skew (zipf-ish repo popularity)
- txn markers B/C, truncate T, unknown action — must be dropped+counted
- malformed JSON payloads — must be counted, never crash
- enum-quote wal2json bug ``"type":""CodeLang""`` — must be repaired
- numeric-typed ``""`` → NULL (the ``stars`` column)
- text[] literals incl. embedded quotes (the ``tags`` column)
- additive schema evolution: ``stars`` appears mid-feed only

Two generators share one event model:

- :func:`generate_feed` — pure-Python, every edge case, pytest scale.
- :func:`generate_bulk_feed` — numpy/pandas vectorized payload
  construction for bench scale (millions of events/sec to produce).

:func:`oracle_apply` is an independent row-at-a-time replay (dict fold,
exactly the reference's execution model) giving expected final state for
sha256-verified comparison.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field
from typing import Any

SCHEMA_NAME = "public"
TABLE_NAME = "source_code_repos"
FQN = f"{SCHEMA_NAME}.{TABLE_NAME}"
OTHER_FQN = "public.other_table"

LANGS = ["py", "rs", "go", "md", "js", "java", "c", None]

# wal2json column type names per column (drives decode coercion rules)
PG_TYPES = {
    "repo": "text",
    "path": "text",
    "commit": "text",
    "lang": "text",
    "content": "text",
    "tags": "text[]",
    "stars": "integer",  # appears mid-feed (schema evolution)
}


@dataclass
class FeedConfig:
    seed: int = 42
    n_repos: int = 12
    n_initial_paths: int = 200
    n_events: int = 1200
    pct_insert: float = 0.30
    pct_update: float = 0.55  # rest are deletes
    skew: float = 1.2  # zipf-ish exponent; higher ⇒ hotter hot repos
    n_feed_files: int = 6
    # edge-case injection counts
    n_malformed: int = 5
    n_enum_quote: int = 5
    n_unknown_action: int = 3
    n_txn_markers: int = 10
    n_truncate: int = 2
    n_other_table: int = 8  # events for an unregistered second table
    n_numeric_empty: int = 6  # stars=""
    n_quoted_array: int = 6  # tags with embedded quotes
    evolution_at: float = 0.5  # fraction of feed after which `stars` exists
    base_lsn: int = 10_000
    # unchanged-TOAST simulation: with probability toast_omit_prob, a U
    # event OMITS toast_omit_cols from its column list — exactly what
    # wal2json does for unchanged TOASTed columns under REPLICA IDENTITY
    # DEFAULT.  0.0 (default) leaves the rng stream untouched, so
    # existing feeds stay byte-identical.
    toast_omit_prob: float = 0.0
    toast_omit_cols: tuple = ("content",)
    # primary-key-changing UPDATEs: U events whose `identity` carries the
    # OLD key (wal2json attaches identity to a U exactly when the
    # replica-identity columns changed) and whose `columns` carry the row
    # under the NEW key — a rename.  0 leaves the rng stream untouched.
    n_key_updates: int = 0


def _mk_content(rng: random.Random, repo: str, path: str, version: int) -> str:
    words = [
        "def", "fn", "class", "return", "import", "match", "let", "const",
        "select", "merge", "window", "stream", "commit", "hash", "batch",
    ]
    body = " ".join(rng.choices(words, k=rng.randint(8, 40)))
    return f"// {repo}/{path}@v{version}\n{body}\n"


def _zipf_repo(rng: random.Random, n_repos: int, skew: float) -> str:
    weights = [1.0 / (i + 1) ** skew for i in range(n_repos)]
    idx = rng.choices(range(n_repos), weights=weights, k=1)[0]
    return f"org{idx % 3}/repo{idx}"


def _col_entry(name: str, value: Any, pg_type: str | None = None) -> dict[str, Any]:
    return {"name": name, "type": pg_type or PG_TYPES[name], "value": value}


def _tags_literal(tags: list[str] | None) -> str | None:
    """Render a Postgres text[] literal the way the server prints it."""
    if tags is None:
        return None
    parts = []
    for t in tags:
        if any(c in t for c in ' ,"{}\\') or t == "":
            parts.append('"' + t.replace("\\", "\\\\").replace('"', '\\"') + '"')
        else:
            parts.append(t)
    return "{" + ",".join(parts) + "}"


@dataclass
class Feed:
    """Generated feed: snapshot rows, ordered events, expected metrics."""

    snapshot: list[dict[str, Any]]
    events: list[dict[str, Any]]  # {"lsn","txid","payload", "_kind"}
    config: FeedConfig
    expected_counts: dict[str, int] = field(default_factory=dict)


def generate_feed(cfg: FeedConfig | None = None) -> Feed:
    cfg = cfg or FeedConfig()
    rng = random.Random(cfg.seed)

    # ---- initial snapshot --------------------------------------------------
    snapshot: list[dict[str, Any]] = []
    live: dict[tuple[str, str], int] = {}  # key -> version
    for i in range(cfg.n_initial_paths):
        repo = _zipf_repo(rng, cfg.n_repos, cfg.skew)
        path = f"src/dir{rng.randint(0, 9)}/file{i}.{rng.choice(['py', 'rs', 'go'])}"
        key = (repo, path)
        if key in live:
            continue
        live[key] = 0
        snapshot.append(
            {
                "repo": repo,
                "path": path,
                "commit": f"{rng.getrandbits(160):040x}",
                "lang": rng.choice(LANGS),
                "content": _mk_content(rng, repo, path, 0),
                "tags": rng.sample(["core", "test", "docs", "ci"], k=rng.randint(0, 2)),
                "stars": None,
            }
        )

    # ---- events ------------------------------------------------------------
    events: list[dict[str, Any]] = []
    lsn = cfg.base_lsn
    txid = 700
    counts = {
        "I": 0, "U": 0, "D": 0, "txn_marker": 0, "truncate": 0,
        "unknown_action": 0, "malformed": 0, "other_table": 0,
    }
    evolution_lsn = cfg.base_lsn + int(cfg.n_events * cfg.evolution_at) * 10
    deleted: list[tuple[str, str]] = []
    next_file_id = cfg.n_initial_paths

    def emit(payload: Any, kind: str) -> None:
        nonlocal lsn, txid
        lsn += rng.randint(1, 10)
        if rng.random() < 0.3:
            txid += 1
        events.append(
            {
                "lsn": lsn,
                "txid": txid,
                "payload": payload if isinstance(payload, str) else json.dumps(payload),
                "_kind": kind,
            }
        )

    def data_payload(
        action: str, key: tuple[str, str], version: int, full: bool = False
    ) -> dict[str, Any]:
        repo, path = key
        stars_exists = lsn >= evolution_lsn
        if action == "D":
            return {
                "action": "D",
                "schema": SCHEMA_NAME,
                "table": TABLE_NAME,
                "identity": [_col_entry("repo", repo), _col_entry("path", path)],
            }
        tags = rng.sample(["core", "test", "docs", "ci", "wip"], k=rng.randint(0, 3))
        cols = [
            _col_entry("repo", repo),
            _col_entry("path", path),
            _col_entry("commit", f"{rng.getrandbits(160):040x}"),
            _col_entry("lang", rng.choice(LANGS)),
            _col_entry("content", _mk_content(rng, repo, path, version)),
            _col_entry("tags", _tags_literal(tags)),
        ]
        if stars_exists:
            cols.append(_col_entry("stars", str(rng.randint(0, 5000))))
        if (
            action == "U"
            and not full
            and cfg.toast_omit_prob > 0
            and rng.random() < cfg.toast_omit_prob
        ):
            cols = [c for c in cols if c["name"] not in cfg.toast_omit_cols]
        return {
            "action": action,
            "schema": SCHEMA_NAME,
            "table": TABLE_NAME,
            "columns": cols,
        }

    for i in range(cfg.n_events):
        r = rng.random()
        if r < cfg.pct_insert or not live:
            # resurrection: ~15% of inserts revive a deleted key
            if deleted and rng.random() < 0.15:
                key = deleted.pop(rng.randrange(len(deleted)))
            else:
                repo = _zipf_repo(rng, cfg.n_repos, cfg.skew)
                key = (repo, f"src/new/file{next_file_id}.py")
                next_file_id += 1
            if key in live:
                continue
            live[key] = 1
            emit(data_payload("I", key, 1), "I")
            counts["I"] += 1
        elif r < cfg.pct_insert + cfg.pct_update:
            key = rng.choice(list(live.keys()))
            live[key] += 1
            emit(data_payload("U", key, live[key]), "U")
            counts["U"] += 1
        else:
            key = rng.choice(list(live.keys()))
            del live[key]
            deleted.append(key)
            emit(data_payload("D", key, 0), "D")
            counts["D"] += 1

    # primary-key-changing UPDATEs (renames): identity = OLD key, columns
    # = full row under the NEW key.  Always full images (wal2json's TOAST
    # omission and a key change can co-occur in real PG, but the engine's
    # documented honest corner there is a counted NULL — keep the oracle
    # exact here).
    for j in range(cfg.n_key_updates):
        if not live:
            break
        old_key = rng.choice(sorted(live.keys()))
        repo, _old_path = old_key
        new_key = (repo, f"src/renamed/file{j}_{next_file_id}.py")
        next_file_id += 1
        if new_key in live:
            continue
        version = live.pop(old_key) + 1
        live[new_key] = version
        p = data_payload("U", new_key, version, full=True)
        p["identity"] = [_col_entry("repo", old_key[0]), _col_entry("path", old_key[1])]
        emit(p, "key_update")
        counts["U"] += 1

    # ---- injections (interleaved deterministically) ------------------------
    for _ in range(cfg.n_txn_markers):
        emit({"action": rng.choice(["B", "C"])}, "txn_marker")
        counts["txn_marker"] += 1
    for _ in range(cfg.n_truncate):
        emit({"action": "T", "schema": SCHEMA_NAME, "table": TABLE_NAME}, "truncate")
        counts["truncate"] += 1
    for _ in range(cfg.n_unknown_action):
        emit(
            {"action": "X", "schema": SCHEMA_NAME, "table": TABLE_NAME, "columns": []},
            "unknown_action",
        )
        counts["unknown_action"] += 1
    for _ in range(cfg.n_malformed):
        emit("{this is not json{", "malformed")
        counts["malformed"] += 1
    for j in range(cfg.n_other_table):
        emit(
            {
                "action": "I",
                "schema": "public",
                "table": "other_table",
                "columns": [_col_entry("id", str(j), "integer")],
            },
            "other_table",
        )
        counts["other_table"] += 1
    # enum-quote bug payloads: valid I events whose lang column carries the
    # broken ""CodeLang"" type token (reference _wal_helpers.py:17-19)
    for j in range(cfg.n_enum_quote):
        repo = _zipf_repo(rng, cfg.n_repos, cfg.skew)
        key = (repo, f"src/enum/file{j}.py")
        if key in live:
            continue
        live[key] = 1
        p = data_payload("I", key, 1)
        raw = json.dumps(p)
        raw = raw.replace('"type": "text", "value"', '"type": ""CodeLang"", "value"', 1)
        emit(raw, "I")
        counts["I"] += 1
    # numeric empty-string: stars=""
    for j in range(cfg.n_numeric_empty):
        key = rng.choice(list(live.keys()))
        live[key] += 1
        p = data_payload("U", key, live[key])
        p["columns"] = [c for c in p["columns"] if c["name"] != "stars"]
        p["columns"].append(_col_entry("stars", ""))
        emit(p, "U")
        counts["U"] += 1
    # quoted array literals
    for j in range(cfg.n_quoted_array):
        key = rng.choice(list(live.keys()))
        live[key] += 1
        p = data_payload("U", key, live[key])
        p["columns"] = [c for c in p["columns"] if c["name"] != "tags"]
        p["columns"].append(
            _col_entry("tags", _tags_literal(['This is a "test"', "plain", "with space"]))
        )
        emit(p, "U")
        counts["U"] += 1

    # events were appended in lsn order already (emit() increments), but the
    # injection blocks come after — re-sort by (lsn, txid) for total order
    events.sort(key=lambda e: (e["lsn"], e["txid"]))
    return Feed(snapshot=snapshot, events=events, config=cfg, expected_counts=counts)


def wrap_transactions(feed: Feed) -> Feed:
    """Rewrite a feed into the wal2json commit-order contract: every
    txid forms one contiguous ``B`` … rows … ``C`` transaction — the
    shape the transaction-boundary atomic apply (modes/txn.py) expects.

    Each maximal run of consecutive same-txid events becomes one
    transaction with a fresh txid; pre-existing stray B/C markers get
    their own (empty) txids so they can never commit someone else's
    rows.  LSNs are renumbered monotonically in event order, so the
    row-at-a-time oracle (:func:`oracle_apply`) and all LWW semantics
    are preserved.  ``expected_counts['txn_marker']`` is updated to the
    new marker population."""
    new_events: list[dict[str, Any]] = []
    counts = dict(feed.expected_counts)
    lsn = feed.config.base_lsn
    txid = 700
    n_markers = 0

    def _nxt() -> int:
        nonlocal lsn
        lsn += 3
        return lsn

    def _emit(payload: Any, tx: int, kind: str) -> None:
        new_events.append(
            {
                "lsn": _nxt(),
                "txid": tx,
                "payload": payload if isinstance(payload, str) else json.dumps(payload),
                "_kind": kind,
            }
        )

    runs: list[list[dict[str, Any]]] = []
    for e in feed.events:
        if e["_kind"] == "txn_marker":
            runs.append([e])  # stray marker → its own txid
        elif runs and runs[-1][0]["_kind"] != "txn_marker" and runs[-1][0][
            "txid"
        ] == e["txid"]:
            runs[-1].append(e)
        else:
            runs.append([e])

    for run in runs:
        txid += 1
        if run[0]["_kind"] == "txn_marker":
            _emit(json.loads(run[0]["payload"]), txid, "txn_marker")
            n_markers += 1
            continue
        _emit({"action": "B"}, txid, "txn_marker")
        for e in run:
            _emit(e["payload"], txid, e["_kind"])
        _emit({"action": "C"}, txid, "txn_marker")
        n_markers += 2
    counts["txn_marker"] = n_markers
    return Feed(
        snapshot=feed.snapshot,
        events=new_events,
        config=feed.config,
        expected_counts=counts,
    )


# --------------------------------------------------------------------------
# Writers
# --------------------------------------------------------------------------
def stamp_arrival_order(paths: list[str]) -> None:
    """Give ``paths`` strictly increasing modification times, one second
    apart and ending now.  Spark's file stream source picks files up in
    modification-time order; files written within one clock tick tie,
    and ties go in directory-listing order, which is not name order."""
    t0 = time.time() - len(paths)
    for i, p in enumerate(paths):
        os.utime(p, (t0 + i, t0 + i))


def write_feed(feed: Feed, feed_dir: str, snapshot_path: str | None = None) -> None:
    """Write the event feed as N parquet files whose lexical filename order
    equals LSN order, stamped so that their arrival order does too
    (:func:`stamp_arrival_order`): Spark's file stream then picks them up
    in LSN order, and LSN order within and across files makes replay
    order total."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(feed_dir, exist_ok=True)
    ev = feed.events
    n_files = max(1, feed.config.n_feed_files)
    per = (len(ev) + n_files - 1) // n_files
    written = []
    for i in range(n_files):
        chunk = ev[i * per : (i + 1) * per]
        if not chunk:
            continue
        tbl = pa.table(
            {
                "lsn": pa.array([e["lsn"] for e in chunk], pa.int64()),
                "txid": pa.array([e["txid"] for e in chunk], pa.int64()),
                "payload": pa.array([e["payload"] for e in chunk], pa.string()),
            }
        )
        written.append(os.path.join(feed_dir, f"feed-{i:05d}.parquet"))
        pq.write_table(tbl, written[-1])
    stamp_arrival_order(written)
    if snapshot_path:
        write_snapshot(feed, snapshot_path)


def write_snapshot(feed: Feed, snapshot_path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = feed.snapshot
    tbl = pa.table(
        {
            "repo": pa.array([r["repo"] for r in rows], pa.string()),
            "path": pa.array([r["path"] for r in rows], pa.string()),
            "commit": pa.array([r["commit"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
            "content": pa.array([r["content"] for r in rows], pa.string()),
            "tags": pa.array([r["tags"] for r in rows], pa.list_(pa.string())),
            "stars": pa.array([r["stars"] for r in rows], pa.int32()),
        }
    )
    os.makedirs(os.path.dirname(snapshot_path) or ".", exist_ok=True)
    pq.write_table(tbl, snapshot_path)


# --------------------------------------------------------------------------
# Oracle — independent row-at-a-time replay (the reference's execution
# model: client.py:547-594 applied in strict (lsn, txid) order).
# --------------------------------------------------------------------------
def _oracle_parse_value(name: str, value: Any) -> Any:
    if value is None:
        return None
    if name == "stars":
        return None if value == "" else int(value)
    if name == "tags":
        from .functions import _parse_pg_array_one

        return _parse_pg_array_one(value)
    return value


def oracle_apply(
    feed: Feed, partial: bool = False
) -> dict[tuple[str, str], dict[str, Any]]:
    """Expected final state of source_code_repos after full replay.

    Independent implementation: dict fold, one event at a time, exactly the
    reference's ordered-application semantics.  Uses the *payload JSON*
    (with its own repair step) so it also validates the decode path.

    ``partial=True`` applies per-COLUMN semantics: a U event updates only
    the columns present in its payload, keeping the previous value for
    absent (unchanged-TOAST) columns — the oracle for
    ``CdcPipeline(partial_updates=True)`` over a feed generated with
    ``toast_omit_prob > 0``.
    """
    state: dict[tuple[str, str], dict[str, Any]] = {}
    for row in feed.snapshot:
        # snapshot rows carry _sdc_lsn=0: any WAL event outranks them in
        # the LWW fold (matches the engine's snapshot-load convention)
        state[(row["repo"], row["path"])] = {**row, "_sdc_lsn": 0}

    import re

    for e in sorted(feed.events, key=lambda x: (x["lsn"], x["txid"])):
        raw = e["payload"]
        repaired = re.sub(r'("type":\s*)""([^"]*)""', r'\1"\2"', raw)
        try:
            msg = json.loads(repaired)
        except (json.JSONDecodeError, ValueError):
            continue
        if not isinstance(msg, dict):
            continue
        action = msg.get("action")
        if action in ("B", "C", "T") or action not in ("I", "U", "D"):
            continue
        if f"{msg.get('schema')}.{msg.get('table')}" != FQN:
            continue
        if action == "D":
            ident = {c["name"]: c["value"] for c in msg.get("identity", [])}
            state.pop((ident["repo"], ident["path"]), None)
            continue
        cols = {c["name"]: _oracle_parse_value(c["name"], c["value"]) for c in msg["columns"]}
        key = (cols["repo"], cols["path"])
        # a U carrying `identity` with DIFFERENT key values is a
        # primary-key-changing update: the row moves from the old key
        # (wal2json attaches identity to U exactly when replica-identity
        # columns changed)
        moved = None
        ident = {c["name"]: c["value"] for c in msg.get("identity") or []}
        if (
            action == "U"
            and ident
            and (ident.get("repo"), ident.get("path")) != key
        ):
            moved = state.pop((ident["repo"], ident["path"]), None)
        if partial:
            prev = (
                moved
                if moved is not None
                else state.get(key, None)
            ) or {
                "commit": None, "lang": None, "content": None,
                "tags": None, "stars": None,
            }
            row = {
                "repo": cols["repo"],
                "path": cols["path"],
                # present columns win; absent columns keep the prior value
                **{
                    c: (cols[c] if c in cols else prev.get(c))
                    for c in ("commit", "lang", "content", "tags", "stars")
                },
                "_sdc_lsn": e["lsn"],
            }
        else:
            row = {
                "repo": cols["repo"],
                "path": cols["path"],
                "commit": cols.get("commit"),
                "lang": cols.get("lang"),
                "content": cols.get("content"),
                "tags": cols.get("tags"),
                "stars": cols.get("stars"),
                "_sdc_lsn": e["lsn"],
            }
        state[key] = row
    return state


# --------------------------------------------------------------------------
# Bulk generator — vectorized, bench scale, clean I/U/D only.
# --------------------------------------------------------------------------
def generate_bulk_feed(
    out_dir: str,
    *,
    n_events: int,
    n_keys: int,
    n_files: int = 32,
    seed: int = 42,
    pct_insert: float = 0.35,
    pct_update: float = 0.55,
    skew: float = 1.1,
    base_lsn: int = 1_000_000,
    tables: tuple[str, ...] = ("source_code_repos",),
    txn_markers: bool = False,
) -> dict[str, Any]:
    """Vectorized wal2json feed at bench scale.

    ``txn_markers=True`` appends B/C transaction markers per file chunk
    (vectorized, ~n/4 marker pairs): a txid's ``C`` lands in the chunk
    holding the run's LAST row, so under whole-file micro-batches the
    txn-boundary split (modes/txn.py) sees every commit no later than
    its rows — runs spanning a chunk boundary defer exactly one batch.
    Markers reuse their run's boundary LSNs (protocol rows never enter
    the merge, so duplicate LSNs are harmless).

    All payload construction is numpy/pandas string ops (≈10^6 rows/sec in
    pure Python would bottleneck the *generator*, not the engine).  Keys
    are drawn zipf-skewed so the hot-repo path is exercised at scale.
    Returns a manifest incl. the expected-final-state recipe.

    ``tables`` interleaves events for several tables into ONE feed (the
    reference's single-connection-multi-table WAL shape, tap.py:537-547)
    — each key belongs to exactly one table (``key_id %% len(tables)``)
    so every table's final state folds independently.
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    lsn = base_lsn + np.cumsum(rng.integers(1, 5, size=n_events, dtype=np.int64))
    txid = 1000 + np.cumsum(rng.random(n_events) < 0.25).astype(np.int64)

    # zipf-skewed key ids clipped to the key universe
    raw = rng.zipf(max(skew, 1.01), size=n_events)
    key_id = ((raw - 1) * 2654435761 % n_keys).astype(np.int64)

    u = rng.random(n_events)
    action = np.where(u < pct_insert, "I", np.where(u < pct_insert + pct_update, "U", "D"))

    # String/payload construction happens PER FILE CHUNK (round-3 fix):
    # the previous whole-corpus build materialized ~16 GB of JSON strings
    # plus temporaries in one pass (50+ GB RSS, ~25 min single-threaded at
    # 32M events); chunking bounds memory at ~n/n_files rows of strings
    # and produces byte-identical files (pure slicing of the same
    # deterministic arrays).  Commit hashes are still derived from the
    # full-corpus hash_pandas_object call (chunking must not change them).
    import binascii

    h = pd.util.hash_pandas_object(
        pd.Series(lsn * 31 + key_id), index=False
    ).to_numpy(dtype=np.uint64)

    esc = (
        lambda s: s.str.replace("\\", "\\\\", regex=False)
        .str.replace('"', '\\"', regex=False)
        .str.replace("\n", "\\n", regex=False)
    )

    per = (n_events + n_files - 1) // n_files
    for i in range(n_files):
        sl = slice(i * per, min((i + 1) * per, n_events))
        if sl.start >= n_events:
            continue
        kc = pd.Series(key_id[sl])
        rid = kc % 97
        repo = ("org" + (rid % 7).astype(str) + "/repo" + rid.astype(str)).astype(
            "string"
        )
        path = (
            "src/d" + (kc % 31).astype(str) + "/f" + kc.astype(str) + ".py"
        ).astype("string")
        ver = pd.Series(lsn[sl]).astype(str)
        # f"{h:016x}" ≡ hexlify of the big-endian 8-byte encoding
        hx = np.frombuffer(
            binascii.hexlify(h[sl].astype(">u8").tobytes()), dtype="S16"
        )
        commit = pd.Series(hx).str.decode("ascii")
        commit = commit + commit
        content = (
            "// code " + repo.astype(str) + "/" + path.astype(str) + "@" + ver
            + "\nfn main() { return " + kc.astype(str) + "; }\n"
        )
        ac = pd.Series(action[sl])
        tbl = pd.Series(np.asarray(tables, dtype=object)[(kc % len(tables)).to_numpy()])
        cols_json = (
            '{"action":"' + ac + '","schema":"public","table":"' + tbl + '",'
        )
        full_image = (
            '"columns":[{"name":"repo","type":"text","value":"' + esc(repo.astype(str))
            + '"},{"name":"path","type":"text","value":"' + esc(path.astype(str))
            + '"},{"name":"commit","type":"text","value":"' + commit
            + '"},{"name":"lang","type":"text","value":"py"}'
            + ',{"name":"content","type":"text","value":"' + esc(content) + '"}]}'
        )
        identity = (
            '"identity":[{"name":"repo","type":"text","value":"' + esc(repo.astype(str))
            + '"},{"name":"path","type":"text","value":"' + esc(path.astype(str)) + '"}]}'
        )
        payload = cols_json + pd.Series(
            np.where(action[sl] == "D", identity, full_image)
        )
        chunk = pd.DataFrame(
            {"lsn": lsn[sl], "txid": txid[sl], "payload": payload}
        )
        if txn_markers:
            t = txid[sl]
            lo = lsn[sl]
            prev_last = txid[sl.start - 1] if sl.start > 0 else None
            next_first = txid[sl.stop] if sl.stop < n_events else None
            uniq = np.unique(t)  # sorted (txid is nondecreasing)
            opened = uniq if prev_last is None else uniq[uniq > prev_last]
            closed = uniq if next_first is None else uniq[uniq < next_first]
            b_pos = np.searchsorted(t, opened, side="left")
            c_pos = np.searchsorted(t, closed, side="right") - 1
            markers = pd.DataFrame(
                {
                    "lsn": np.concatenate([lo[b_pos], lo[c_pos]]),
                    "txid": np.concatenate([opened, closed]),
                    "payload": ['{"action":"B"}'] * len(opened)
                    + ['{"action":"C"}'] * len(closed),
                }
            )
            chunk = pd.concat([chunk, markers], ignore_index=True)
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                       os.path.join(out_dir, f"feed-{i:05d}.parquet"))
    return {
        "n_events": int(n_events),
        "n_keys": int(n_keys),
        "seed": seed,
        "files": n_files,
        "max_lsn": int(lsn[-1]),
        "tables": list(tables),
    }
