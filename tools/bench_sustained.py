"""Sustained-ingest flatness drill (10^10-event evidence).

The north rule's scale claim is that the upsert stage stays
shuffle-bounded at 10^10 change events — i.e. NOTHING in the steady-state
ingest path is O(table): not the merge (delta-tier MOR), not compaction
(tiered, delta-only between periodic full passes), not retention
(expire_versions drops whole version dirs).  The scaling pairs evidence
the *parallelism* axis; this drill evidences the *time* axis: per-batch
wall time over a long replay must be FLAT (no upward slope as the table
accumulates versions), and the table's version/file counts must stay
bounded by the retention + compaction policy.

Protocol: one fresh table, N_BATCHES micro-batches of BATCH_EVENTS each
(default 16 x 2M = 32M events), steady-state maintenance exactly as the
headline bench (auto tiered compaction, periodic full pass, retention,
dead-letter).  After every batch we record wall seconds, delta depth,
version count, and live data-file count.  At the end: the standard
independent DuckDB fold certificate over the whole feed.

Flatness metric: least-squares slope of per-batch seconds over batch
index, reported as pct-of-mean-per-batch drift across the WHOLE run
(`slope_pct_of_mean_per_batch`), plus the late/early-half mean ratio.
On an idle host both sit near 0/1.0; a leak (O(table) work in the path)
shows as a steadily positive slope.

Usage: python tools/bench_sustained.py [n_batches] [events_per_batch]
Writes BENCH_SUSTAINED.json at the repo root.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    batch_events = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    n_events = n_batches * batch_events
    work = os.environ.get("SPARK_GRAFT_WORK_DIR", "/tmp/tps_bench_sustained")
    os.makedirs(work, exist_ok=True)

    from pyspark.sql import types as T

    from tap_postgres_spark.feedgen import generate_bulk_feed
    from tap_postgres_spark.lake import LakeTable
    from tap_postgres_spark.modes.log_based import CdcPipeline
    from tap_postgres_spark.schema import StreamDef, widen_for_cdc
    from tap_postgres_spark.session import get_spark
    from tap_postgres_spark.state import StateStore

    spark = get_spark("bench-sustained")

    # one feed, n_batches slices, cached across reruns like bench.py
    feed_dir = os.path.join(work, f"feed-{n_events}")
    if not os.path.exists(os.path.join(feed_dir, "_DONE")):
        shutil.rmtree(feed_dir, ignore_errors=True)
        generate_bulk_feed(
            feed_dir,
            n_events=n_events,
            n_keys=max(10_000, n_events // 8),
            n_files=n_batches * 8,
        )
        open(os.path.join(feed_dir, "_DONE"), "w").write("ok")
    files = sorted(f for f in os.listdir(feed_dir) if f.endswith(".parquet"))
    per = len(files) // n_batches

    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("commit", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("content", T.StringType(), True),
        ]
    )
    table_dir = os.path.join(work, "lake", "source_code_repos")
    shutil.rmtree(table_dir, ignore_errors=True)
    state_path = os.path.join(work, "state.json")
    if os.path.exists(state_path):
        os.unlink(state_path)
    table = LakeTable.create(
        spark, table_dir, widen_for_cdc(schema), ["repo", "path"], num_buckets=64
    )
    stream = StreamDef(
        schema_name="public",
        table_name="source_code_repos",
        spark_schema=schema,
        key_properties=("repo", "path"),
    )
    pg = {c: "text" for c in ("repo", "path", "commit", "lang", "content")}
    pipeline = CdcPipeline(
        spark,
        [stream],
        {"public.source_code_repos": pg},
        {"public.source_code_repos": table},
        StateStore(state_path),
        metrics_dir=os.path.join(work, "metrics"),
        detect_evolution=True,
        dead_letter_dir=os.path.join(work, "dead-letter"),
        # Tightened maintenance cadence so the drill CROSSES the full
        # policy cycle (tiered folds -> periodic FULL pass -> retention +
        # vacuum) several times within one run: depth trigger every ~4
        # batches, every 3rd firing is a full pass with retention.  The
        # production default (12/8) has the same shape on a ~24x longer
        # period; what the drill pins is that file/version counts SAW-TOOTH
        # instead of growing monotonically.
        auto_compact_depth=3,
        full_compact_every=3,
        retention_keep_last=6,
    )

    def live_file_count() -> int:
        n = 0
        data = os.path.join(table_dir, "data")
        for root, _dirs, fs in os.walk(data):
            n += sum(1 for f in fs if f.endswith(".parquet"))
        return n

    def jvm_rss_mb() -> int:
        """RSS of the local-mode JVM — flat RSS across batches is the
        bounded-state evidence (no per-batch leak in block manager /
        broadcast / state accumulation)."""
        try:
            pid = spark.sparkContext._gateway.proc.pid  # type: ignore[attr-defined]
        except AttributeError:
            return -1
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // (1 << 20)

    batches = []
    t_all = time.time()
    for i in range(n_batches):
        chunk = files[i * per : (i + 1) * per] if i < n_batches - 1 else files[
            i * per :
        ]
        raw = spark.read.schema("lsn long, txid long, payload string").parquet(
            *[os.path.join(feed_dir, f) for f in chunk]
        )
        load1 = os.getloadavg()[0]
        t0 = time.time()
        pipeline.apply_batch(raw, epoch_id=f"sustained-{i}")
        dt = time.time() - t0
        batches.append(
            {
                "batch": i,
                "seconds": round(dt, 2),
                "delta_depth": table.delta_depth(),
                "versions": len(table.history()),
                "data_files": live_file_count(),
                "jvm_rss_mb": jvm_rss_mb(),
                "load1_start": round(load1, 1),
            }
        )
        print(json.dumps(batches[-1]), flush=True)
    total_s = time.time() - t_all

    # independent certificate: DuckDB folds the raw feed to final state
    # (same 60-bit md5 hash-sum + count protocol as bench.py's verify)
    import duckdb
    from pyspark.sql import functions as F

    final = table.read()
    cert = final.select(
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
            ).cast("long") % 1_000_003
        ).alias("s"),
        F.count("*").alias("n"),
    ).collect()[0]
    duck = duckdb.connect()  # keep the handle alive past the lazy .sql()
    exp = duck.sql(
        f"""
        WITH ev AS (
          SELECT lsn,
                 json_extract_string(payload, '$.action') AS action,
                 json_extract_string(payload, '$.table') AS tbl,
                 coalesce(json_extract_string(payload, '$.columns[0].value'),
                          json_extract_string(payload, '$.identity[0].value')) AS repo,
                 coalesce(json_extract_string(payload, '$.columns[1].value'),
                          json_extract_string(payload, '$.identity[1].value')) AS path,
                 json_extract_string(payload, '$.columns[2].value') AS commit,
                 json_extract_string(payload, '$.columns[4].value') AS content
          FROM read_parquet('{feed_dir}/feed-*.parquet')
        ),
        latest AS (
          SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
          FROM ev WHERE tbl = 'source_code_repos'
        )
        SELECT sum((('0x' || substr(md5(repo || '|' || path || '|' ||
                    coalesce(commit, '') || '|' || coalesce(content, '')), 1, 15))::bigint)
                   % 1000003)::bigint AS s,
               count(*) AS n
        FROM latest WHERE rn = 1 AND action <> 'D'
        """
    ).fetchone()
    verify = (
        "ok"
        if cert["n"] == exp[1] and cert["s"] == exp[0]
        else f"MISMATCH spark=({cert['s']},{cert['n']}) duck={exp}"
    )

    def fit(vals: list[float]) -> tuple[float, float]:
        n = len(vals)
        mean = sum(vals) / n
        xbar = (n - 1) / 2
        slope = sum((i - xbar) * (s - mean) for i, s in enumerate(vals)) / sum(
            (i - xbar) ** 2 for i in range(n)
        )
        return slope, mean

    secs = [b["seconds"] for b in batches]
    slope, mean = fit(secs)
    # batch 0 pays one-time JIT/codegen warmup (~15-25s); the flatness
    # claim is about steady state, so report the fit without it too
    slope1, mean1 = fit(secs[1:])
    n = len(secs)
    half = n // 2
    late_early = (sum(secs[half:]) / (n - half)) / (sum(secs[:half]) / half)

    doc = {
        "n_batches": n_batches,
        "events_per_batch": batch_events,
        "n_events": n_events,
        "total_seconds": round(total_s, 1),
        "events_per_sec": round(n_events / total_s, 1),
        "per_batch_seconds": secs,
        "mean_batch_seconds": round(mean, 2),
        "slope_sec_per_batch": round(slope, 4),
        "slope_pct_of_mean_per_batch": round(100 * slope / mean, 2),
        "slope_pct_excl_first_batch": round(100 * slope1 / mean1, 2),
        "late_half_over_early_half": round(late_early, 3),
        "max_delta_depth": max(b["delta_depth"] for b in batches),
        "final_versions": batches[-1]["versions"],
        "max_versions": max(b["versions"] for b in batches),
        "final_data_files": batches[-1]["data_files"],
        "max_data_files": max(b["data_files"] for b in batches),
        "jvm_rss_mb_first": batches[0]["jvm_rss_mb"],
        "jvm_rss_mb_last": batches[-1]["jvm_rss_mb"],
        "jvm_rss_mb_max": max(b["jvm_rss_mb"] for b in batches),
        "verify": verify,
        "batches": batches,
        "cores": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    }
    out_path = os.environ.get(
        "SPARK_GRAFT_SUSTAINED_OUT", os.path.join(REPO, "BENCH_SUSTAINED.json")
    )
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({k: v for k, v in doc.items() if k != "batches"}, indent=1))


if __name__ == "__main__":
    main()
