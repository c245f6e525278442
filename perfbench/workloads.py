"""The workloads.  Each is ``run(ctx) -> None`` and fills
``ctx.ops_per_s``, ``ctx.op_samples`` and ``ctx.read_samples`` (end-to-end
figures), ``ctx.detail`` (figures reported by the traced run) and
``ctx.attempted``/``failed``.

Every workload follows the same shape: set-up (timed into
``setup_s``), the measured loop, then the correctness gates, which
never run inside a timed section.  In a traced run the measured loop is
split in two halves, untraced then traced, and the ratio of their
per-unit walls is ``trace.overhead_ratio``.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import types
from typing import Any

import numpy as np

from harness import Tracer, dir_bytes, engine_classes, p50, tail
from checks import (
    duckdb_certificates, duckdb_point_states, oracle_diff, spark_certificates,
)

COLS = ("repo", "path", "commit", "lang", "content")
FEED_SCHEMA = "lsn long, txid long, payload string"


# ----------------------------------------------------------------- helpers


def _stream_schema():
    from pyspark.sql import types as T

    return T.StructType([T.StructField(c, T.StringType(), c not in ("repo", "path"))
                         for c in COLS])


def _pipeline(ctx, Pipeline, tables: dict, state_path: str, **kw):
    from tap_postgres_spark.schema import StreamDef

    schema = _stream_schema()
    streams = [StreamDef("public", fqn.split(".", 1)[1], schema, ("repo", "path"))
               for fqn in tables]
    return Pipeline(
        ctx.spark, streams, {f: {c: "text" for c in COLS} for f in tables},
        tables, ctx.State(state_path), **kw,
    )


def _create_tables(ctx, root: str, names, buckets: int) -> dict:
    from tap_postgres_spark.schema import widen_for_cdc

    shutil.rmtree(root, ignore_errors=True)
    return {
        f"public.{n}": ctx.Table.create(
            ctx.spark, os.path.join(root, n), widen_for_cdc(_stream_schema()),
            ["repo", "path"], num_buckets=buckets,
        )
        for n in names
    }


def _files(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def _gen(ctx, out_dir: str, **kw) -> dict:
    from tap_postgres_spark.feedgen import generate_bulk_feed

    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.perf_counter()
    man = generate_bulk_feed(out_dir, **kw)
    ctx.feedgen_s.append(time.perf_counter() - t0)
    return man


def _read(ctx, files: list[str]):
    return ctx.spark.read.schema(FEED_SCHEMA).parquet(*files)


def _check(ctx, ok: bool, what: str) -> None:
    ctx.attempted += 1
    if not ok:
        ctx.failed += 1
        ctx.log(f"FAILED check: {what}")


def _certify(ctx, tables: dict, expected: dict, label: str) -> float:
    """Every table's certificate against DuckDB's, in one Spark job.
    Returns bytes under the table dirs over bytes of the live rows."""
    from functools import reduce

    from pyspark.sql import functions as F

    union = reduce(lambda a, b: a.unionByName(b), (
        t.read().select(*COLS).withColumn("__t", F.lit(fqn.split(".", 1)[1]))
        for fqn, t in tables.items()
    ))
    got = spark_certificates(union)
    for fqn in tables:
        name = fqn.split(".", 1)[1]
        want, have = expected.get(name, (0, 0)), got.get(name, (0, 0, 0))[:2]
        _check(ctx, have == want, f"{label} {fqn}: spark={have} duckdb={want}")
    live = sum(b for _s, _n, b in got.values())
    return sum(dir_bytes(t.path) for t in tables.values()) / max(1, live)


def _probe_decode_fold(ctx, files: list[str], table) -> None:
    """decode.* and lww.* probes: parse + classify + project one batch
    (noop sink), then the same plus the LWW fold; the fold's cost is the
    difference.  Run outside every timed section, warm then timed."""
    from tap_postgres_spark.decode import (
        classify, decode_projection, finish_decode, parse_raw_payloads,
    )
    from tap_postgres_spark.operators.lww import fold_last_writer_wins_agg
    from tap_postgres_spark.schema import StreamDef

    fqn = "public." + os.path.basename(table.path)
    stream = StreamDef("public", fqn.split(".", 1)[1], _stream_schema(), ("repo", "path"))
    fqns = list(ctx.fqns)

    def decoded():
        raw = _read(ctx, files)
        proj = decode_projection(
            classify(parse_raw_payloads(raw), fqns), stream, {c: "text" for c in COLS}
        )
        return raw, finish_decode(proj, stream)

    def timed(df) -> float:
        walls = []
        for _ in range(4):  # the first pass warms the plan
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            walls.append(time.perf_counter() - t0)
        return p50(walls[1:])

    raw, dec = decoded()
    folded = fold_last_writer_wins_agg(dec, ["repo", "path"])
    decode_s = timed(dec)
    fold_s = timed(folded)
    rows_in, rows_ok, rows_out = raw.count(), dec.count(), folded.count()
    ctx.detail.update({
        "decode.probe_s": decode_s,
        "decode.rows_in": rows_in,
        "decode.rows_ok": rows_ok,
        "lww.probe_s": fold_s - decode_s,
        "lww.rows_out": rows_out,
        "lww.keep_ratio": rows_out / max(1, rows_ok),
    })


# ------------------------------------------------------------ tail_8stream

TAIL_TABLES = tuple(f"repos_{i}" for i in range(8))
TAIL_KEYS = 16_000
TAIL_RATE = 3.0           # files released per second (offered load)
TAIL_FILE_EVENTS = 300    # events per released file, all 8 tables interleaved
TAIL_BUCKETS = 4
TAIL_TRIGGER = "250 milliseconds"
TAIL_MAX_FILES = 16       # maxFilesPerTrigger: a late batch absorbs the backlog
TAIL_GRACE_S = 5.0        # after the window, wait this long to catch up
TAIL_KEEP_VERSIONS = 4    # expire_versions in the traced maintenance pass
POINT_READS = 3           # per read set; they share TAIL_KEYS_PER_READ hot keys
TAIL_KEYS_PER_READ = 8
MIN_READS = 21            # the reader goes on past the window until it has these
WARM_FILES = 3


def tail_8stream(ctx) -> None:
    """Open-loop writes with a closed-loop reader beside them.  A
    load-generator thread releases staged feed files of 8 interleaved
    tables into the tailed directory at a fixed rate by atomic rename,
    and ``StreamingCdcRunner.run_tailing`` applies them; lag is timed
    from each file's scheduled release.  For the same ``--seconds`` one
    reader thread runs read sets back to back, round-robin over the
    tables being written: zipf-hot point reads (``read_keys``), the
    changelog an incremental consumer reads since its last visit to the
    table (``read_changes``) and a narrow aggregate scan
    (``read(columns=...)``).  A traced run traces the second half of the
    window and adds the decode/fold probe and the transaction-boundary
    probe."""
    import pyarrow.parquet as pq
    from pyspark.errors import StreamingQueryException

    from tap_postgres_spark.streaming.runner import StreamingCdcRunner

    w = ctx.work
    n_files = int(round(TAIL_RATE * ctx.seconds))
    staged, feed = os.path.join(w, "staged"), os.path.join(w, "feed")
    ctx.fqns = [f"public.{n}" for n in TAIL_TABLES]

    def pipeline(tables, tag, **kw):
        return _pipeline(ctx, ctx.Pipeline, tables, os.path.join(w, f"state-{tag}.json"), **kw)

    def build():
        _gen(ctx, staged, n_events=n_files * TAIL_FILE_EVENTS, n_keys=TAIL_KEYS,
             n_files=n_files, seed=ctx.seed, tables=TAIL_TABLES)

    def warm():
        """Tail WARM_FILES files, one per batch, into scratch tables, with
        read sets on them beside the batches from the first commit on,
        as in the measured window."""
        wfeed = os.path.join(w, "warm-feed")
        _gen(ctx, wfeed, n_events=WARM_FILES * TAIL_FILE_EVENTS, n_keys=TAIL_KEYS,
             n_files=WARM_FILES, seed=ctx.seed + 7, tables=TAIL_TABLES)
        tables = _create_tables(ctx, os.path.join(w, "warm-lake"), TAIL_TABLES, TAIL_BUCKETS)
        done, errors = threading.Event(), []

        def reads():
            try:
                rng, k = np.random.default_rng(ctx.seed), 0
                while not ctx.clock and not done.is_set():
                    time.sleep(0.01)
                while not done.is_set():
                    i = k % len(ctx.fqns)
                    _read_set(ctx, tables[ctx.fqns[i]], 1, _hot_keys(rng, i), until=done.is_set)
                    k += 1
            except BaseException as e:  # re-raised below
                errors.append(e)

        th = threading.Thread(target=reads, name="perfbench-warm-reader")
        th.start()
        try:
            StreamingCdcRunner(pipeline(tables, "warm"), wfeed, os.path.join(w, "warm-ckpt"),
                               name="warm", max_files_per_trigger=1).run_available_now()
        finally:
            done.set()
            th.join()
        if errors:
            raise errors[0]

    ctx.setup(build, warm)
    files = _files(staged)
    max_lsn = [int(pq.read_table(f, columns=["lsn"]).column(0).to_numpy().max())
               for f in files]
    sizes = [os.path.getsize(f) for f in files]
    os.makedirs(feed)
    tables = _create_tables(ctx, os.path.join(w, "lake"), TAIL_TABLES, TAIL_BUCKETS)
    clock = ctx.clock
    # auto-compaction off: at its default depth (12) it first fires on
    # the 13th batch, which the window reaches or not depending on the
    # engine's speed, and its ~6 s stall would then decide the lag tail.
    # The traced run times compaction in its maintenance pass instead.
    pipe = pipeline(tables, "tail", auto_compact_depth=0)
    runner = StreamingCdcRunner(pipe, feed, os.path.join(w, "ckpt"),
                                name="tail", max_files_per_trigger=TAIL_MAX_FILES)
    due, late, window, read_sets, errors = [], [], {}, [], []
    half = n_files // 2
    started, released, stopped = threading.Event(), threading.Event(), threading.Event()

    def caught_up() -> bool:
        return bool(clock) and (clock[-1][2].get("max_lsn_seen") or 0) >= max_lsn[-1]

    def loadgen():
        try:
            # release nothing before the query polls the feed dir
            while not any(q.status["message"].startswith("Waiting")
                          for q in ctx.spark.streams.active):
                if stopped.is_set():  # the query ended before it polled
                    return
                time.sleep(0.01)
            t_start = window["start"] = time.perf_counter()
            window["end"] = t_start + n_files / TAIL_RATE
            started.set()
            for i, f in enumerate(files):
                if stopped.is_set():
                    break
                if i == half:  # a traced run traces the second half
                    ctx.tracer.enabled = ctx.trace
                at = t_start + i / TAIL_RATE
                while (now := time.perf_counter()) < at:
                    time.sleep(min(0.005, at - now))
                os.rename(f, os.path.join(feed, os.path.basename(f)))
                due.append(at)
                late.append(time.perf_counter() - at)
            released.set()
            while time.perf_counter() < window["end"] + TAIL_GRACE_S and not caught_up():
                time.sleep(0.02)
        except BaseException as e:  # re-raised by the main thread
            errors.append(e)
        finally:
            started.set()
            released.set()
            # end the query between batches: a batch that starts after
            # the request raises StopTailing and stays uncommitted
            pipe.stop_requested = True
            while pipe.in_batch:
                time.sleep(0.01)
            for q in ctx.spark.streams.active:
                q.stop()

    def reader():
        """Read sets until the last file is released and at least
        ``MIN_READS`` reads are done, so that ``read_s.tail`` lies above
        the median; each read set records whether it started in the
        traced half.  Once both hold, the set in progress stops after
        its current read."""
        try:
            rng = np.random.default_rng(ctx.seed)
            started.wait()
            last = {fqn: t.current_version() for fqn, t in tables.items()}
            k = n = 0

            def done() -> bool:
                return released.is_set() and n >= MIN_READS

            while not done():
                fqn = ctx.fqns[k % len(ctx.fqns)]
                traced = ctx.tracer.enabled
                since, last[fqn] = last[fqn], tables[fqn].current_version()
                got = _read_set(ctx, tables[fqn], since, _hot_keys(rng, k % len(ctx.fqns)),
                                until=done)
                read_sets.append((traced, fqn, got))
                k += 1
                n += len(got)
        except BaseException as e:
            errors.append(e)

    gen = threading.Thread(target=loadgen, name="perfbench-loadgen")
    rd = threading.Thread(target=reader, name="perfbench-reader")
    gen.start()
    rd.start()
    try:
        runner.run_tailing(processing_time=TAIL_TRIGGER,
                           max_run_seconds=ctx.seconds + TAIL_GRACE_S + 60)
    except StreamingQueryException:
        if not pipe.stop_requested:  # anything but the StopTailing refusal
            raise
    finally:
        stopped.set()
        gen.join()
        rd.join()
        pipe.stop_requested = False
    if errors:
        raise errors[0]
    ctx.tracer.enabled = False
    ctx.log(f"tailed; batch walls {[round(e - s, 2) for s, e, _o in clock]}")

    # lag per released file: the return of the first apply_batch whose
    # max_lsn_seen covers the file's max LSN, minus its scheduled release
    lags, applied_by_end, batch_of = [], 0, []
    for i, at in enumerate(due):
        b = next((b for b, (_s, _e, out) in enumerate(clock)
                  if (out.get("max_lsn_seen") or -1) >= max_lsn[i]), None)
        batch_of.append(b)
        if b is not None:
            lags.append(clock[b][1] - at)
            applied_by_end += clock[b][1] <= window["end"]
    rows = [sum(m["n"] for m in out["metrics"] if m["_fqn"] is not None)
            for _s, _e, out in clock]
    ctx.op_samples.extend(lags)
    ctx.ops_per_s = sum(rows) / (clock[-1][1] - window["start"])
    # the first batch that applies a file of the traced half
    cut = next((k for k, c in enumerate(clock)
                if (c[2].get("max_lsn_seen") or 0) > max_lsn[half - 1]), len(clock))
    # a traced run reports the loop's figures from its untraced half
    nb, nf = (cut, half) if ctx.trace and cut else (len(clock), len(due))
    part = clock[:nb]
    half_lags = [clock[b][1] - at for b, at in zip(batch_of[:nf], due) if b is not None]
    epoch_s = [e - s for s, e, _o in part]
    reads = {"point": [], "changelog": [], "scan": []}
    for traced, _fqn, got in read_sets:
        for kind, s, _res in got:
            if not traced:
                reads[kind].append(s)
            if not ctx.trace:
                ctx.read_samples.append(s)
    ctx.detail.update({
        "backlog_end": len(due) - applied_by_end,
        "loadgen.late_s.max": max(late),
        "events_per_s": sum(rows[:nb]) / (part[-1][1] - window["start"]),
        "lag_s.p50": p50(half_lags),
        "lag_s.tail": tail(half_lags)[0],
        "epoch_s.p50": p50(epoch_s),
        "epoch_s.tail": tail(epoch_s)[0],
        "runner.batches": nb,
        "runner.files_per_batch": len(half_lags) / nb,
        "runner.trigger_gap_s": p50([b[0] - a[1] for a, b in zip(part, part[1:])]),
        "point_read_s.p50": p50(reads["point"]),
        "point_read_s.tail": tail(reads["point"])[0],
        "changelog_read_s.p50": p50(reads["changelog"]),
        "scan_s.p50": p50(reads["scan"]),
    })
    ctx.log(f"read; {len(read_sets)} read sets: " + ", ".join(
        f"{kind} {[round(x, 2) for x in v]}" for kind, v in reads.items()))
    _check_point_reads(ctx, _files(feed), [(fqn, got) for _t, fqn, got in read_sets])
    ctx.log("point reads checked")

    overheads = []
    if ctx.trace:
        # input of the traced batches, for lake.write_amp
        ctx.tracer.counts["input_bytes"] = sum(
            size for size, b in zip(sizes, batch_of) if b is not None and b >= cut)
        if 0 < cut < len(clock):  # both halves have batches of their own
            per_row = [sum(e - s for s, e, _o in part) / max(1, sum(r))
                       for part, r in ((clock[:cut], rows[:cut]), (clock[cut:], rows[cut:]))]
            overheads.append(per_row[1] / per_row[0])
        per_read = [[s for t, _f, got in read_sets if t == traced for _k, s, _r in got]
                    for traced in (False, True)]
        if all(per_read):
            overheads.append(p50(per_read[1]) / p50(per_read[0]))

    # correctness: drain anything left, then certify every table (a
    # traced run first runs the maintenance ops on every table: a run
    # is too short for the pipeline's auto-compaction depth to trip)
    if None in batch_of:
        runner.run_available_now()
    if ctx.trace:
        from tap_postgres_spark.lake.grouped import compact_grouped

        ctx.tracer.enabled = True
        with ctx.tracer.span("lake.compact"):
            done = compact_grouped(ctx.spark, tables)  # the multi-stream tiered pass
        ctx.tracer.add("lake.compact_calls", sum(not r.get("skipped") for r in done.values()))
        for t in tables.values():
            t.expire_versions(keep_last=TAIL_KEEP_VERSIONS)
            t.vacuum(min_age_seconds=0)
        ctx.tracer.enabled = False
    stored = _certify(ctx, tables, duckdb_certificates(_files(feed)), "tail")
    ctx.log("tables certified")
    if ctx.trace:
        ctx.detail["trace.overhead_ratio"] = p50(overheads)
        ctx.detail["stored_bytes_per_live_byte"] = stored
        _probe_decode_fold(ctx, _files(feed), tables[ctx.fqns[0]])
        _probe_txn(ctx)


TXN_PROBE_EPOCHS = 2


def _probe_txn(ctx) -> None:
    """modes.txn probe (traced runs): a feed of the same 8 tables with
    transaction markers, cut mid-transaction into epochs, applied
    through a ``txn_boundary_dir`` pipeline into scratch tables.  The
    first epoch warms the path; the second is traced on a tracer of
    its own, so the tailed epochs' figures stay apart.  The final
    state is certified like the tailed tables'."""
    w = ctx.work
    feed = os.path.join(w, "txn-feed")
    # one file more than the epochs apply: the feed's last file commits
    # every open transaction, so the traced epoch must not end on it
    _gen(ctx, feed, n_events=(TXN_PROBE_EPOCHS * 2 + 1) * TAIL_FILE_EVENTS,
         n_keys=TAIL_KEYS, n_files=TXN_PROBE_EPOCHS * 2 + 1, seed=ctx.seed + 11,
         tables=TAIL_TABLES, txn_markers=True)
    files = _files(feed)[:TXN_PROBE_EPOCHS * 2]
    tracer = Tracer(ctx.tracer.run_id + "-txn", enabled=False)
    probe = types.SimpleNamespace(spark=ctx.spark, tracer=tracer)
    probe.Pipeline, probe.Table, probe.State = engine_classes(tracer)
    tables = _create_tables(probe, os.path.join(w, "txn-lake"), TAIL_TABLES, TAIL_BUCKETS)
    pipe = _pipeline(probe, probe.Pipeline, tables, os.path.join(w, "state-txn.json"),
                     txn_boundary_dir=os.path.join(w, "txn-pending"))
    walls = []
    for i in range(TXN_PROBE_EPOCHS):
        tracer.enabled = i > 0
        t0 = time.perf_counter()
        pipe.apply_batch(_read(ctx, files[2 * i:2 * i + 2]), epoch_id=f"txn-{i}")
        walls.append(time.perf_counter() - t0)
    c = tracer.counts
    ctx.detail.update({
        "txn.epoch_s": p50(walls[1:]),
        "txn.deferred_rows": c["txn.deferred_rows"] / c["epochs"],
        "txn.pending_bytes": c["txn.pending_bytes"] / c["epochs"],
    })
    _certify(ctx, tables, duckdb_certificates(txn_groups=[files]), "txn probe")


def _hot_keys(rng, table_index: int) -> list[tuple[str, str]]:
    """Zipf-hot keys of one tail table, drawn the way feedgen draws its
    key ids (a key belongs to table ``key_id % len(TAIL_TABLES)``)."""
    n_tables = len(TAIL_TABLES)
    raw = rng.zipf(1.1, size=TAIL_KEYS_PER_READ * n_tables * 8)
    ids = ((raw - 1) * 2654435761 % TAIL_KEYS).tolist()
    mine = [k for k in dict.fromkeys(ids) if k % n_tables == table_index]
    return [(f"org{(k % 97) % 7}/repo{k % 97}", f"src/d{k % 31}/f{k}.py")
            for k in mine[:TAIL_KEYS_PER_READ]]


def _read_set(ctx, table, prev_version: int, keys, points: int = POINT_READS,
              until=lambda: False):
    """One read set; returns (kind, seconds, result) triples.  Point
    reads carry (start, end, keys, rows) for the check; the point reads
    of a set split ``keys`` between them.  The set ends early, between
    two reads, once ``until()`` holds."""
    from pyspark.sql import functions as F

    spark = ctx.spark
    out = []
    for i in range(points):
        if until():
            return out
        ks = keys[i::points] or keys
        kdf = spark.createDataFrame(ks, "repo string, path string")
        with ctx.tracer.span("lake.point_read"):
            t0 = time.perf_counter()
            rows = table.read_keys(kdf).collect()
            t1 = time.perf_counter()
        if ctx.tracer.enabled:
            _count_point(ctx, table, kdf, rows)
        out.append(("point", t1 - t0, (t0, t1, ks, rows)))
    if until():
        return out
    with ctx.tracer.span("lake.changelog_read"):
        t0 = time.perf_counter()
        table.read_changes(prev_version).write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
    if ctx.tracer.enabled:
        ctx.tracer.add("lake.changelog_dirs", _changelog_dirs(table, prev_version))
        ctx.tracer.add("lake.changelog_reads")
    out.append(("changelog", dt, None))
    if until():
        return out
    with ctx.tracer.span("lake.scan"):
        t0 = time.perf_counter()
        table.read(columns=["lang"]).groupBy("lang").agg(F.count("*")).collect()
        dt = time.perf_counter() - t0
    if ctx.tracer.enabled:
        files = _bucket_files(table, None)
        ctx.tracer.add("lake.scan_files", len(files))
        ctx.tracer.add("lake.scan_bytes", sum(os.path.getsize(f) for f in files))
        ctx.tracer.add("lake.scans")
    out.append(("scan", dt, None))
    return out


def _bucket_files(table, buckets) -> list[str]:
    bmap = table.buckets_map()
    sel = None if buckets is None else {str(b) for b in buckets}
    return [os.path.join(d, f)
            for b, dl in bmap.items() if sel is None or b in sel
            for rel in dl
            for d in [os.path.join(table.path, rel)]
            for f in os.listdir(d) if f.endswith(".parquet")]


def _count_point(ctx, table, kdf, rows) -> None:
    buckets = table.buckets_for_keys(kdf)
    ctx.tracer.add("lake.point_reads")
    ctx.tracer.add("lake.point_buckets", len(buckets))
    ctx.tracer.add("lake.point_files", len(_bucket_files(table, buckets)))
    ctx.tracer.add("lake.point_rows", len(rows))


def _changelog_dirs(table, from_version: int) -> int:
    n, v = 0, table.current_version()
    while v is not None and v > from_version:
        m = table.metadata(v)
        if m["summary"].get("operation", "").startswith("merge-mor"):
            n += sum(len(dl) for dl in m["summary"]["lineage"].values())
        v = m["parent"]
    return n


def _check_point_reads(ctx, files: list[str], sets) -> None:
    """Each point read's rows must equal the rows of its keys in a state
    the table had while the read ran, computed independently by DuckDB
    from the feed files.  Writes commit beside the reads, so the states
    that qualify are the one after the last batch that returned before
    the read started and the one after each batch that overlapped it;
    the state after a batch is the LWW fold of every event at or below
    its ``max_lsn_seen``.  ``sets`` holds (fqn, read set) pairs.  The
    compared columns are those of the certificate: key, commit,
    content."""
    clock = ctx.clock
    reads = [(fqn.split(".", 1)[1], res) for fqn, got in sets
             for _k, _s, res in got if res is not None]
    if not reads:
        return
    probes, candidates = [], []  # candidates[read] = the probe ids of its states
    for tbl, (t0, t1, ks, _rows) in reads:
        # -1: no batch returned before the read started (empty table)
        before = [out.get("max_lsn_seen") or -1 for _s, e, out in clock if e < t0][-1:] or [-1]
        during = [out.get("max_lsn_seen") or -1 for s, e, out in clock if s <= t1 and e >= t0]
        ids = []
        for upto in sorted(set(before + during)):
            ids.append(len(ids) + sum(map(len, candidates)))
            probes += [(ids[-1], upto, tbl, repo, path) for repo, path in ks]
        candidates.append(ids)
    states = duckdb_point_states(files, probes)
    for (tbl, (_t0, _t1, ks, rows)), ids in zip(reads, candidates):
        mine = sorted((r["repo"], r["path"], r["commit"], r["content"]) for r in rows)
        _check(ctx, any(sorted(states[i]) == mine for i in ids),
               f"point read {tbl} keys {ks[:2]}...")


# ------------------------------------------------------------- query_sweep

# a fixed subset of __spark_entry__.queries(), grouped by the operator
# module they call; it holds the four HUGEINT-oracle queries
# (sessionize, token_entropy, mixture_weights, window_rollup).  Enough
# of them that both percentiles of each pass come from a dense pool of
# samples rather than from one query.
QUERIES = (
    # pipelineops
    "sessionize", "token_entropy", "mixture_weights", "window_rollup",
    "stratified_sample", "pii_redact", "vocab_top", "chunk_documents",
    "dedup_against_corpus", "repetition_stats",
    # textops
    "token_count", "lang_id", "minhash_signature", "chargram_sketch", "simhash",
    # vectorops
    "lsh_bucket_topk", "ivf_topk", "knn_join", "cosine_topk",
    # multimodal
    "multimodal_wav_decode",
    # stream_maps, the lake and relational operators
    "stream_map_events", "singer_records", "topk_per_group", "q1_pricing",
    "order_monitor", "lww_latest",
)
# run in traced runs only, after the warm passes: curate_corpus alone
# takes ~8 s first and ~5 s warm, a fifth of an untimed run's budget
TRACED_ONLY_QUERIES = ("curate_corpus",)
# set-up runs these first: one-time costs (JIT of the engine, the first
# import of each operator module in the Python workers) would otherwise
# land on whichever measured query touches them first
WARMUP_QUERIES = (
    "full_table_scan", "event_cube", "dedup_exact", "quality_logit",
    "minhash_lsh_oversized", "ann_quantized", "multimodal_png_decode",
)


def query_sweep(ctx) -> None:
    """For each query in ``QUERIES``, in a session prewarmed during
    set-up: its first run (noop sink), then at once a warm run that
    collects the rows, timed as what a repeat reader pays.  Interleaved,
    both pools of samples span the whole pass.  Further warm passes
    follow only while one would end within ``--seconds`` of the pass's
    start, judged by the last pass's wall.  The oracle gate checks
    every collected result after the timer stops.  The data is the
    fixed seed-42 testdata at sf0.01 committed under ``perfbench/data``;
    ``--seed`` does not apply."""
    import duckdb

    import __spark_entry__ as entry
    from tools.verify_oracles import TABLES

    data = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
    fns, oracles = entry.queries(), entry.oracle_sql()
    sc = ctx.spark.sparkContext
    plan, execs = {}, {}

    def run(name: str, traced: bool, group: bool = False) -> float:
        """One noop-sink run.  Traced, planning (``QueryPlanningTracker``)
        is split from execution; with ``group`` it runs under a job group
        of the query, which the event-log fold counts."""
        if group:
            sc.setJobGroup(f"perfbench:{ctx.tracer.run_id}:q:{name}", name, False)
        with ctx.tracer.span("queries.run"):
            t0 = time.perf_counter()
            df = fns[name](ctx.spark, data)
            if traced:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                plan[name] = _planning_s(qe)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
        if group:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if traced:
            execs[name] = t2 - t1
        return t2 - t0

    ctx.setup(lambda: None, lambda: [run(name, False) for name in WARMUP_QUERIES])
    def collect(name: str):
        """One warm run that collects the rows: (seconds, frame, rows)."""
        with ctx.tracer.span("queries.collect"):
            t0 = time.perf_counter()
            df = fns[name](ctx.spark, data)
            rows = [tuple(r) for r in df.collect()]
            return time.perf_counter() - t0, df, rows

    t_start = time.perf_counter()
    first, warm = {}, {}
    for name in QUERIES:
        ctx.tracer.enabled = ctx.trace
        first[name] = run(name, ctx.trace, group=ctx.trace)
        ctx.tracer.enabled = False
        warm[name] = collect(name)
    ctx.op_samples.extend(first.values())
    ctx.ops_per_s = len(first) / sum(first.values())

    # more warm passes; a traced run traces every other one, and the
    # ratio of the traced passes' walls to the untraced ones' is the
    # overhead
    passes, pass_s = [(False, warm)], sum(s for s, _df, _r in warm.values())
    while time.perf_counter() - t_start + pass_s <= ctx.seconds or (
            ctx.trace and len(passes) < 2):
        traced = ctx.trace and len(passes) % 2 == 1
        ctx.tracer.enabled = traced
        t0 = time.perf_counter()
        passes.append((traced, {name: collect(name) for name in QUERIES}))
        pass_s = time.perf_counter() - t0
    ctx.tracer.enabled = False
    for traced, warm in passes:
        if not traced:
            ctx.read_samples.extend(s for s, _df, _rows in warm.values())
    ctx.log(f"{len(passes)} warm passes; first, warm s: " + ", ".join(
        f"{n} {first[n]:.2f} {passes[0][1][n][0]:.2f}" for n in QUERIES))

    # the traced run's extra queries: a first run, then collected rows
    # for the oracle gate
    extra = {}
    for name in TRACED_ONLY_QUERIES if ctx.trace else ():
        ctx.detail[f"query.{name}.first_s"] = run(name, False)
        extra[name] = collect(name)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    type_diffs = 0
    for name in QUERIES + tuple(extra):
        for i, warm in enumerate([w for _t, w in passes] if name in QUERIES else [extra]):
            _s, df, rows = warm[name]
            ok, diffs = oracle_diff(con, oracles[name], df.columns, rows,
                                    [f.dataType.simpleString() for f in df.schema.fields])
            _check(ctx, ok, f"oracle {name} (warm pass {i + 1})")
        if diffs:
            type_diffs += 1
            ctx.log(f"oracle type difference: {name}: {'; '.join(diffs)}")
    con.close()

    ctx.detail.update({
        "query_sweep_s": sum(first.values()),
        "queries.first_s": sum(first.values()),
        "queries.warm_s": p50([sum(s for s, _df, _r in warm.values())
                               for traced, warm in passes if not traced]),
        "queries.type_mismatches": type_diffs,
        **{f"query.{n}.first_s": s for n, s in first.items()},
    })
    if ctx.trace:
        ctx.detail["queries.plan_s"] = sum(plan.values())
        ctx.detail["queries.exec_s"] = sum(execs.values())
        # a first run cannot be repeated in one process: the overhead
        # ratio compares the warm passes, traced over untraced
        walls = {t: [sum(s for s, _df, _r in warm.values()) for tr, warm in passes if tr == t]
                 for t in (False, True)}
        ctx.detail["trace.overhead_ratio"] = p50(walls[True]) / p50(walls[False])


def _planning_s(qe) -> float:
    """Analysis + optimization + planning seconds from Spark's
    ``QueryPlanningTracker`` (read over py4j)."""
    phases = qe.tracker().phases()
    total = 0.0
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        if opt.isDefined():
            total += opt.get().durationMs() / 1000.0
    return total


# workloads that start Python workers; the others skip the session's
# Python worker-pool prewarm, which they would never use
PYTHON_WORKERS = {"query_sweep"}

WORKLOADS: dict[str, Any] = {
    "tail_8stream": tail_8stream,
    "query_sweep": query_sweep,
}
