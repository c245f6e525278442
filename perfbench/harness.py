"""Measurement plumbing shared by the workloads.

- host-fit Spark settings (cores, driver memory, local dirs) taken from
  the host, passed to the engine only through its existing env hooks;
- the in-memory span tracer and the subclasses that put spans around
  the public calls into ``CdcPipeline``, ``LakeTable`` and
  ``StateStore`` (nothing inside ``tap_postgres_spark`` is patched);
- the Spark event-log fold, peak RSS from ``/proc``, percentiles and a
  host-speed probe.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any

# ---------------------------------------------------------------- host fit


def host_settings(work: str) -> dict[str, str]:
    """Spark settings sized to this host: one local core per usable CPU,
    a driver heap of a quarter of physical memory (1-4 GiB), scratch
    dirs inside the work dir.  Exported through the engine's env hooks
    (``SPARK_GRAFT_CPUS``, ``SPARK_DRIVER_MEMORY``, ``SPARK_LOCAL_DIRS``)."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = 4096
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_mb = int(line.split()[1]) // 1024
    heap_mb = max(1024, min(4096, mem_mb // 4))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    }


# ------------------------------------------------------------------ memory


def _rss_tree_kb(pid: int) -> int:
    """VmRSS of ``pid`` plus every descendant (the driver JVM and the
    Python workers are children of this process)."""
    total = 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    total += int(line.split()[1])
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            kids = [int(k) for k in f.read().split()]
    except OSError:
        return total
    return total + sum(_rss_tree_kb(k) for k in kids)


class RssSampler:
    """Samples the process tree's RSS every 100 ms on a daemon thread
    and keeps the peak (``VmHWM`` would miss the JVM child)."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _rss_tree_kb(os.getpid()))
            self._stop.wait(0.1)

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        self.peak_kb = max(self.peak_kb, _rss_tree_kb(os.getpid()))
        return self.peak_kb / 1024.0


# ------------------------------------------------------------- percentiles


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least 10 samples above it, i.e. the
    11th-largest sample, as (value, percentile, sample count).  Below
    20 samples that percentile would not exceed the median, so the
    maximum (percentile 100) is returned instead."""
    n = len(values)
    if not n:
        return 0.0, 0.0, 0
    s = sorted(values)
    if n < 20:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def host_speed_s() -> float:
    """Seconds a fixed single-thread Python loop takes.  Logged at the
    start and end of every run: the host is shared, and a run whose
    probe is slow ran in a slow phase of the host."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc ^= i * 2654435761
    return time.perf_counter() - t0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


# ------------------------------------------------------------------ tracer


class Tracer:
    """Spans (name, start, end, parent, run id) and counters kept in
    memory; :meth:`write` dumps them once, when the run ends.  A span's
    parent is the innermost open span of the same thread."""

    def __init__(self, run_id: str, enabled: bool = True) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self.counts: dict[str, float] = defaultdict(float)
        # traced epochs by Spark job group: the apply span of each
        self.epochs: dict[str, dict[str, Any]] = {}
        # wall clock minus perf_counter, to place event-log times
        self.wall0 = time.time() - time.perf_counter()
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def add_span(self, name: str, start: float, end: float, parent: dict) -> None:
        """A span measured elsewhere (the event log), times in seconds
        of the wall clock, under ``parent``."""
        self.spans.append({
            "name": name, "start": start - self.wall0, "end": end - self.wall0,
            "parent": parent["id"], "run": self.run_id, "id": len(self.spans),
        })

    def add(self, key: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counts[key] += value

    def closed(self, name: str) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.closed(name))

    def union(self, names: tuple[str, ...], keep=lambda s: True) -> float:
        """Seconds covered by at least one closed span of ``names``."""
        return _union([(s["start"], s["end"]) for s in self.spans
                       if s["name"] in names and s["end"] and keep(s)])

    def self_time(self, name: str) -> float:
        """Sum over ``name`` spans of duration minus the union of their
        direct children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = 0.0
        for s in self.closed(name):
            out += (s["end"] - s["start"]) - _union(kids[s["id"]])
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ------------------------------------------------- traced engine subclasses


def engine_classes(tracer: Tracer, clock: list | None = None):
    """``(Pipeline, Table, State)`` subclasses of the engine's
    ``CdcPipeline``, ``LakeTable`` and ``StateStore``.

    Untraced (``tracer.enabled`` false) they only append, per
    ``apply_batch``, its (start, end, result) to ``clock``: the lag
    measurement of the tailing workload needs that even untraced.
    Traced, each public call becomes a span, every epoch runs under its
    own Spark job group, and write-side counts are collected.  The
    driver-side commit ``_commit_delta`` gets a span too: the fused
    multi-stream write (``lake.grouped``) commits every table through it
    and never calls ``merge_into``."""
    from tap_postgres_spark.lake import LakeTable
    from tap_postgres_spark.modes.log_based import CdcPipeline
    from tap_postgres_spark.state import StateStore

    clock = clock if clock is not None else []

    class Table(LakeTable):
        def merge_into(self, batch, epoch_id=None, **kw):
            with tracer.span("lake.merge"):
                return super().merge_into(batch, epoch_id, **kw)

        def _commit_delta(self, *a, **kw):
            with tracer.span("lake.commit"):
                return super()._commit_delta(*a, **kw)

        def compact(self, *a, **kw):
            with tracer.span("lake.compact"):
                return super().compact(*a, **kw)

        def expire_versions(self, *a, **kw):
            with tracer.span("lake.retention"):
                return super().expire_versions(*a, **kw)

        def vacuum(self, *a, **kw):
            with tracer.span("lake.retention"):
                return super().vacuum(*a, **kw)

    class State(StateStore):
        def flush(self):
            with tracer.span("state.flush"):
                super().flush()

    class Pipeline(CdcPipeline):
        stop_requested = False
        in_batch = False

        def apply_batch(self, raw, epoch_id, batch_time=None):
            if self.stop_requested:
                raise StopTailing(epoch_id)
            self.in_batch = True
            try:
                t0 = time.perf_counter()
                if not tracer.enabled:
                    out = super().apply_batch(raw, epoch_id, batch_time)
                else:
                    out = self._traced(raw, epoch_id, batch_time)
                clock.append((t0, time.perf_counter(), out))
                return out
            finally:
                self.in_batch = False

        def _traced(self, raw, epoch_id, batch_time):
            sc = self.spark.sparkContext
            group = f"perfbench:{tracer.run_id}:{epoch_id}"
            before = {f: t.current_version() for f, t in self.tables.items()}
            sc.setJobGroup(group, "perfbench epoch", False)
            try:
                with tracer.span("log_based.apply") as rec:
                    out = super().apply_batch(raw, epoch_id, batch_time)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            tracer.epochs[group] = rec
            tracer.add("epochs")
            tracer.add("spark_jobs", len(sc.statusTracker().getJobIdsForGroup(group)))
            for fqn, res in out["streams"].items():
                t = self.tables[fqn]
                if not res.get("skipped"):
                    tracer.add("lake.merge_calls")
                    tracer.add("lake.rows_written", res.get("rows_written", 0))
                    for dl in res.get("lineage", {}).values():
                        for d in dl:
                            tracer.add("lake.bytes_written",
                                       dir_bytes(os.path.join(t.path, d)))
                if not (res.get("compaction") or {"skipped": True}).get("skipped"):
                    tracer.add("lake.compact_calls")
                tracer.add("lake.versions", t.current_version() - before[fqn])
                tracer.counts["lake.delta_depth.max"] = max(
                    tracer.counts["lake.delta_depth.max"], t.delta_depth()
                )
            txn = out.get("txn")
            if txn is not None:
                tracer.add("txn.deferred_rows", txn["deferred"])
                if txn["pending_dir"]:
                    tracer.add("txn.pending_bytes", dir_bytes(txn["pending_dir"]))
            return out

    return Pipeline, Table, State


class StopTailing(RuntimeError):
    """Raised from ``apply_batch`` to end a tailing query between
    batches; the batch it refuses stays uncommitted in the checkpoint."""


# ------------------------------------------------------- Spark event log


def fold_event_log(evdir: str, group_prefix: str) -> dict[str, Any]:
    """Fold a JSON event log the way ``tools/profile_replay.py`` does,
    keeping only jobs whose job group starts with ``group_prefix``:
    executor task seconds, GC seconds, shuffle bytes written, the union
    of job intervals per job group (Spark-busy time per epoch) and, per
    job group, the (start, end) wall seconds of its SQL executions that
    write files (``InsertIntoHadoopFsRelationCommand``)."""
    files = []
    for name in sorted(os.listdir(evdir)) if os.path.isdir(evdir) else []:
        p = os.path.join(evdir, name)
        if os.path.isdir(p):
            files += [os.path.join(p, g) for g in sorted(os.listdir(p))
                      if g.startswith("events")]
        elif not name.startswith("."):
            files.append(p)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    busy: dict[str, list[tuple[float, float]]] = defaultdict(list)
    out: dict[str, Any] = {"task_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0.0}
    tasks = []
    writes: dict[str, float] = {}        # write execution id -> start
    exec_end: dict[str, float] = {}
    exec_group: dict[str, str] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event") or ""
                if kind.endswith("SparkListenerSQLExecutionStart"):
                    if "InsertIntoHadoopFsRelationCommand" in ev.get(
                            "physicalPlanDescription", ""):
                        writes[str(ev["executionId"])] = ev["time"] / 1000.0
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    exec_end[str(ev["executionId"])] = ev["time"] / 1000.0
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    if g.startswith(group_prefix):
                        exec_group.setdefault(str(props.get("spark.sql.execution.id")), g)
                        jid = ev["Job ID"]
                        job_group[jid] = g
                        job_start[jid] = ev["Submission Time"] / 1000.0
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        busy[job_group[jid]].append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev.get("Stage ID"), ev.get("Task Metrics") or {}))
    for sid, tm in tasks:
        if sid not in stage_group:
            continue
        out["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
        out["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
        out["shuffle_write_bytes"] += (
            tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        )
    out["busy_by_group"] = {g: _union(iv) for g, iv in busy.items()}
    out["writes_by_group"] = defaultdict(list)
    for eid, start in writes.items():
        if eid in exec_group and eid in exec_end:
            out["writes_by_group"][exec_group[eid]].append((start, exec_end[eid]))
    return out


def write_side_s(tracer: Tracer, ev: dict[str, Any]) -> tuple[float, float]:
    """(merge, compaction) seconds of the traced epochs, from spans.

    Each file-writing SQL execution of an epoch's job group becomes a
    ``spark.write`` span under the epoch.  An epoch merges (one fused
    write job, or ``merge_into`` per stream), commits every table
    (``lake.commit``), then compacts what is due: writes that start
    before its last commit ends are merge work, later ones compaction.
    Merge seconds are the union of ``lake.merge``, ``lake.commit`` and
    the merge writes; compaction seconds that of ``lake.compact`` and
    the compaction writes."""
    for group, rec in tracer.epochs.items():
        for start, end in ev.get("writes_by_group", {}).get(group, []):
            tracer.add_span("spark.write", start, end, rec)
    last_commit: dict[int, float] = {}
    for s in tracer.closed("lake.commit"):
        top = _epoch_of(tracer, s)
        if top is not None:
            last_commit[top] = max(last_commit.get(top, -math.inf), s["end"])

    def merge_write(s) -> bool:
        return s["name"] != "spark.write" or s["start"] < last_commit.get(s["parent"], -math.inf)

    merge = tracer.union(("lake.merge", "lake.commit", "spark.write"), merge_write)
    compact = tracer.union(("lake.compact", "spark.write"),
                           lambda s: s["name"] != "spark.write" or not merge_write(s))
    return merge, compact


def _epoch_of(tracer: Tracer, span: dict[str, Any]) -> int | None:
    """Id of the ``log_based.apply`` span enclosing ``span``, if any."""
    while span["parent"] is not None:
        span = tracer.spans[span["parent"]]
        if span["name"] == "log_based.apply":
            return span["id"]
    return None
