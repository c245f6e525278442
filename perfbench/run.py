"""The repo benchmark: one workload per invocation, one JSON line out.

    python3 perfbench/run.py --workload tail_8stream --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the ``end_to_end`` entries of ``BENCHMARK.json``, with
``--trace 1`` the ``per_layer`` entries.  Everything the run writes
lives under ``.perfbench_work/`` (removed at exit) and, for traced runs,
the span dump under ``.perfbench_out/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

from harness import (  # noqa: E402
    RssSampler, Tracer, engine_classes, fold_event_log, host_settings, host_speed_s,
    p50, tail, write_side_s,
)

SETUP_REPS = 3
T_START = time.perf_counter()


class Ctx:
    """Everything one run shares between the harness and a workload."""

    def __init__(self, args, work: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=False)
        self.clock: list = []
        self.Pipeline, self.Table, self.State = engine_classes(self.tracer, self.clock)
        self.spark = None
        self.session_s = 0.0
        self.setup_s = 0.0
        self.gen_s = 0.0
        self.feedgen_s: list[float] = []
        self.ops_per_s = 0.0
        self.op_samples: list[float] = []
        self.read_samples: list[float] = []
        self.detail: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.fqns: list[str] = []

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - T_START:6.1f}] {msg}", flush=True)

    def setup(self, build, warm) -> None:
        """Set-up time = session start + one warm-up + the median of
        ``SETUP_REPS`` builds of the workload's inputs (the last build
        is the one measured).  ``gen_s`` is the builds' median feed
        generation time."""
        reps, gens = [], []

        def timed_build():
            n = len(self.feedgen_s)
            t0 = time.perf_counter()
            build()
            reps.append(time.perf_counter() - t0)
            gens.append(sum(self.feedgen_s[n:]))

        timed_build()
        t0 = time.perf_counter()
        warm()
        warm_s = time.perf_counter() - t0
        for _ in range(SETUP_REPS - 1):
            timed_build()
        self.gen_s = statistics.median(gens)
        self.setup_s = self.session_s + warm_s + statistics.median(reps)
        self.clock.clear()
        self.log(f"set-up: session {self.session_s:.2f} s, warm-up {warm_s:.2f} s, "
                 f"builds {', '.join(f'{r:.2f}' for r in reps)} s")


def _env(work: str, trace: bool, python_workers: bool) -> dict[str, str]:
    env = host_settings(work)
    conf = [
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # a fixed young generation: G1's adaptive young sizing otherwise
        # moves the driver JVM's peak RSS by +-30% between identical runs.
        # No hsperfdata file: it would be written to /tmp.
        "spark.driver.extraJavaOptions=-Xmn512m -XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
            "spark.eventLog.compress=false",
        ]
    env.update({
        "SPARK_GRAFT_CONF": ";".join(conf),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_PREWARM_PYTHON": "1" if python_workers else "0",
    })
    return env


def _start_spark(ctx) -> None:
    from tap_postgres_spark.session import get_spark

    t0 = time.perf_counter()
    ctx.spark = get_spark(f"perfbench-{ctx.workload}")
    ctx.session_s = time.perf_counter() - t0


def _stop_spark(ctx) -> None:
    """Stop the context, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    ctx.spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)


def _per_layer(ctx, ev: dict) -> dict[str, float]:
    t, c = ctx.tracer, ctx.tracer.counts
    epochs = max(1.0, c["epochs"])
    per = lambda k, d: c[k] / max(1.0, c[d])  # noqa: E731
    gaps = [rec["end"] - rec["start"] - ev["busy_by_group"].get(g, 0.0)
            for g, rec in t.epochs.items()]
    merge_s, compact_s = write_side_s(t, ev)
    out = {
        "session.start_s": ctx.session_s,
        "feedgen.gen_s": ctx.gen_s,
        "log_based.apply_s": t.total("log_based.apply") / epochs,
        "log_based.self_s": t.self_time("log_based.apply") / epochs,
        "log_based.spark_jobs_per_epoch": c["spark_jobs"] / epochs,
        "log_based.driver_gap_s": sum(gaps) / epochs,
        "lake.merge_s": merge_s / epochs,
        "lake.commit_s": t.total("lake.commit") / epochs,
        "lake.merge_calls": c["lake.merge_calls"],
        "lake.rows_written": c["lake.rows_written"],
        "lake.bytes_written": c["lake.bytes_written"],
        "lake.write_amp": c["lake.bytes_written"] / max(1.0, c["input_bytes"]),
        "lake.compact_s": compact_s / epochs,
        "lake.compact_calls": c["lake.compact_calls"],
        "lake.retention_s": t.total("lake.retention") / epochs,
        "lake.delta_depth.max": c["lake.delta_depth.max"],
        "lake.versions_per_epoch": c["lake.versions"] / epochs,
        "lake.point_buckets": per("lake.point_buckets", "lake.point_reads"),
        "lake.point_files": per("lake.point_files", "lake.point_reads"),
        "lake.point_rows": per("lake.point_rows", "lake.point_reads"),
        "lake.scan_files": per("lake.scan_files", "lake.scans"),
        "lake.scan_bytes": per("lake.scan_bytes", "lake.scans"),
        "lake.changelog_dirs": per("lake.changelog_dirs", "lake.changelog_reads"),
        "state.flush_s": t.total("state.flush") / epochs,
        "spark.task_s": ev["task_s"] / epochs,
        "spark.gc_s": ev["gc_s"] / epochs,
        "spark.shuffle_write_bytes": ev["shuffle_write_bytes"] / epochs,
        "failed_ratio": ctx.failed / max(1, ctx.attempted),
    }
    out.update(ctx.detail)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in ("tap_postgres_spark", "__spark_entry__.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    with open(spec_path) as f:
        spec = json.load(f)
    from workloads import PYTHON_WORKERS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "eventlog"))
    env = _env(work, bool(args.trace), args.workload in PYTHON_WORKERS)
    os.environ.update(env)
    sys.path.insert(0, ROOT)
    ctx = Ctx(args, work)
    speed = [host_speed_s()]
    rss = RssSampler()
    try:
        _start_spark(ctx)
        try:
            WORKLOADS[args.workload](ctx)
        finally:
            peak_mb = rss.stop()
            if ctx.trace:
                ctx.tracer.write(os.path.join(
                    ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-spans.jsonl"))
            _stop_spark(ctx)
        ev = (fold_event_log(os.path.join(work, "eventlog"), f"perfbench:{ctx.tracer.run_id}:")
              if ctx.trace else {})
    finally:
        shutil.rmtree(work, ignore_errors=True)

    speed.append(host_speed_s())
    op_tail, op_pct, op_n = tail(ctx.op_samples)
    read_tail, read_pct, read_n = tail(ctx.read_samples)
    e2e = {
        "setup_s": ctx.setup_s,
        "ops_per_s": ctx.ops_per_s,
        "op_s.p50": p50(ctx.op_samples),
        "op_s.tail": op_tail,
        "read_s.p50": p50(ctx.read_samples),
        "read_s.tail": read_tail,
        "peak_rss_mb": peak_mb,
    }
    ctx.log(f"host: {env['SPARK_GRAFT_CPUS']} cores, driver heap "
            f"{env['SPARK_DRIVER_MEMORY']}; op_s.tail = p{op_pct:.1f} of {op_n}, "
            f"read_s.tail = p{read_pct:.1f} of {read_n} samples; host-speed probe "
            f"{speed[0]:.3f} s at start, {speed[1]:.3f} s at end; "
            f"wall {time.perf_counter() - T_START:.1f} s")
    if args.trace:
        values, names = _per_layer(ctx, ev), spec["per_layer"]
    else:
        values, names = e2e, spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    print(json.dumps({
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
