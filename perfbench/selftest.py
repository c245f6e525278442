"""Self-test of the benchmark harness, at tiny scale.

    python3 perfbench/selftest.py [--quick]

1. Pure-Python checks of the percentile and self-time arithmetic.
2. A corrupted result is counted as a failure: a tiny feed is
   replayed into a lake table; a point read of some of its keys passes
   the point-read gate, and the same rows with one value changed fail
   it; the certificate gate passes, then one data file of the table is
   deleted and the same gate must fail.
3. Unless ``--quick``: ``run.py`` is run for one second per workload,
   untraced and traced, and every metric named in ``BENCHMARK.json`` must
   be printed with its unit (end-to-end values must be non-zero).

Runs one Spark JVM at a time.  Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

from harness import Tracer, tail, write_side_s  # noqa: E402


def check_arithmetic() -> None:
    assert tail([1.0] * 5) == (1.0, 100.0, 5)
    v, pct, n = tail([float(i) for i in range(100)])
    assert (v, pct, n) == (89.0, 90.0, 100), (v, pct, n)
    t = Tracer("selftest")
    t.spans = [
        {"id": 0, "name": "a", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "b", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "b", "start": 3.0, "end": 6.0, "parent": 0},
    ]
    assert t.total("b") == 6.0
    assert t.self_time("a") == 5.0  # children cover 1..6 once
    # an epoch: a fused write job (1..4) and a compaction write (6..8)
    # from the event log around a commit span (4..5)
    t = Tracer("selftest")
    apply = {"id": 0, "name": "log_based.apply", "start": 0.0, "end": 10.0, "parent": None}
    t.spans = [apply,
               {"id": 1, "name": "lake.commit", "start": 4.0, "end": 5.0, "parent": 0}]
    t.epochs = {"g": apply}
    ev = {"writes_by_group": {"g": [(t.wall0 + 1.0, t.wall0 + 4.0),
                                    (t.wall0 + 6.0, t.wall0 + 8.0)]}}
    merge, compact = write_side_s(t, ev)
    assert (round(merge, 6), round(compact, 6)) == (4.0, 2.0), (merge, compact)
    assert round(t.self_time("log_based.apply"), 6) == 4.0
    print("ok   arithmetic")


def check_corruption_counted() -> None:
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    from run import _env

    os.environ.update(_env(work, trace=False, python_workers=False))
    sys.path.insert(0, ROOT)
    from checks import duckdb_certificates
    from harness import engine_classes
    from tap_postgres_spark.feedgen import generate_bulk_feed
    from tap_postgres_spark.session import get_spark
    from workloads import (
        _certify, _check_point_reads, _create_tables, _files, _pipeline, _read,
    )

    class Ctx:
        attempted = failed = 0
        tracer = Tracer("selftest", enabled=False)
        clock: list = []

        @staticmethod
        def log(msg):
            print(f"     {msg}")

    ctx = Ctx()
    ctx.Pipeline, ctx.Table, ctx.State = engine_classes(ctx.tracer, ctx.clock)
    ctx.spark = get_spark("perfbench-selftest")
    try:
        feed = os.path.join(work, "feed")
        generate_bulk_feed(feed, n_events=2_000, n_keys=300, n_files=4, seed=5)
        tables = _create_tables(ctx, os.path.join(work, "lake"), ["source_code_repos"], 4)
        pipe = _pipeline(ctx, ctx.Pipeline, tables, os.path.join(work, "state.json"))
        pipe.apply_batch(_read(ctx, _files(feed)), epoch_id="selftest")
        table = tables["public.source_code_repos"]
        keys = [(r["repo"], r["path"]) for r in table.read().limit(3).collect()]
        t0 = time.perf_counter()
        rows = table.read_keys(ctx.spark.createDataFrame(keys, "repo string, path string")
                               ).collect()
        t1 = time.perf_counter()
        bad = [dict(r.asDict(), content="corrupted") if i == 0 else r.asDict()
               for i, r in enumerate(rows)]
        for got, fails in ((rows, 0), (bad, 1)):
            _check_point_reads(ctx, _files(feed), [(
                "public.source_code_repos", [("point", t1 - t0, (t0, t1, keys, got))])])
            assert ctx.failed == fails, f"point read gate: {ctx.failed} failed, want {fails}"
        ctx.attempted = ctx.failed = 0
        expected = duckdb_certificates(_files(feed))
        _certify(ctx, tables, expected, "intact")
        assert (ctx.attempted, ctx.failed) == (1, 0), "intact table must pass"
        data = [os.path.join(d, f)
                for d, _s, fs in os.walk(os.path.join(table.path, "data"))
                for f in fs if f.endswith(".parquet")]
        os.remove(sorted(data)[0])
        _certify(ctx, tables, expected, "corrupted")
        assert (ctx.attempted, ctx.failed) == (2, 1), "corruption must count as a failure"
    finally:
        ctx.spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print("ok   corrupted point read and final state counted as failed")


def check_metrics_printed() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = subprocess.run(
                [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload",
                 w["name"], "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=300,
            )
            assert out.returncode == 0, out.stderr[-2000:]
            res = json.loads(out.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] is True and res["failed"] == 0, res
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = res["metrics"]
            assert set(got) == set(want), set(got) ^ set(want)
            for name, m in got.items():
                assert m["unit"] == want[name], (name, m)
                assert isinstance(m["value"], float) and math.isfinite(m["value"]), (name, m)
                assert trace or m["value"] > 0, (w["name"], name, m)
            print(f"ok   {w['name']} --trace {trace}: {len(got)} metrics with units")


def main() -> int:
    check_arithmetic()
    if "--quick" not in sys.argv:
        check_metrics_printed()
    check_corruption_counted()
    return 0


if __name__ == "__main__":
    sys.exit(main())
