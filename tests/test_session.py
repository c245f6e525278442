"""Session defaults fit the host they run on, and its Python workers
import PySpark from the installed package, not from Spark's archives."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from tap_postgres_spark.daemon import is_spark_archive, worker_path
from tap_postgres_spark.session import _default_driver_memory, _master

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="needs procfs")
def test_default_driver_heap_is_a_quarter_of_host_memory():
    with open("/proc/meminfo") as f:
        total_mb = next(
            int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:")
        )
    heap = _default_driver_memory()
    assert heap.endswith("m")
    assert int(heap[:-1]) == max(1024, min(4096, total_mb // 4))


@pytest.mark.skipif(not hasattr(os, "sched_getaffinity"), reason="needs affinity")
def test_default_master_uses_this_process_cpus(monkeypatch):
    """With ``SPARK_GRAFT_CPUS`` unset the session runs ``local[N]`` on
    the N CPUs this process may use, and a ``local[N]`` master string
    is sized as N cores (the shuffle-partition rule's input)."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(12)))
    assert _master(None) == ("local[12]", 12)
    assert _master("*") == ("local[*]", 12)
    assert _master("local[*]") == ("local[*]", 12)
    assert _master(16) == ("local[16]", 16)
    assert _master("local[4]") == ("local[4]", 4)
    assert _master("local[6,2]") == ("local[6,2]", 6)
    assert _master("local") == ("local", 1)
    assert _master("spark://host:7077") == ("spark://host:7077", 32)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _master(None) == ("local[3]", 3)


SPARK_PATH = [
    "/work",
    "/spark/python/lib/pyspark.zip",
    "/spark/python/lib/py4j-0.10.9.9-src.zip",
    "/spark/jars/spark-core_2.13-4.1.2.jar",
    "/tmp/userFiles/deps.zip",
    "/usr/lib/python3.11/site-packages",
]


@pytest.mark.parametrize(
    "installed, archive, py4j, dropped",
    [
        ("4.1.2", "4.1.2", True, True),  # versions match: archives go
        ("4.0.0", "4.1.2", True, False),  # mismatch: unchanged
        (None, "4.1.2", True, False),  # no installed pyspark: unchanged
        ("4.1.2", "4.1.2", False, False),  # no installed py4j: unchanged
    ],
)
def test_worker_path_rule(installed, archive, py4j, dropped):
    got = worker_path(SPARK_PATH, installed, archive, py4j)
    if dropped:
        # user --py-files zips stay
        assert got == ["/work", "/tmp/userFiles/deps.zip",
                       "/usr/lib/python3.11/site-packages"]
    else:
        assert got == SPARK_PATH
    assert [p for p in SPARK_PATH if is_spark_archive(p)] == SPARK_PATH[1:4]


def test_python_workers_import_the_installed_pyspark(spark):
    """No Python task imports PySpark from Spark's zip, and no worker
    keeps an importer over a Spark archive (each would re-read its
    archive on every task's ``importlib.invalidate_caches()``)."""
    def worker_imports(_):
        import sys
        import zipimport

        import pyspark

        yield (
            pyspark.__file__,
            [v.archive for v in list(sys.path_importer_cache.values())
             if isinstance(v, zipimport.zipimporter)],
        )

    sc = spark.sparkContext
    for pyspark_file, archives in sc.parallelize(range(4), 4).mapPartitions(
        worker_imports
    ).collect():
        assert os.path.isfile(pyspark_file), pyspark_file
        assert not [a for a in archives if is_spark_archive(a)], archives


def test_python_workers_start_from_a_foreign_cwd(tmp_path):
    """A session built from outside the checkout, with no PYTHONPATH,
    still starts its Python workers (the daemon module is imported
    from the package's parent directory)."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from tap_postgres_spark.session import get_spark

        spark = get_spark("foreign-cwd", cores=2, shuffle_partitions=2)
        assert spark.createDataFrame([(1,)], "x long").collect()[0].x == 1

        def plus_one(batches):
            for b in batches:
                yield b + 1

        got = spark.range(3).mapInPandas(plus_one, "id long").collect()
        assert sorted(r.id for r in got) == [1, 2, 3]
        print("OK")
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_GRAFT_CONF")}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "OK"
