"""SparkSession factory with the engine's standard configuration.

Local mode in the sandbox; on a real cluster the same builder is driven by
spark-submit conf. Session timezone is pinned to UTC so timestamp math is
deterministic, Arrow transfer is on (all UDFs are pandas/Arrow batched —
/root/repo/BASELINE.json input_hint mandates no per-row Python), and AQE
is enabled for runtime coalescing + skew-join handling (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _tune_malloc() -> None:
    """Keep glibc from returning pages to the OS.

    This VM's host reclaims freed guest pages (balloon/free-page
    reporting), so re-faulting a released page costs ~1 ms/MB — fresh
    numpy buffers in the Arrow workers would run 100x slower than warm
    ones, with huge run-to-run variance. Raising the mmap/trim thresholds
    makes glibc serve large buffers from a reused (warm) arena. Set in
    the driver environment BEFORE the JVM starts so pyspark.daemon and
    every forked worker inherit it."""
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(256 * 1024 * 1024))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(256 * 1024 * 1024))
    # pyarrow's bundled jemalloc returns dirty pages to the OS on decay,
    # defeating the warm-arena strategy above — every Arrow batch cycle
    # re-faults its buffers (serialized on this host; measured as a
    # 60-90% sys-time fault storm during kernel stages). The 'system'
    # backend routes Arrow allocations through the tuned glibc malloc,
    # which keeps them resident. Must be set before any worker imports
    # pyarrow — workers inherit this via the daemon environment.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")


def _driver_java_options() -> str:
    """JVM flags for the local-mode driver (= the executor JVM here).

    With SPARK_GRAFT_PRETOUCH=1, commit and pre-fault the whole heap at
    JVM startup (-Xms = -Xmx + AlwaysPreTouch). On this sandbox's host,
    faulting fresh guest pages is a globally SERIALIZED resource
    (~1.4 GB/s total regardless of core count — measured), so lazy heap
    growth during the run is a serial-fraction tax that caps multi-core
    scaling; pre-touching moves that cost to session startup, exactly as a
    production cluster pays it once at executor launch. Off by default
    (adds seconds to startup); the benchmark harness turns it on."""
    opts = ["-XX:+UseG1GC"]
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "0") == "1":
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        opts += [f"-Xms{mem}", "-XX:+AlwaysPreTouch"]
    return " ".join(opts)


def get_spark(
    master: str | None = None,
    app_name: str = "sits-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    _tune_malloc()
    # make the engine importable in the worker daemon (launched by the JVM
    # with `python -m`, so it sees PYTHONPATH, not the driver's sys.path)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{pp}" if pp else repo_root
        )
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.driver.extraJavaOptions", _driver_java_options())
        # pre-warmed fork server: workers inherit numpy/pyarrow/engine
        # modules as CoW pages instead of importing per worker
        .config("spark.python.daemon.module", "sits_spark.worker_daemon")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        )
        .config(
            "spark.ui.enabled",
            # UI off by default (bench purity); SPARK_GRAFT_UI=1 enables
            # it for runs that read stage metrics from its REST API
            # (perfbench's traced runs)
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
    )
    return builder.getOrCreate()
