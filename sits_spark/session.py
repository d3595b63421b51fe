"""SparkSession factory with the engine's standard configuration.

Local mode in the sandbox; on a real cluster the same builder is driven by
spark-submit conf. Session timezone is pinned to UTC so timestamp math is
deterministic, Arrow transfer is on (all UDFs are pandas/Arrow batched —
/root/repo/BASELINE.json input_hint mandates no per-row Python), and AQE
is enabled for runtime coalescing + skew-join handling (SURVEY.md §4).

Two driver-side fixed costs are cut once per session:

- ``read_parquet`` memoises the schema Spark inferred for a parquet input.
  A bare ``spark.read.parquet`` runs a schema-inference job on every call;
  the memo lets every later read of the same files pass ``.schema(...)``
  and launch no job. It keeps one entry per path, tagged with the
  application id and a hash of the files' names, sizes and mtimes; a new
  session or a rewritten file infers again and replaces the entry.
- ``spark.python.sql.dataFrameDebugging.enabled`` is off. When on, every
  ``functions.*``/``Column`` call captures its Python call site and pushes
  it to the JVM (a conf read, a stack walk and a set/clear: 13 py4j round
  trips for one ``F.col``). Errors still raise the same exceptions
  (``AnalysisException`` for a missing column); they lose only the Python
  file:line in the JVM's "DataFrame query context".

On the worker side, ``spark.python.daemon.module`` names
``sits_spark.worker_daemon``, which cuts a fixed cost of every Python UDF
task: PySpark's per-task import-cache reset no longer re-reads the zip
directories of Spark's own archives (~0.2 s per task).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .manifest import input_listing

# absolute path -> (application id, input identity, inferred schema). One
# entry per path, overwritten on a miss, so stale sessions and rewritten
# files leave nothing behind; two threads missing at once only infer twice.
_READ_SCHEMAS: dict[str, tuple[str, str, StructType]] = {}


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
        # no per-Column call-site capture (see the module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
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


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per
    (session, path, input identity) and reads with ``.schema(...)`` after.

    The identity is a hash of ``manifest.input_listing`` (the files'
    names, sizes and mtimes), so a rewritten file infers again. Errors of
    the first read (e.g. ``UNABLE_TO_INFER_SCHEMA``) propagate and
    memoise nothing."""
    listing = input_listing(path)
    if not listing:  # nothing local to stat (e.g. a remote URI): no memo
        return spark.read.parquet(path)
    tag = (
        spark.sparkContext.applicationId,
        hashlib.md5(repr(listing).encode()).hexdigest(),
    )
    key = os.path.abspath(path)
    hit = _READ_SCHEMAS.get(key)
    if hit is not None and hit[:2] == tag:
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _READ_SCHEMAS[key] = (*tag, df.schema)
    return df
