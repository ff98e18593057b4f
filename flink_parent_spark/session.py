"""SparkSession construction with defaults sized to the host.

The reference engine's equivalent is TableEnvironment creation
(flink-table-api-java/.../internal/TableEnvironmentImpl.java); here a session is
just a configured SparkSession — Catalyst/Tungsten replace the blink planner and
runtime wholesale.

Settings rationale (what each does on the one host a session runs on):
- AQE on: runtime re-planning coalesces the small shuffle partitions a
  selective query leaves behind, splits skewed join partitions and demotes
  joins whose build side turned out small to broadcast.
- shuffle.partitions equals the local cores, so every shuffle stage keeps
  each core busy with one task and pays no per-task overhead beyond that.
- UTC session timezone: deterministic timestamp semantics, and matches the
  DuckDB oracle used by the correctness harness.
- Arrow on: every pandas-UDF-backed operator (CEP, temporal join, multimodal)
  moves batches over Arrow instead of pickled rows.
- Up to CODEGEN_CACHE_ENTRIES compiled classes
  (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100). Spark
  compiles each distinct generated source (whole-stage code, projections,
  predicates) once with Janino and keeps the class in an LRU cache keyed by
  that source. One pass of the benchmark's `sql_batch` mix generates about
  270 classes, so the default cache had evicted a request's classes before
  the request came round again: on a 4-core host the timed pass after the
  warm-up recompiled 263-276 classes (about 1.2 s of Janino time) and ran
  each one before the JIT had seen it. With 1 000 entries the same pass
  compiles 0-6. It is a static conf, so only sessions built here get it.
- Python workers fork from `flink_parent_spark.worker_daemon`
  (`spark.python.daemon.module`), pyspark's daemon with one change: the
  `importlib.invalidate_caches()` pyspark's worker makes at the start of every
  task no longer re-reads the central directory of `pyspark.zip` (1 328
  entries) once per zipimporter. That re-read cost a median 282 ms of wall
  time per Python task on a 4-core host, most of a stateful streaming task's
  CPU. The checkout root goes on the workers' PYTHONPATH so the daemon and
  the engine's pickled functions import from any working directory. A foreign
  session (the correctness driver's) keeps pyspark's stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The checkout root, which holds this package; Python workers need it on
# their path to import the daemon module.
_CHECKOUT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Python workers inherit this: silences a pandas-internals FutureWarning
# raised inside pyspark's Arrow serializer on every stateful batch (noise,
# not ours to fix).
os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")

# About 4x the ~270 classes one `sql_batch` pass generates (see above).
CODEGEN_CACHE_ENTRIES = 1000

# Runtime-settable confs that every entry point applies even when handed a
# foreign SparkSession (the correctness driver builds its own session).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet scans: splits of at most 128 MB (Spark's default, pinned so a
    # foreign session reads alike); files this small are split by total
    # size over the cores instead.
    "spark.sql.files.maxPartitionBytes": "134217728",
}


def host_defaults() -> tuple[int, str]:
    """(local cores, driver memory) for this host. `SPARK_GRAFT_CPUS` and
    `SPARK_GRAFT_DRIVER_MEM` override; otherwise the cores this process may
    run on, and an eighth of physical memory clamped to 1-4 GB (the driver
    JVM is also the only executor, and the Python workers need room beside
    it)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus is None:
        try:
            cpus = len(os.sched_getaffinity(0))
        except AttributeError:  # no affinity API on this platform
            cpus = os.cpu_count() or 1
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem is None:
        mem_mb = 8192
        try:
            with open("/proc/meminfo") as fh:
                for line in fh:
                    if line.startswith("MemTotal:"):
                        mem_mb = int(line.split()[1]) // 1024
                        break
        except OSError:
            pass
        mem = f"{max(1024, min(4096, mem_mb // 8))}m"
    return int(cpus), mem


def apply_runtime_confs(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime-settable confs; safe on sessions we didn't build."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — builder path sets it instead
    if shuffle_partitions is None:
        shuffle_partitions = host_defaults()[0]
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    except Exception:
        pass
    return spark


def get_spark(app_name: str = "flink_parent_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the session used by tests, tools and perfbench."""
    default_cpus, driver_mem = host_defaults()
    if cpus is None:
        cpus = default_cpus
    import tempfile  # noqa: PLC0415

    tmp = tempfile.gettempdir()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # keep regenerable JVM litter out of the repo root: embedded
        # Derby writes derby.log to the process CWD and managed tables
        # default their warehouse to ./spark-warehouse — point both at
        # the fps_* namespace under the system tmp dir.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.stream.error.file={tmp}/fps_derby.log",
        )
        .config("spark.sql.warehouse.dir", f"{tmp}/fps_warehouse")
        .config("spark.python.daemon.module", "flink_parent_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _CHECKOUT_ROOT)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        # belt-and-braces with the extraJavaOptions above: Derby reads
        # derby.stream.error.file at its first boot (first JDBC/metastore
        # connection), which is always after session creation — setting
        # the live JVM's system property here covers the reused-JVM case
        # where extraJavaOptions never applied.
        spark._jvm.System.setProperty(  # noqa: SLF001
            "derby.stream.error.file", f"{tmp}/fps_derby.log"
        )
    except Exception:
        pass  # connect-mode session without a _jvm bridge
    return apply_runtime_confs(spark, cpus)
