"""SparkSession builder with the engine's scale-minded defaults."""

from __future__ import annotations

import os
from typing import Sequence, Union

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# Spark's codegen cache (spark.sql.codegen.cache.maxEntries, default 100)
# holds compiled classes keyed by their generated source. One validate()
# generates more than 100, so at the default every warm op evicts and
# re-compiles (Janino, then JIT) the classes of its own previous op. The
# widest validate() (every opt-in check on, 60-conversation fixture)
# compiles 329 classes on the clustered path and 298 on the fused path in
# a fresh JVM; 1000 holds about three such ops.
CODEGEN_CACHE_ENTRIES = 1000

# The driver heap defaults to this share of physical memory (capped at
# 32g), and is pre-touched only when it is no larger: the rest of the
# host stays free for Python workers and for the child spark-submit JVMs
# a test run starts, each of which sizes its own heap the same way.
_HEAP_SHARE = 4
_MAX_DEFAULT_HEAP = 32 << 30
_SIZE_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _heap_bytes(size: str) -> int:
    """A JVM size string ("3g", "512m", "1048576") in bytes."""
    size = size.strip().lower().removesuffix("b")
    if size and size[-1] in _SIZE_UNITS:
        return int(size[:-1]) * _SIZE_UNITS[size[-1]]
    return int(size)


def _driver_heap(env: "os._Environ[str] | dict[str, str]",
                 mem_total: int) -> tuple[str, bool]:
    """(driver heap size, pre-touch it?) for a host with ``mem_total``
    bytes of physical memory. ``SPARK_GRAFT_DRIVER_MEM`` overrides the
    size; pre-touch follows from the size either way."""
    share = mem_total // _HEAP_SHARE
    heap = env.get("SPARK_GRAFT_DRIVER_MEM",
                   f"{min(_MAX_DEFAULT_HEAP, share) >> 20}m")
    return heap, _heap_bytes(heap) <= share


def _resolve_master(explicit: str | None, cpus: str,
                    env: "os._Environ[str] | dict[str, str]") -> str | None:
    """Pick the master to force on the builder, or None to defer.

    Under spark-submit the JVM gateway already exists and carries the
    submitted conf (--master, --conf ...); setting .master() here would
    silently override the cluster. PYSPARK_GATEWAY_PORT is how the
    PythonRunner child finds that JVM, so its presence means "defer to
    the submitted master" unless the caller forces one explicitly.
    """
    if explicit is not None:
        return explicit
    if "PYSPARK_GATEWAY_PORT" in env:
        return None
    return f"local[{cpus}]"


def get_spark(app_name: str = "schema-inference-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              max_partition_bytes: str | None = None) -> SparkSession:
    """local[$SPARK_GRAFT_CPUS] by default; AQE on (coalesce + skew-join,
    SURVEY.md §2.D18); Arrow on for every pandas/Arrow UDF boundary.

    max_partition_bytes: local-mode inputs are small relative to the 128MB
    default, which starves the scan of splits (a 650MB snapshot = 6 tasks
    regardless of cores). 16MB keeps local scans parallel; prod clusters
    keep the default.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    master = _resolve_master(master, cpus, os.environ)
    shuffle = shuffle_partitions if shuffle_partitions is not None else int(cpus)
    mpb = max_partition_bytes or os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "16m")
    driver_mem, pretouch = _driver_heap(
        os.environ, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.files.maxPartitionBytes", mpb)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # local analog of the 16m scan-split note above: AQE's 64MB
        # advisory target coalesces the CPU-heavy post-shuffle stages
        # (JSON parse, regex, digest folds) of MB-sized local inputs
        # down to a handful of tasks; 16m keeps them spread (measured
        # ~10% on a warm mid-tier subset, and removes whole-stage
        # serialization cliffs). Prod clusters override via env to the
        # guide's 100MB-1GB sizing (§2.2).
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "16m"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # Pre-size and PRE-TOUCH the heap at JVM start (once per process,
    # before any query runs) instead of letting every big first
    # execution page-fault its working set in: a cold 100M-group
    # aggregation measured 42.6s against 18.2s with a pre-touched heap
    # (the first touch of ~20GB of heap pages IS the difference — -Xms
    # alone, without AlwaysPreTouch, changed nothing). A long-lived
    # cluster executor pays this once at executor launch and never per
    # query, which is exactly what the flag reproduces locally (guide
    # §5: memory behavior belongs to process lifecycle, not to the
    # queries that happen to run first). A heap above _HEAP_SHARE of
    # physical memory is not pre-touched: committing it up front is what
    # gets a JVM killed on a small host. No effect under spark-submit
    # (the JVM is already up, Spark ignores driver extraJavaOptions then).
    if pretouch:
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch")
    if master is not None:
        builder = builder.master(master)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: Sequence[Sequence],
                schema: Union[StructType, str]) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order) as a JVM local relation.

    Every driver-built frame goes through here, never through
    ``spark.createDataFrame(<list>)``: a Python list plans as a Python
    RDD, so each action over it starts Python-worker tasks, and each
    such task pays pyspark's ``importlib.invalidate_caches()`` in
    ``worker_util.setup_spark_files`` (0.1-0.2 CPU-s per task when the
    workers import pyspark from a zip). An Arrow table crosses into the
    JVM once, on the driver, and plans as a ``LocalTableScan``.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)


def sql_ident(name: str) -> str:
    """``name`` as a quoted SQL identifier inside text for
    ``spark.sql(text, args, **frames)``. Backticks double for the SQL
    parser and braces double for the ``str.format`` pass that
    ``spark.sql`` runs over the text when frames are given. Values never
    go through here: they are bound as ``args``."""
    return "`" + (name.replace("`", "``").replace("{", "{{")
                  .replace("}", "}}")) + "`"


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
