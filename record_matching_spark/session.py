"""SparkSession factory tuned for this engine, and the driver-side helpers
the operators share.

Mirrors the reference's single `SessionContext` entry point
(/root/reference/record_matching/context.py:110-168) but with Spark-native
knobs: AQE (runtime re-planning + skew-join splitting), Arrow transfer for
the pandas-UDF scoring path, a generated-code cache sized to hold every
query shape the pipeline compiles (so a repeat run recompiles nothing), and
shuffle partitioning sized to the runtime rather than the 200-partition
default.

`BROADCAST_BUDGET_BYTES` is the one threshold for shipping a side table to
every executor; each operator compares the measured size of exactly what it
ships against it (pulled with `collect_within_budget`, or observed on an
action it already runs and read with `observed_row`).
"""

from __future__ import annotations

import os
import time

from pyspark.serializers import CPickleSerializer
from pyspark.sql import DataFrame, Observation, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

# Entries in the JVM-wide LRU of compiled generated classes (whole-stage
# code, projections, orderings; Spark default 100). Measured distinct generated sources: 163 for one ER
# `Pipeline.run` (perfbench er_clone), 102 for a `minhash_near_dup_pairs` +
# `cluster_assignments` run (neardup_docs) and 1,057 for all 60
# `scripts/check_oracles.py` queries in one session. At 100 entries every
# warm er_clone run evicted and recompiled 143 classes with Janino, and the
# JVM JIT-compiled them again; at 1,024 a repeat run compiles none.
CODEGEN_CACHE_MAX_ENTRIES = 1024

# 256 MB targets the smallest executors a mixed cluster is likely to run
# (VERDICT r2 item 5: a forced 500 MB broadcast can OOM small executors).
# Read at call time, so tests patch it to force the sort-merge attaches.
BROADCAST_BUDGET_BYTES = 256 << 20

# Longest wait for an observe() row after its action has finished. The row
# arrives through the listener bus, normally within milliseconds; a bus that
# drops the event must not hang the caller.
OBSERVE_TIMEOUT_S = 10.0


def get_spark(
    app_name: str = "record_matching_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    On a real cluster these settings arrive via spark-submit; locally we
    default to local[$SPARK_GRAFT_CPUS].

    The codegen cache size (`CODEGEN_CACHE_MAX_ENTRIES`) is a static conf
    read once per JVM, when the first query compiles. It applies only when
    this call builds the session that compiles first: `getOrCreate` on an
    already running session keeps that session's cache.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    mem = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")

    # shuffle/spill scratch: prefer tmpfs when present — local-mode shuffles
    # otherwise bottleneck on the (often virtualized, noisy) block device.
    # On a real cluster this comes from spark-submit / node config instead.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark_local"

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", mem)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # master() only applies when we are actually creating the session; under
    # spark-submit the cluster master wins (getOrCreate returns the active one).
    builder = builder.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """JVM-wide count of generated classes compiled with Janino so far.

    Read on the driver from `CodegenMetrics` (no Spark job). In local mode
    the executors share the driver JVM, so the count covers their compiles
    too; the difference of two reads is the compiles in between.
    """
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def collect_within_budget(df: DataFrame, row_bytes: int):
    """`df` as an Arrow table when its rows × `row_bytes` fit
    BROADCAST_BUDGET_BYTES, else None. One collect of at most
    budget // row_bytes + 1 rows (a limit over df's plan, no count job), so
    a table over the budget never reaches the driver."""
    cap = BROADCAST_BUDGET_BYTES // row_bytes
    table = df.limit(cap + 1).toArrow()
    return table if table.num_rows <= cap else None


def observed_row(obs: Observation, timeout_s: float = OBSERVE_TIMEOUT_S) -> dict | None:
    """The metrics of `obs` as a dict, or None if they have not arrived
    within `timeout_s` (`Observation.get` waits without a bound). Each JVM
    read (`getRowOrEmpty`) waits at most 100 ms. Every operator that reads
    an observation has a fallback for None that gives the same output."""
    deadline = time.monotonic() + timeout_s
    while True:
        row = obs._jo.getRowOrEmpty()
        if not row.isEmpty():
            utils = obs._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
            return CPickleSerializer().loads(utils.toPyRow(row.get())).asDict()
        if time.monotonic() >= deadline:
            return None
