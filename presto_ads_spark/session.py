"""SparkSession construction tuned for the engine.

The reference is a distributed MPP SQL engine (Presto 0.216 —
coordinator/worker, hash shuffle, CBO; see SURVEY.md §3/§4). Spark provides
the same pipeline natively; the knobs below are the Spark-side equivalents
of Presto's session properties
(reference: presto-main/.../SystemSessionProperties.java):

- ``spark.sql.adaptive.*``       ≈ cost-based join distribution + runtime
  re-planning (DetermineJoinDistributionType.java:51) — AQE is strictly
  stronger because it uses *runtime* stats.
- ``spark.sql.autoBroadcastJoinThreshold`` ≈ Presto REPLICATED join choice.
- ``spark.sql.shuffle.partitions`` ≈ Presto ``hash_partition_count``.
- skew-join handling ≈ Presto had none in 0.216 (skew kills it); AQE's
  ``skewJoin`` gives us the 100-TB story for free.

At 100 TB these defaults change only by numbers, not by shape: AQE coalesces
small post-shuffle partitions and splits skewed ones, so one config works
from sf0.001 tests to a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for local[32] testing; on a real cluster the same keys are
# what you would tune (shuffle.partitions → ~2-3x total cores, maxPartitionBytes
# 128-256m so a task's working set fits executor memory).
DEFAULT_CONF: dict[str, str] = {
    "spark.ui.showConsoleProgress": "false",
    # static conf — writable location for saveAsTable/CTAS (local runs)
    "spark.sql.warehouse.dir": "/tmp/presto-ads-spark-warehouse",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Presto 0.216 timestamp is TZ-less (SURVEY.md §1.2); keep everything UTC
    # so Spark TIMESTAMP(_LTZ) values collect identically to the naive
    # timestamps DuckDB reads from the same parquet.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for any pandas-UDF path (the fast lane for the few
    # operators that genuinely need Python).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Vectorized parquet reader + pushdown are on by default; pinned here as
    # documentation of load-bearing behavior.
    "spark.sql.parquet.filterPushdown": "true",
    # Presto errors on division-by-zero / overflow / bad casts; ANSI mode
    # matches (Spark 4 default — pinned as load-bearing).
    "spark.sql.ansi.enabled": "true",
    # Spark's ${var} substitution would silently EAT ${name} group
    # references in regexp_replace replacements (Presto/Java Matcher
    # syntax) — Presto has no variable substitution, turn it off.
    "spark.sql.variable.substitute": "false",
    # Presto map_union/map_concat keep one value on key clash; Spark errors
    # by default — LAST_WIN (+ sorted entries in our builders) matches and
    # stays deterministic.
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # events.parquet stores TIMESTAMP(NANOS) which Spark's reader rejects;
    # read as long and convert (catalog.load_table) — truncation to µs
    # matches what DuckDB's reader does with the same file.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Presto from_utf8 substitutes U+FFFD for malformed sequences
    # (StringFunctions.fromUtf8); this flips Spark's decode() from
    # FAIL to the same REPLACE action, keeping the shim JVM-side.
    "spark.sql.legacy.codingErrorAction": "true",
    # PySpark's call-site capture (errors/utils.py _with_origin) costs
    # every classic Column method a stack walk and ~4 py4j calls, and its
    # first call imports IPython into the driver (~540 modules, ~18 MB
    # RSS); a failed `import ipykernel` is retried on every call. Errors
    # lose only the Python line of the DataFrame call that built the
    # failing expression. Read once per process, on the first Column
    # call with an active session.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """A quarter of host memory, at least 1 GiB, as a JVM size (``3g``
    on a 15 GB host). A quarter never overcommits the host and grows with
    it as local[*] parallelism does; without /proc/meminfo, 1 GiB."""
    try:
        with open(meminfo, encoding="ascii") as f:
            total_kb = int(f.readline().split()[1])  # MemTotal: <n> kB
    except (OSError, ValueError, IndexError):
        return "1g"
    return f"{max(1, total_kb // (4 << 20))}g"


def get_spark(
    app_name: str = "presto-ads-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    # (driver.memory below is a JVM-launch conf: it only takes effect when
    # this call actually creates the JVM, which is the normal path for
    # bench/tests; a pre-existing session keeps its heap.)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    # Local mode runs every executor thread inside the driver JVM, whose
    # default heap is 1 GiB — 32 concurrent tasks' sort/join spill buffers
    # OOM there long before any plan problem shows up (the round-5 sf1
    # bench died in an SMJ spill-read exactly this way). Size the heap
    # from the host instead; on a real cluster this key is untouched and
    # executor memory is what you tune.
    resolved_master = master or f"local[{cpus}]"
    if resolved_master.startswith("local"):
        conf.setdefault(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def apply_runtime_conf(spark: SparkSession) -> None:
    """Apply the runtime-settable subset of DEFAULT_CONF to an existing
    session (used when the driver hands us its own SparkSession)."""
    for k, v in DEFAULT_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep going
