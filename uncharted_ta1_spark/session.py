"""SparkSession factory with scale-oriented defaults.

The same configuration is used by tests, the driver entrypoint and the bench
harness so plans are comparable.  On a real cluster only ``master`` changes
(spark-submit supplies it); everything else is cluster-size independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """16g, capped at half the host's physical memory.  A heap near the
    host's RAM never pushes the GC before the machine runs out: an sf0.01
    driver_sim JVM reached 9.3 GB RSS on a 15.7 GiB host, and the JVMs
    beside it died."""
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**21
    return f"{min(16 * 1024, half_mb)}m"


# Defaults chosen for the 100TB design point, scaled to local mode:
#  * AQE on: runtime partition coalescing + skew-join splitting replaces
#    hand-tuned shuffle partition counts at every scale.
#  * Arrow on: every pandas UDF path is Arrow-batched (north rule: zero
#    per-row Python).
#  * UTC session timezone: deterministic epoch math, matches the DuckDB
#    oracle which operates on naive timestamps.
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    # Shuffle/spill codec, env-overridable per deployment.  Measured here:
    # zstd is ~12% SLOWER on the many-small-shuffle query profile (per-
    # round-trip compression latency; e.g. the bounded iterative peels) and
    # NEUTRAL on the thin-shuffle backfill bench, so the default stays
    # lz4; on a network-bandwidth-limited cluster shuffling wide payloads,
    # set SPARK_GRAFT_IO_CODEC=zstd to halve shuffle bytes (guide §2.3 —
    # "there is no universal answer: measure both").
    "spark.io.compression.codec": os.environ.get(
        "SPARK_GRAFT_IO_CODEC", "lz4"
    ),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Parquet writer: lz4 encodes measurably faster than snappy at the
    # same size here, and dictionary encoding is dead weight for this
    # engine's outputs (feature rows keyed by high-cardinality ids +
    # token arrays: dictionaries overflow to plain and cost ~18% of the
    # sink CPU for a 0-9% size INCREASE — measured on the backfill sink).
    # Both env-overridable: a table dominated by low-cardinality columns
    # should set SPARK_GRAFT_PARQUET_DICT=true per deployment (guide §6).
    "spark.sql.parquet.compression.codec": os.environ.get(
        "SPARK_GRAFT_PARQUET_CODEC", "lz4"
    ),
    "spark.hadoop.parquet.enable.dictionary": os.environ.get(
        "SPARK_GRAFT_PARQUET_DICT", "false"
    ),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()
    ),
    # the sf0.5 stress sweep collects multi-GB results through driver_sim's
    # compare harness (spatial_contain_join fans out 36.5M rows under the
    # tier's 5x copies); the 1g default kills the collect, not the job
    "spark.driver.maxResultSize": "6g",
    # ParallelGC: G1's humongous-object handling collapses under 16-32
    # threads allocating token arrays (measured 2.4x slowdown at local[32]);
    # throughput GC is the right choice for batch analytics.
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    # PySpark's call-site capture (`_with_origin`, pyspark/errors/utils.py)
    # wraps every `functions.*` and Column call: it reads a conf over py4j,
    # walks the stack, retries a failing `import IPython` and sets/clears
    # the JVM's PySparkCurrentOrigin, all per call.  Building one 500-probe
    # serve lookup plan took 2,049 py4j round trips with it, 579 without
    # (`F.col` 0.34 ms -> 0.077 ms); the perfbench serve lookup median went
    # 0.308 -> 0.246 s over 20 alternating runs (4-vCPU VM).  Plans, jobs and
    # results are unchanged; only Python call sites drop out of error
    # contexts (pass this key as "true" through `extra_conf` to get them
    # back).  PySpark reads the value once per process, at the first wrapped
    # call, and treats "no active session" at that moment as off.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

if os.path.isdir("/dev/shm") and "SPARK_LOCAL_DIRS" not in os.environ:
    # shuffle/spill on tmpfs: single-disk /tmp serializes 32 writers
    _shm = "/dev/shm/spark-local"
    os.makedirs(_shm, exist_ok=True)
    _DEFAULTS["spark.local.dir"] = _shm

if "SPARK_GRAFT_WAREHOUSE" not in os.environ:
    # managed tables (bucketed layout, plans/layout.py) must not land in a
    # ./spark-warehouse dir inside the repo checkout
    _DEFAULTS["spark.sql.warehouse.dir"] = "/tmp/spark-graft-warehouse"
else:
    _DEFAULTS["spark.sql.warehouse.dir"] = os.environ["SPARK_GRAFT_WAREHOUSE"]


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return f"local[{cpus}]" if cpus else "local[*]"


def get_spark(
    master: str | None = None,
    app_name: str = "uncharted-ta1-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    builder = SparkSession.builder.master(master or default_master()).appName(app_name)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
