"""SparkSession builders tuned for the pipeline.

Settings chosen for the 100 TB design point but safe on local[N]:

- AQE on (runtime coalescing, skew-join splitting).
- Arrow on, large batches: the parse stage is a vectorized pandas UDF
  and its cost amortizes over batch size.
- UTC session timezone, pinned: the reference converts epoch seconds
  with ``ZoneId.systemDefault()`` (LogParserUtils.java:42-57), which is
  host-dependent; we deviate deliberately and document it.
- shuffle.partitions defaults to max(2*cores, 32) locally; on a real
  cluster this is superseded by AQE coalescing from an intentionally
  high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "logparser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cores = os.cpu_count() or 4
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            if inner not in ("*", ""):
                try:
                    cores = int(inner)
                except ValueError:
                    pass
        shuffle_partitions = max(2 * cores, 32)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime Bloom-filtered joins (default-on in Spark 4; pinned
        # explicitly): prunes the big probe side of the incremental
        # dedup anti-join before its exchange.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # int64-micros timestamps, not the legacy INT96 default: INT96
        # leaves carry NO parquet column statistics, which kills both
        # the manifest's partition watermarks (footer max(time)) and
        # min/max row-group pruning on time predicates; int64 micros is
        # also the only timestamp encoding Iceberg accepts.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # A dying Python worker must surface its traceback, not an
        # opaque JVM-side Arrow connection reset (the r2 driver-bench
        # kill produced exactly that unreadable failure mode).
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        # Parse UDF output includes the passthrough tokens array; keep
        # broadcast threshold generous for the small dims.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

