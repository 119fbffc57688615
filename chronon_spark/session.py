"""SparkSession factory with scale-oriented defaults.

UTC session timezone (oracle comparability), AQE with skew-join splitting on
(north rule: skew handled by hot-key salting + AQE), Arrow enabled for the
pandas-UDF kernels, shuffle partitions sized to cores for local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "chronon_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if master.startswith("local["):
        inner = master[6:-1]
        if inner.isdigit():
            cores = int(inner)
    sp = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cores * 4))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(max(sp, cores * 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Asks AQE's coalescing for >= 4 waves, but only binds above
        # cores*4 MB of shuffle (16 MB on 4 cores): AQE's coalescing target
        # never drops below coalescePartitions.minPartitionSize (1 MB), and
        # that floor wins on a smaller shuffle. So the 200k-turn benchmark's
        # cogroup runs 5 tasks on 4 cores. More tasks would not pay there:
        # each Python-UDF task carries ~0.22 s of fixed cost (a 10-row
        # mapInArrow task on a warm, reused worker took 210-260 ms from
        # launch to its first batch on a 4-core host), and 15 cogroup tasks
        # ran the stage in 1.44 s against 0.78 s for 5.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", str(cores * 4))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # progress-bar redraws flood stderr; when a harness captures stdio
        # through PIPES the buffer backpressure stalls executor threads
        # (measured 113 s -> 23 s on an identical local[16] job) — disable
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
