"""SparkSession factory tuned for this engine.

Local mode is the test/bench harness; the same conf names carry to a real
cluster (spark-submit --py-files beats_spark.zip). Defaults follow the
scaling notes in SURVEY.md §4/§6: AQE on (runtime skew/coalesce),
shuffle partitions sized to cores (not 200), Arrow enabled for the
pandas-UDF paths, UTC session timezone (Beats events are UTC,
libbeat/beat/event.go @timestamp).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "beats_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). ``shuffle_partitions`` defaults to the local core count —
    on a real cluster set it to ~2-3× total executor cores instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        if cpus not in ("*", ""):
            try:
                n = int(cpus)
            except ValueError:
                pass
        shuffle_partitions = n

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # partitioned fan-out writes in overwrite mode replace only the
        # partitions they touch. Chunk replay does not rely on this:
        # every checkpoint attempt writes to a fresh directory
        # (checkpoint.py)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # the exotic-charset battery (readers/lines.py) needs legacy JVM
        # charset resolution; set at construction so the reader is not a
        # session-mutating side effect (Spark 4 default allows only the
        # UTF family in encode/decode)
        .config("spark.sql.legacy.javaCharsets", "true")
        # kv processor (processors/parse.py): duplicate keys in one
        # event resolve last-wins instead of raising (default EXCEPTION)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
