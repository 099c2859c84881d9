"""SparkSession factory tuned for this engine.

Defaults match the sandbox (local[32], 32 shuffle partitions) but every knob
is what we would ship to a 1000-executor cluster: AQE on (runtime re-plan +
skew-join splitting), Arrow enabled for every pandas UDF path, small
broadcast threshold raised so all dimension tables broadcast, and
partition-size targets that keep scan splits near 128 MB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "laji-pygeoapi-spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor (default 1 MiB) merges any sub-MiB shuffle
        # down to 1-2 partitions, which serializes GENERATOR-AMPLIFYING
        # stages that read them: a grouped LSH-bucket frame is a few
        # hundred KB but explodes into millions of candidate pairs, and
        # the explode then runs on one core (measured 1.72 s -> 0.88 s for
        # the pair stage at the 10x corpus with a 16 KiB floor).  The
        # floor only binds for shuffles below 1 MiB at ANY scale — big
        # shuffles are governed by the 64 MiB advisory — and
        # parallelismFirst=true (Spark's default, kept) already states the
        # parallelism-over-size preference this floor was capping.
        # Parameterised for clusters where sub-MiB shuffles should still
        # merge harder (pure-metadata stages): SPARK_AQE_MIN_PARTITION_SIZE.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                os.environ.get("SPARK_AQE_MIN_PARTITION_SIZE", "16k"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # PySpark 4 captures the Python call site of every Column call (four
        # py4j round trips and a stack walk each) only to name it in error
        # messages; query building here makes thousands of such calls
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, str(v))
    return builder.getOrCreate()


def release(df) -> None:
    """Free the blocks behind ``df``, whether it was persisted or
    (local-)checkpointed: ``unpersist()`` is a no-op on a checkpointed
    frame, whose blocks belong to the RDD under its ``LogicalRDD``."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)
    df.unpersist()
