"""SparkSession factory with scale-oriented defaults.

One conf table serves both entry points: AQE on (runtime coalescing +
skew-join splitting), Arrow for the Python kernel boundary with a bounded
batch (batch width governs peak per-task memory, not data size), and UTC.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SQL_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.session.timeZone": "UTC",
}


def shuffle_partitions_for(slots: int) -> int:
    """Initial shuffle partitions for ``slots`` task slots: AQE coalescing
    owns the downsizing, and more waves of smaller tasks (2x slots measured
    ~40% slower on minhash; 200 is worse) are pure per-task overhead."""
    return max(slots, 32)


def _driver_memory() -> str:
    """Half the host's memory, capped at 24 GiB; SPARK_GRAFT_DRIVER_MEM wins."""
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(host_mb // 2, 24 << 10)}m")


def get_spark(
    app_name: str = "ai-service-ocr-grading-handler-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Session with the conf table applied. When this process launches the
    JVM it runs on ``local[cpus]`` (default: the CPUs this process may use)
    with a host-sized heap; under spark-submit, which launched the JVM and
    set the gateway port, the submitted master and memory win."""
    builder = SparkSession.builder.appName(app_name)
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        n = len(os.sched_getaffinity(0)) if cpus is None else int(cpus)
        if n <= 0:
            raise ValueError(f"cpus must be >= 1, got {n}")
        builder = (
            builder.master(f"local[{n}]")
            .config("spark.driver.memory", _driver_memory())
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
        )
    for k, v in SQL_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        shuffle_partitions = shuffle_partitions_for(spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the conf table and the shuffle sizing to a session the program
    did not build (the driver hands us one in `entry`/`queries`)."""
    confs = dict(SQL_CONFS)
    try:
        slots = spark.sparkContext.defaultParallelism
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions_for(slots))
    except Exception:  # Spark Connect: no sparkContext; keep session value
        pass
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable at runtime in some deployments — fine
    return spark
