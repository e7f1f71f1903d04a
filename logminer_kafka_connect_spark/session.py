"""SparkSession bootstrap for the CDC engine.

The reference opens one JDBC connection with retry/backoff
(``SourceConnectorConfig.kt:31-58``); our analog is one SparkSession tuned
for the workload: AQE on (runtime re-plan + skew-join splitting), Arrow on
(pandas UDF hot path), UTC session zone (oracle comparison + deterministic
timestamps), LAST_WIN map-key policy (the update-overlay fold in
operators/dedup.py relies on ``map_concat`` last-write-wins).

At cluster scale the same builder is used from ``spark-submit --py-files``;
only ``master`` / memory / ``spark.sql.shuffle.partitions`` change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "logminer-kafka-connect-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract) or
    ``local[*]``. In local mode the driver JVM is the whole cluster, so
    ``spark.driver.memory`` is the only memory knob that matters.
    ``shuffle_partitions`` defaults to the context's ``defaultParallelism``
    (one shuffle partition per core).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # Spark 4 defaults ANSI on; the CDC parse path needs permissive
        # null-on-miss semantics (map access on partial images, lenient casts)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", driver_memory)
        # G1, explicitly: the CDC payload (multi-KB strings through
        # collect_list/fold/merge) allocates fast, and ParallelGC's full
        # stop-the-world pauses serialize every executor thread — measured
        # 17.8s of STW in a 72s 8-core replay, inflating tree CPU 346->514s
        # for identical work. G1's concurrent cycles keep the inflation at
        # zero: A/B on the same 1.9M-event input G1 is +37% at local[8],
        # +17% at local[2], +13% at local[32] (BENCH notes). This is also
        # the scaling-efficiency lever: GC pause time grows with thread
        # count under ParallelGC, taxing exactly the high-parallelism level.
        # NewRatio=3 fixes the young generation at a quarter of the heap.
        # G1's pause-time sizing grows it until the whole heap has been
        # allocated into once, and a run whose allocation stops short of
        # that leaves a resident heap that depends on when each collection
        # fell: 2.2-3.1 GB of a 3 GB heap over repeated identical replays.
        # With a fixed nursery the heap the driver touches is the nursery
        # plus what survives (1.89-2.01 GB over the same replays).
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC -XX:NewRatio=3")
        .config("spark.ui.enabled", "false")
        # the CDC payload is html/text: zstd shrinks shuffle + parquet bytes
        # ~2x vs lz4/snappy — the pipeline's non-scaling cost is disk IO,
        # while the extra compression CPU parallelizes with the tasks
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # v2 commits task output at task end (parallel renames) instead of
        # serially in the driver's job commit — the merge writes one dir per
        # bucket, so v1's driver-side merge was a measured non-scaling cost
        # per MERGE (single-writer table; v2's weaker failure atomicity is
        # covered by the manifest: a commit dir is referenced only after the
        # metadata swap)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # FAIR scheduling between concurrently-submitted jobs: the
        # multi-table driver applies N tables from a thread pool (one
        # scheduler pool per table) — under FIFO a small table's jobs queue
        # behind a big table's full-log scan
        .config("spark.scheduler.mode", "FAIR")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions or spark.sparkContext.defaultParallelism),
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
