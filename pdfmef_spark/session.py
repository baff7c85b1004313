"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime coalescing + skew-join splitting), Arrow on (every
Python stage is vectorized), UTC session timezone so DuckDB oracle
comparisons are stable.

Shuffle partitions default to 2 x cores, not the 200 default nor a
fixed floor: at the benchmark's size (1,500 pages) fixed per-task and
per-job cost is most of a build. With the old max(cores, 32) floor a
warm 1,500-page ``run_pipeline`` on a 4-vCPU VM ran 29 jobs and 266
tasks; with 8 partitions, a coalescible cached vocabulary (see
ENGINE_CONFS) and one component join it runs 26 jobs and 45 tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Knobs that matter at 100 TB and are harmless at sf0.001. On a real
# cluster the same configs ship via spark-submit --conf; nothing here is
# local-mode-only except master/driver.memory.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size bounds UDF memory per batch (reference analog:
    # batchSize=48 in pdfmef properties.config, but per *Arrow batch*
    # not per process).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.parquet.compression.codec": "zstd",
    # One run_pipeline build generates ~175 Janino classes. At the
    # default 100-entry codegen cache that LRU evicts every class before
    # the next build asks for it again, so each warm build recompiled
    # ~175 classes (about 2 s on a 4-vCPU VM). 2000 holds a build plus
    # the incremental tick's plans with headroom.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # A persisted frame keeps its shuffle's partition count unless AQE
    # may change a cached plan's output partitioning (default false).
    # run_pipeline persists its surface-key vocabulary, which four write
    # jobs scan; without this every one of them scanned all
    # spark.sql.shuffle.partitions cache blocks, most of them near-empty.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.ui.enabled": "false",
    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/tmp",
}


def get_spark(
    app_name: str = "pdfmef_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "48g",
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's configs.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions default to 2 x cores, the usual 2-3x-total-cores rule
    for a cluster; AQE coalesces further where a shuffle is small. On a
    4-vCPU VM that is 8 partitions instead of the earlier floor of 32,
    and a warm 1,500-page build runs 45 tasks instead of 266.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = 2 * int(cores)
    # local[N, 4]: allow 4 task attempts — the same resilience a cluster
    # gets from spark.task.maxFailures; a transient python-worker death
    # must not kill a whole run (this sandbox VM occasionally drops one)
    builder = (
        SparkSession.builder.master(f"local[{cores},4]")
        .appName(app_name)
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
