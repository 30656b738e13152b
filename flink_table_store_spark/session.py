"""SparkSession factory tuned for the engine.

Local-mode testing uses local[N]; the same config scales to a cluster —
AQE handles runtime re-planning, shuffle partitions sized for the data.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the parquet codec of the engine's sessions; files written with no
# session (Table.write_arrow) use it too (write.arrow_codec)
PARQUET_CODEC = "zstd"


def get_spark(app_name: str = "flink_table_store_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide §3.1/§9: let the planner pick shuffled-hash join when its
        # size conditions hold (skips both sort passes of sort-merge),
        # and let AQE rewrite SMJ->SHJ at runtime when every post-shuffle
        # partition is small. Both are size-guarded per partition, so
        # they scale with AQE's advisory partition sizing rather than
        # with the local core count.
        #
        # r12 (ADVICE r11): the STATIC half decides from ESTIMATED plan
        # stats, and SHJ's build side cannot spill — on a very large
        # cluster with misestimated post-explode sizes that risks
        # executor OOM, so it is env-gated. The AQE half below uses
        # ACTUAL runtime sizes and is always safe. Local default stays
        # "false" (measured: q3 0.78s vs 0.91s, paragraph_dedup 1.24 vs
        # 1.45 at sf0.1); production deployments at the 100 TB design
        # point should set SPARK_GRAFT_PREFER_SORT_MERGE_JOIN=true and
        # rely on the AQE rewrite alone.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SORT_MERGE_JOIN", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")  # merge_map engine: later entries win
        .config("spark.sql.parquet.compression.codec", PARQUET_CODEC)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "32")
        # Python DataSource (format "ftss"): let pushFilters reach the
        # planner so the manifest/stats pruning sees the WHERE clause
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # python workers must be able to import this package even when
        # the session is started outside the repo directory (executor
        # closures re-import engine helpers)
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            + os.pathsep
            + os.environ.get("PYTHONPATH", ""),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        # native format surface: spark.read.format("ftss").load(path)
        from flink_table_store_spark.sources.datasource import register_data_source

        register_data_source(spark)
    except Exception:
        pass  # older PySpark without pyspark.sql.datasource
    return spark
