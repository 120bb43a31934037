"""SparkSession factory tuned for the local[32] test harness.

On a real cluster the same knobs apply, minus master/driver-memory:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (Pandas-UDF exchange), UTC session timezone (fixtures carry
ns/ms timestamps; see FIXTURES.md "Oracle parity rules").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .tables import REPO_ROOT


def get_spark(app_name: str = "vectordb-rag-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Shuffle-partition sizing: at fixture scale every shuffle is tiny, so
    # reduce-task scheduling dominates — 8 partitions beats 32 by ~30% on
    # the headline bench (1.15 vs 1.71 s) with AQE still coalescing below
    # that. On a cluster, size to total_shuffle_bytes / 128MB (thousands at
    # 100 TB) and let AQE coalesce; this knob is the env override for that.
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    # Scan-split sizing: fixture files are ~10 MB, so the default 128 MB
    # maxPartitionBytes plans a 3-task scan that leaves 29 of 32 cores
    # idle — 512k splits halve the scan-heavy queries (agg 587->329 ms).
    # On a cluster keep the default: 100 TB / 128 MB already yields ~800k
    # splits; the env override exists for that.
    max_split = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "512k")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.files.maxPartitionBytes", max_split)
        .config("spark.sql.files.openCostInBytes", "16k")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: tasks are always PROCESS_LOCAL — don't wait for locality
        .config("spark.locality.wait", "0")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers (pandas UDFs, mapInPandas) import this package
        # by name; point them at the directory that holds it, so a
        # driver started from any working directory works
        .config("spark.executorEnv.PYTHONPATH", REPO_ROOT)
        .getOrCreate()
    )
