"""Pins the event-log parser on a tiny groupBy.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def test_groupby_run_time_and_shuffle_write(tmp_path):
    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    conf = (
        SparkConf()
        .setMaster("local[2]")
        .setAppName("perfbench-eventlog-test")
        .set("spark.ui.enabled", "false")
        .set("spark.eventLog.enabled", "true")
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.dir", f"file://{log_dir}")
    )
    spark = SparkSession(SparkContext(conf=conf))
    try:
        spark.sparkContext.setLocalProperty(eventlog.SPAN_PROPERTY, "groupby")
        rows = (
            spark.range(0, 200_000, numPartitions=4)
            .groupBy((F.col("id") % 7).alias("k"))
            .count()
            .collect()
        )
        spark.sparkContext.setLocalProperty(eventlog.SPAN_PROPERTY, None)
    finally:
        spark.stop()
    assert sum(r["count"] for r in rows) == 200_000
    stats = eventlog.parse(str(log_dir))["groupby"]
    assert stats["jobs"] >= 1
    assert stats["tasks"] >= 4
    assert stats["run_ms"] > 0
    assert stats["cpu_ns"] > 0
    assert stats["shuffle_write_bytes"] > 0
    assert stats["shuffle_read_bytes"] > 0
