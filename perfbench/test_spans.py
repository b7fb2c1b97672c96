"""Unit test of the event-log aggregation in ``spans``.

Run from the repository root: ``python3 -m pytest perfbench/test_spans.py``
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans  # noqa: E402


def test_counters_by_span(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", f"file:{log_dir}")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.sql.shuffle.partitions", "3")
             .getOrCreate())
    tr = spans.Tracer(spark)
    try:
        with tr.span("shuffle"):  # 4 map tasks, then 3 reduce tasks
            spark.range(0, 1000, 1, 4).groupBy(
                (F.col("id") % 10).alias("k")).count().collect()
        with tr.span("narrow"):  # one stage of 4 tasks, no exchange
            spark.range(0, 100, 1, 4).selectExpr("id * 2").collect()
        with tr.span("foreign"):
            # a job group the tracer does not own, as a streaming query
            # sets: the job is attributed by its submission time
            spark.sparkContext.setJobGroup("someone-else", "")
            spark.range(0, 100, 1, 2).selectExpr("id + 1").collect()
    finally:
        spark.stop()

    c = spans.counters_by_span(spans.read_event_log(str(log_dir)), tr.spans)
    assert set(c) == {"shuffle", "narrow", "foreign"}
    assert (c["shuffle"].jobs, c["shuffle"].tasks) == (1, 7)
    assert c["shuffle"].shuffle_write_mb > 0
    assert (c["narrow"].jobs, c["narrow"].tasks) == (1, 4)
    assert c["narrow"].shuffle_write_mb == 0
    assert (c["foreign"].jobs, c["foreign"].tasks) == (1, 2)
    assert all(x.cpu_s > 0 for x in c.values())
    assert spans.total(c).tasks == 13
