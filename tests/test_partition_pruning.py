"""Partition-layout write + pruning proof (SURVEY §7 item 8).

The point of the (year, month) hive layout is that a month-filtered
read must neither scan nor even LIST the other months' files — the
scan's PartitionFilters carries the predicate and partitionsRead
collapses to the matching directories.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_write_partitioned_prunes(spark, tmp_path):
    from model_presto_spark.io import load_table, write_partitioned
    from model_presto_spark.streaming.pipeline import monthly_partitioned

    events = monthly_partitioned(
        load_table(spark, "/root/testdata/sf0.001", "events"), "ts"
    ).withColumn("day", F.dayofmonth("ts"))
    out = str(tmp_path / "events_part")
    write_partitioned(events, out, partition_cols=("month", "day"))

    # hive directory layout exists (sf0.001 events span one month,
    # 30 days)
    months = [d for d in os.listdir(out) if d.startswith("month=")]
    assert months, "expected month=... partition directories"
    days = [
        d
        for d in os.listdir(os.path.join(out, months[0]))
        if d.startswith("day=")
    ]
    assert len(days) > 1, "need >1 day partition to prove pruning"

    back = spark.read.parquet(out)
    one_day = back.filter((F.col("month") == 1) & (F.col("day") == 7))

    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "day" in plan.split("PartitionFilters")[1][:200]

    # pruned scan reads strictly fewer files than the full scan
    def n_files(df):
        return df.select(F.input_file_name()).distinct().count()

    assert n_files(one_day) < n_files(back)
    # and the data is intact for the selected day
    got = one_day.count()
    want = events.filter(
        (F.col("month") == 1) & (F.col("day") == 7)
    ).count()
    assert got == want > 0


def test_spread_decides_from_scan_layout(spark, sf_dir, tmp_path):
    """spread() keeps a narrow chain over a scan of at least
    defaultParallelism files as it is, and repartitions every other
    shape to defaultParallelism."""
    from model_presto_spark.io import load_table, spread
    from model_presto_spark.testing import write_wide_catalog

    dp = spark.sparkContext.defaultParallelism

    def docs_in(n_files):
        d = str(tmp_path / f"files{n_files}")
        write_wide_catalog(sf_dir, d, n_files)
        return load_table(spark, d, "documents")

    wide = docs_in(2 * dp)
    chain = wide.select("doc_id", "text", "lang").where("doc_id % 3 = 0")
    assert spread(chain) is chain

    spread_shapes = {
        "single-file scan": load_table(spark, sf_dir, "documents"),
        "group output": wide.groupBy("lang").count(),
        "join output": wide.join(wide.select("doc_id"), "doc_id"),
        "local input": spark.createDataFrame([(1, "a")], "id long, t string"),
    }
    if dp > 1:
        spread_shapes["fewer files than dp"] = docs_in(dp - 1).select("text")
    for shape, df in spread_shapes.items():
        out = spread(df)
        assert out is not df, shape
        assert out.rdd.getNumPartitions() == dp, shape
