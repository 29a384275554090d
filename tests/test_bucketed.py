"""Bucketed co-located join: shuffle-free plan + result parity."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from trello_github_etl_spark.io import load_table
from trello_github_etl_spark.sources.bucketed import (
    bucketed_join,
    write_bucketed,
)

SF_DIR = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_exchange_and_matches(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders").withColumnRenamed(
        "o_orderkey", "orderkey"
    )
    lineitem = load_table(spark, SF_DIR, "lineitem").withColumnRenamed(
        "l_orderkey", "orderkey"
    )
    try:
        write_bucketed(orders, "b_orders", "orderkey", 8, str(tmp_path / "o"))
        write_bucketed(
            lineitem, "b_lineitem", "orderkey", 8, str(tmp_path / "l")
        )
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "orderkey")

        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan

        got = joined.count()
        want = orders.join(lineitem, "orderkey").count()
        assert got == want > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    import io as _io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from trello_github_etl_spark.io import write_partitioned

    events = load_table(spark, SF_DIR, "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    write_partitioned(events, path, ["day"])

    one_day = spark.read.parquet(path).filter(
        F.col("day") == "2024-01-02"
    )
    buf = _io.StringIO()
    with redirect_stdout(buf):
        one_day.explain()
    plan = buf.getvalue()
    # the day predicate must land in PartitionFilters (pruned at
    # planning), not in PushedFilters/post-scan Filter
    assert "PartitionFilters: [isnotnull(day" in plan, plan
    n_days = events.select("day").distinct().count()
    assert one_day.count() == events.filter(F.col("day") == "2024-01-02").count()
    assert n_days > 1


def test_events_load_survives_vanilla_session():
    """The driver hands queries ITS OWN SparkSession, which may lack
    session.py's defaults; load_table must self-provision the configs
    the events TIMESTAMP(NANOS) read needs (separate process so the
    configured test session can't mask it)."""
    import subprocess
    import sys
    from pathlib import Path

    root = str(Path(__file__).resolve().parents[1])
    code = (
        f"import sys; sys.path.insert(0, {root!r})\n"
        "from pyspark.sql import SparkSession\n"
        "from trello_github_etl_spark.io import load_table\n"
        "spark = SparkSession.builder.master('local[2]').getOrCreate()\n"
        "df = load_table(spark, '/root/testdata/sf0.001', 'events')\n"
        "assert df.count() > 0\n"
        "assert str(df.schema['ts'].dataType) == 'TimestampType()'\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, timeout=240
    )
    assert proc.returncode == 0, proc.stderr.decode()[-800:]
