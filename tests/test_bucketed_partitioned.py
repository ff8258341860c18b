"""Time-partitioned bucketed layout (round 6): the full Iceberg
`days(ts) x bucket(N, block)` analogue.

Two levers must hold SIMULTANEOUSLY over the same files — that is the
whole point of the layout:

  1. partition pruning: a day filter shows up as PartitionFilters on the
     scan, so a crawl-window query never schedules the other days;
  2. bucket-join elimination: block-keyed equi-joins plan ZERO
     Exchanges, because bucketing is a table property carried by every
     file regardless of partition dir.

Plus the operational pieces: daily ingest appends a NEW day dir
(exactly-once via the marker protocol, partition recovered before scans
see it) and a fresh session re-registers the table with both the bucket
spec and the recovered partitions.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from .planview import formatted_plan, n_exchanges

SF = "/root/testdata/sf0.001"








def _multi_day(spark, days=5, day0="2024-01-01"):
    """sf0.001 pages spread deterministically over `days` warc days (the
    raw corpus spans a single synthetic day — too few dirs to exercise
    pruning)."""
    from setsm_postprocessing_python_spark.sources import bucketed as B

    return (B.blocked_pages(spark, SF, block_shift=12)
            .withColumn("warc_day",
                        F.date_add(F.lit(day0).cast("date"),
                                   F.pmod(F.crc32("url"),
                                          F.lit(days)).cast("int"))))


def _join_on_block(df):
    left = df.select(F.col("url").alias("ua"), "block", "warc_day")
    right = df.select(F.col("url").alias("ub"), "block")
    return left.join(right, "block").where("ua < ub")


def test_partitioned_layout_prunes_and_joins_shuffle_free(
        spark, tmp_path, no_broadcast):
    from setsm_postprocessing_python_spark.sources import bucketed as B

    table = "t_pb_levers"
    try:
        tbl, did = B.ensure_bucketed(
            spark, str(tmp_path / "layout"), table,
            build=lambda: _multi_day(spark),
            meta={"grain": "5day"}, n_buckets=4, partition_by="warc_day")
        assert did
        flat = _multi_day(spark)
        assert tbl.count() == flat.count()
        # lever 1: day filter prunes at planning time
        day_q = tbl.where("warc_day = date'2024-01-02'")
        plan = formatted_plan(day_q)
        assert "PartitionFilters" in plan
        import re

        assert re.search(r"warc_day#\d+ = 2024-01-02", plan)
        n_day = day_q.count()
        assert 0 < n_day < flat.count()
        # lever 2: block join plans ZERO Exchanges over the same table
        jplan = formatted_plan(_join_on_block(tbl))
        assert "Bucketed: true" in jplan
        assert n_exchanges(jplan) == 0
        # and the two compose: pruned-side join, still no Exchange
        jp = formatted_plan(_join_on_block(tbl).where("warc_day = date'2024-01-02'"))
        assert n_exchanges(jp) == 0
        # rows identical to the flat derivation
        assert _join_on_block(tbl).count() == _join_on_block(flat).count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_partitioned_ingest_appends_new_day(spark, tmp_path, no_broadcast):
    """The daily-ingest shape: day 0-4 laid out once, day 5 appended as a
    NEW partition dir via the exactly-once protocol; scans see it only
    after partition recovery, the join stays Exchange-free, replay is a
    no-op, and a fresh session re-registers everything."""
    from setsm_postprocessing_python_spark.sources import bucketed as B

    table = "t_pb_ingest"
    path = str(tmp_path / "layout")
    p = Path(path)
    try:
        tbl, _ = B.ensure_bucketed(
            spark, path, table, build=lambda: _multi_day(spark),
            meta={"grain": "5day"}, n_buckets=4, partition_by="warc_day")
        n_base = tbl.count()
        day5 = (_multi_day(spark, days=1, day0="2024-01-06")
                .withColumn("url", F.concat(F.lit("d5-"), F.col("url"))))
        n_inc = day5.count()

        tbl2, did = B.ensure_bucketed_ingest(
            spark, path, table, build=lambda: day5,
            ingest_id="day-2024-01-06", n_buckets=4)
        assert did
        assert (p / "warc_day=2024-01-06").is_dir()
        assert tbl2.count() == n_base + n_inc
        assert (tbl2.where("warc_day = date'2024-01-06'").count() == n_inc)
        jplan = formatted_plan(_join_on_block(tbl2))
        assert "Bucketed: true" in jplan
        assert n_exchanges(jplan) == 0

        # replay: no-op
        tbl3, did3 = B.ensure_bucketed_ingest(
            spark, path, table, build=lambda: day5,
            ingest_id="day-2024-01-06", n_buckets=4)
        assert not did3 and tbl3.count() == n_base + n_inc

        # fresh session: DDL + MSCK recover all 6 day dirs
        spark.sql(f"DROP TABLE {table}")
        tbl4, did4 = B.ensure_bucketed(
            spark, path, table, build=lambda: _multi_day(spark),
            meta={"grain": "5day"}, n_buckets=4, partition_by="warc_day")
        assert not did4
        assert tbl4.count() == n_base + n_inc
        assert n_exchanges(formatted_plan(_join_on_block(tbl4))) == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_partitioned_torn_ingest_cleaned_across_dirs(
        spark, tmp_path, no_broadcast):
    """Orphan cleanup must reach INSIDE partition dirs: commit an append
    without recording it (SIGKILL between commit and marker write), then
    verify the redo leaves exactly one ingest's rows and no stray .crc
    shadows in any day dir."""
    from setsm_postprocessing_python_spark.sources import bucketed as B

    table = "t_pb_torn"
    path = str(tmp_path / "layout")
    p = Path(path)
    try:
        tbl, _ = B.ensure_bucketed(
            spark, path, table, build=lambda: _multi_day(spark),
            meta={"grain": "5day"}, n_buckets=4, partition_by="warc_day")
        n_base = tbl.count()
        day5 = (_multi_day(spark, days=1, day0="2024-01-06")
                .withColumn("url", F.concat(F.lit("d5-"), F.col("url"))))
        n_inc = day5.count()
        # torn state: committed files, marker not updated
        (day5.repartition(4, F.col("block")).write.mode("append")
             .partitionBy("warc_day").bucketBy(4, "block").sortBy("block")
             .option("path", path).format("parquet").saveAsTable(table))

        tbl2, did = B.ensure_bucketed_ingest(
            spark, path, table, build=lambda: day5,
            ingest_id="day-2024-01-06", n_buckets=4)
        assert did
        assert tbl2.count() == n_base + n_inc  # not doubled
        assert (tbl2.where("warc_day = date'2024-01-06'").count() == n_inc)
        import json

        rec = json.loads((p / B.LAYOUT_MARKER).read_text())
        assert sorted(rec["files"]) == sorted(
            str(f.relative_to(p)) for f in p.rglob("part-*"))
        for crc in p.rglob(".part-*.crc"):
            rel = str(crc.parent.relative_to(p) / crc.name[1:-4])
            assert rel.lstrip("./") in rec["files"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_pages_by_day_builder(spark, tmp_path, no_broadcast):
    """The pages-table convenience builder: same rows as the flat
    derivation plus block + warc_day, bucket spec intact."""
    from setsm_postprocessing_python_spark.sources import bucketed as B

    table = "t_pb_pages"
    try:
        tbl, did = B.ensure_bucketed_pages_by_day(
            spark, SF, str(tmp_path / "layout"), table=table, n_buckets=4)
        assert did
        flat = B.blocked_pages(spark, SF)
        assert tbl.count() == flat.count()
        assert {"block", "warc_day"} <= set(tbl.columns)
        assert (tbl.drop("warc_day").exceptAll(flat).isEmpty()
                and flat.exceptAll(tbl.drop("warc_day")).isEmpty())
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
