"""Streaming maintenance of the bucketed layout (round 6): foreachBatch
micro-batches append into the bucket(N, block) table through the
exactly-once ingest protocol — batch replay is a no-op, the layout's
shuffle-elimination contract survives continuous growth."""

from __future__ import annotations

import json
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def src_dir(spark):
    """Pages (with the block column) split across several files so
    maxFilesPerTrigger yields multiple micro-batches."""
    from setsm_postprocessing_python_spark.sources import bucketed as B

    d = Path(tempfile.mkdtemp(prefix="stream_layout_")) / "pages"
    B.blocked_pages(spark, SF, block_shift=12).repartition(4) \
        .write.parquet(str(d))
    yield str(d)
    shutil.rmtree(d.parent, ignore_errors=True)


def test_stream_maintains_layout_exactly_once(spark, src_dir, tmp_path):
    from .planview import formatted_plan, n_exchanges
    from setsm_postprocessing_python_spark.sources import bucketed as B
    from setsm_postprocessing_python_spark.streaming.stream import (
        write_stream_into_layout)

    table = "t_stream_layout"
    path = str(tmp_path / "layout")
    static = spark.read.parquet(src_dir)
    try:
        # base layout: empty slice of the stream schema (ingests do the rest)
        _, did = B.ensure_bucketed(
            spark, path, table, build=lambda: static.limit(0),
            meta={"stream": table}, n_buckets=4)
        assert did

        stream = (spark.readStream.schema(static.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src_dir))
        q = (write_stream_into_layout(
                stream, path, table,
                checkpoint_dir=str(tmp_path / "ckpt"), n_buckets=4)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

        tbl = spark.table(table)
        n_src = static.count()
        assert tbl.count() == n_src
        assert tbl.exceptAll(static).isEmpty()
        assert static.exceptAll(tbl).isEmpty()

        rec = json.loads((Path(path) / B.LAYOUT_MARKER).read_text())
        assert len(rec["ingests"]) >= 2  # really ran multiple micro-batches
        assert all(i.startswith("stream-batch-") for i in rec["ingests"])

        # crash-replay analogue: re-apply the LAST batch by hand (Structured
        # Streaming re-runs the last uncommitted batch after restart) — the
        # recorded ingest id makes it a no-op
        last = sorted(int(i.rsplit("-", 1)[1]) for i in rec["ingests"])[-1]
        _, did_replay = B.ensure_bucketed_ingest(
            spark, path, table, build=lambda: static.limit(7),
            ingest_id=f"stream-batch-{last}", n_buckets=4)
        assert not did_replay
        assert spark.table(table).count() == n_src

        # the layout contract survives N streamed appends
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            t = spark.table(table)
            j = (t.select(F.col("url").alias("ua"), "block")
                 .join(t.select(F.col("url").alias("ub"), "block"), "block")
                 .where("ua < ub"))
            plan = formatted_plan(j)
            assert "Bucketed: true" in plan
            assert n_exchanges(plan) == 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
