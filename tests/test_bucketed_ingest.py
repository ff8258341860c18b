"""Incremental ingest into the bucketed layout (round 6).

The layout job (sources/bucketed.ensure_bucketed) is once-per-corpus; at
10^12 rows the table then grows by APPEND — a daily-ingest commit into
the same bucket spec, never a rewrite. These tests pin the three claims
that make the append path production-grade:

  1. the shuffle elimination is a TABLE property: block-keyed equi-joins
     plan ZERO Exchanges over any number of ingests (multiple files per
     bucket), with rows identical to a one-shot write of the union;
  2. the ingest is exactly-once: replaying an applied ingest_id is a
     no-op, and a committed-but-unrecorded append (SIGKILL between the
     write commit and the marker update) is removed and redone —
     the `.fin`/checkfile semantics of reference
     batch_scenes2strips.py:1518-1533 applied to appends;
  3. the protocol survives a fresh session (catalog re-registration via
     the marker DDL keeps the bucket spec, hence the plan shape).
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from .planview import formatted_plan, n_exchanges

SF = "/root/testdata/sf0.001"








def _block_join_count(df):
    left = df.select(F.col("url").alias("ua"), "block")
    right = df.select(F.col("url").alias("ub"), "block")
    return left.join(right, "block").where("ua < ub")


def _layout(spark, tmp_path, table):
    """Base layout = the first half of the sf0.001 pages (by doc hash);
    the ingest = the second half. Deterministic, disjoint, non-trivially
    interleaved across blocks."""
    from setsm_postprocessing_python_spark.sources import bucketed as B

    full = B.blocked_pages(spark, SF, block_shift=12)
    base = full.where("pmod(crc32(url), 2) = 0")
    inc = full.where("pmod(crc32(url), 2) = 1")
    tbl, did = B.ensure_bucketed(
        spark, str(tmp_path / "layout"), table,
        build=lambda: base, meta={"grain": "half0"}, n_buckets=4)
    assert did
    return full, base, inc, tbl


def test_ingest_appends_exactly_once_and_keeps_plan(
        spark, tmp_path, no_broadcast):
    from setsm_postprocessing_python_spark.sources import bucketed as B

    table = "t_ingest_once"
    path = str(tmp_path / "layout")
    try:
        full, base, inc, tbl = _layout(spark, tmp_path, table)
        n_base, n_full = base.count(), full.count()
        assert tbl.count() == n_base < n_full

        tbl2, did = B.ensure_bucketed_ingest(
            spark, path, table, build=lambda: inc,
            ingest_id="half1", n_buckets=4)
        assert did
        assert tbl2.count() == n_full
        # rows == one-shot union (append lost/duplicated nothing)
        assert tbl2.exceptAll(full).isEmpty()
        assert full.exceptAll(tbl2).isEmpty()
        # the 100 TB claim: still ZERO Exchanges with 2 files/bucket
        plan = formatted_plan(_block_join_count(tbl2))
        assert "Bucketed: true" in plan
        assert n_exchanges(plan) == 0

        # replay: the checkfile makes it a no-op
        tbl3, did3 = B.ensure_bucketed_ingest(
            spark, path, table, build=lambda: inc,
            ingest_id="half1", n_buckets=4)
        assert not did3
        assert tbl3.count() == n_full

        # fresh-session analogue: catalog gone, files+marker durable
        spark.sql(f"DROP TABLE {table}")
        tbl4, did4 = B.ensure_bucketed_ingest(
            spark, path, table, build=lambda: inc,
            ingest_id="half1", n_buckets=4)
        assert not did4
        assert tbl4.count() == n_full
        assert n_exchanges(formatted_plan(_block_join_count(tbl4))) == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ingest_removes_unrecorded_append_then_redoes(
        spark, tmp_path, no_broadcast):
    """SIGKILL between the append's write commit and the marker update:
    the files exist but the marker records neither them nor the ingest.
    The next run must remove the orphans (remove-incomplete) and redo the
    ingest — asserting directly on the torn state, which is strictly
    stronger than killing a subprocess and hoping to land in the window
    (the mid-WRITE kill is chaos-tested in test_manifest_resume)."""
    from setsm_postprocessing_python_spark.sources import bucketed as B

    table = "t_ingest_torn"
    path = str(tmp_path / "layout")
    p = Path(path)
    try:
        full, base, inc, tbl = _layout(spark, tmp_path, table)
        n_base, n_full = base.count(), full.count()
        marker = p / B.LAYOUT_MARKER
        rec_before = marker.read_text()

        # commit an append WITHOUT recording it (the torn state)
        (inc.repartition(4, F.col("block"))
            .write.mode("append").bucketBy(4, "block").sortBy("block")
            .option("path", path).format("parquet").saveAsTable(table))
        spark.catalog.refreshTable(table)
        assert spark.table(table).count() == n_full
        assert marker.read_text() == rec_before  # marker untouched
        # plus torn staging from a second, mid-write kill
        (p / "_temporary" / "0").mkdir(parents=True)

        tbl2, did = B.ensure_bucketed_ingest(
            spark, path, table, build=lambda: inc,
            ingest_id="half1", n_buckets=4)
        assert did  # orphans removed, ingest REDONE
        assert tbl2.count() == n_full
        assert tbl2.exceptAll(full).isEmpty()
        assert full.exceptAll(tbl2).isEmpty()
        assert not (p / "_temporary").exists()
        rec = json.loads(marker.read_text())
        assert rec["ingests"] == ["half1"]
        assert sorted(rec["files"]) == sorted(
            f.name for f in p.iterdir() if f.name.startswith("part-"))
        # no stray .crc shadows for removed files
        for crc in p.glob(".part-*.crc"):
            assert crc.name[1:-4] in rec["files"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ingest_guards_spec_and_missing_layout(spark, tmp_path):
    from setsm_postprocessing_python_spark.sources import bucketed as B

    table = "t_ingest_guard"
    path = str(tmp_path / "layout")
    try:
        with pytest.raises(ValueError, match="no completed layout"):
            B.ensure_bucketed_ingest(spark, str(tmp_path / "nope"), table,
                                     build=lambda: None, ingest_id="x")
        full, base, inc, tbl = _layout(spark, tmp_path, table)
        with pytest.raises(ValueError, match="must match"):
            B.ensure_bucketed_ingest(spark, path, table, build=lambda: inc,
                                     ingest_id="x", n_buckets=8)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_register_rejects_same_name_different_path(spark, tmp_path):
    """A catalog entry is trusted only if its LOCATION is the layout's
    path: the same table name registered for another workdir/corpus in
    this session must be re-pointed, not silently served (the failure
    mode: ensure_bucketed(wd1) after ensure_bucketed(wd2) under one name
    returning corpus-2 rows for a corpus-1 activation)."""
    from setsm_postprocessing_python_spark.sources import bucketed as B

    table = "t_register_loc"
    full = B.blocked_pages(spark, SF, block_shift=12)
    a = full.where("pmod(crc32(url), 2) = 0")
    b = full.where("pmod(crc32(url), 2) = 1")
    try:
        B.ensure_bucketed(spark, str(tmp_path / "wd1"), table,
                          build=lambda: a, meta={"grain": "a"}, n_buckets=2)
        n_a = spark.table(table).count()
        B.ensure_bucketed(spark, str(tmp_path / "wd2"), table,
                          build=lambda: b, meta={"grain": "b"}, n_buckets=2)
        n_b = spark.table(table).count()
        # back to wd1: marker matches, so no rewrite — but the catalog
        # entry points at wd2 and MUST be re-registered, not trusted
        tbl, did = B.ensure_bucketed(
            spark, str(tmp_path / "wd1"), table,
            build=lambda: a, meta={"grain": "a"}, n_buckets=2)
        assert not did, "matching marker must not rewrite"
        assert tbl.count() == n_a != n_b
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_torn_marker_is_treated_as_incomplete(spark, tmp_path):
    """A torn (half-written) marker, or one without the `files` list every
    committed layout carries, is an incomplete layout, not a crash:
    ensure_bucketed rewrites, ensure_bucketed_ingest refuses with the
    'run ensure_bucketed first' error. (Markers are committed via
    write-to-temp + rename, so neither can come from a clean commit — it
    must still not wedge the layout forever.)"""
    from setsm_postprocessing_python_spark.sources import bucketed as B

    def tear(marker):
        marker.write_text(marker.read_text()[:17])

    def drop_files(marker):
        rec = json.loads(marker.read_text())
        del rec["files"], rec["ingests"]
        marker.write_text(json.dumps(rec))

    table = "t_torn_marker"
    path = str(tmp_path / "layout")
    full = B.blocked_pages(spark, SF, block_shift=12)
    try:
        B.ensure_bucketed(spark, path, table, build=lambda: full,
                          meta={"grain": "full"}, n_buckets=2)
        marker = Path(path) / B.LAYOUT_MARKER
        for damage in (tear, drop_files):
            damage(marker)
            with pytest.raises(ValueError, match="run ensure_bucketed first"):
                B.ensure_bucketed_ingest(spark, path, table,
                                         build=lambda: full.limit(1),
                                         ingest_id="i1", n_buckets=2)
            tbl, did = B.ensure_bucketed(spark, path, table,
                                         build=lambda: full,
                                         meta={"grain": "full"},
                                         n_buckets=2)
            assert did, f"{damage.__name__} must trigger the rewrite path"
            assert tbl.count() == full.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_rebuild_under_activation_does_not_read_dropped_table(spark):
    """ensure_bucketed_pages while THIS table is the session's activated
    pages source: build() must not resolve through the activation (it
    would read the table just dropped mid-rewrite). The rewrite is forced
    via a block_shift change (stale marker)."""
    import tempfile

    from setsm_postprocessing_python_spark.sources import bucketed as B
    from setsm_postprocessing_python_spark.sources.pages import (
        BUCKETED_TABLE_CONF)

    table = "t_rebuild_active"
    wd = tempfile.mkdtemp(prefix="rebuild_active_")
    path = f"{wd}/layout"
    try:
        B.ensure_bucketed_pages(spark, SF, path, table=table, n_buckets=2,
                                block_shift=12)
        B.activate_bucketed_pages(spark, table, SF)
        tbl, did = B.ensure_bucketed_pages(spark, SF, path, table=table,
                                           n_buckets=2, block_shift=11)
        assert did, "grain change must rewrite"
        assert tbl.count() > 0
        # activation survives the rewrite and serves the fresh table
        assert spark.conf.get(BUCKETED_TABLE_CONF, None) == table
    finally:
        B.deactivate_bucketed_pages(spark)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(wd, ignore_errors=True)
