"""Operators are lazy plan builders: building their plans fires no Spark
job. Each build runs under its own job group, and the group's job ids are
read from the status tracker once the listener bus has drained."""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F

from setsm_postprocessing_python_spark.operators import components
from setsm_postprocessing_python_spark.operators import dedup as DD
from setsm_postprocessing_python_spark.operators import merge as M
from setsm_postprocessing_python_spark.operators.flags import with_flags
from setsm_postprocessing_python_spark.operators.similarity import lsh_topk
from setsm_postprocessing_python_spark.plans import queries_ext as QE
from setsm_postprocessing_python_spark.plans import queries_ref as QR
from setsm_postprocessing_python_spark.plans.manifest import (
    read_stage,
    run_stage,
)
from setsm_postprocessing_python_spark.session import cache_scope
from setsm_postprocessing_python_spark.sources import bucketed as B
from setsm_postprocessing_python_spark.sources.pages import (
    bucketed_pages_active,
    geocoded_pages,
    pages,
)

from .conftest import SF_TINY


def _build_jobs(spark, build) -> int:
    """Number of jobs fired while `build()` runs."""
    sc = spark.sparkContext
    group = f"build:{uuid.uuid4().hex}"
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, "build")
    try:
        build()
    finally:
        if outer is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(outer, "build")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_build_counts_jobs(spark):
    """The probe itself sees a job that a build fires."""
    assert _build_jobs(spark, lambda: spark.range(10).count()) > 0


def test_dedup_builds_fire_no_job(spark):
    docs = pages(spark, SF_TINY).select(
        "doc_id", F.md5("text").alias("k"), "text")
    groups = DD.collapse_exact(docs, "k", keep=["text"])
    with cache_scope():
        assert _build_jobs(spark, lambda: DD.collapse_exact(
            docs, "k", keep=["text"])) == 0
        assert _build_jobs(spark, lambda: DD.expand(docs, groups, "k")) == 0
        assert _build_jobs(spark, lambda: DD.exact_dedup(docs)) == 0
        assert _build_jobs(spark, lambda: DD.near_dup_pipeline(docs)) == 0


def test_deduplicate_fires_only_the_component_loop(spark, monkeypatch):
    """deduplicate's one source of jobs is the connected-components
    fixpoint loop (each round checks convergence); the collapse, the LSH
    over representatives and the expansion to documents fire none."""
    loop_jobs = []
    cc = components.cc_from_edges

    def counted(*args, **kwargs):
        out = []
        loop_jobs.append(_build_jobs(
            spark, lambda: out.append(cc(*args, **kwargs))))
        return out[0]

    monkeypatch.setattr(components, "cc_from_edges", counted)
    docs = pages(spark, SF_TINY)
    with cache_scope():
        jobs = _build_jobs(spark, lambda: DD.deduplicate(docs))
    assert loop_jobs and loop_jobs[0] > 0
    assert jobs == 0


def test_lsh_topk_build_fires_no_job(spark):
    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    assert _build_jobs(spark, lambda: lsh_topk(
        emb, dim=64, k=3, n_hint=500)) == 0


def test_source_and_query_builds_fire_no_job(spark):
    """Reads take their schema and row count from the parquet footers, so
    building a source, or a query over one, infers and counts nothing."""
    assert not bucketed_pages_active(spark, SF_TINY)
    assert _build_jobs(spark, lambda: pages(spark, SF_TINY)) == 0
    assert _build_jobs(spark, lambda: geocoded_pages(spark, SF_TINY)) == 0
    assert _build_jobs(spark, lambda: QE.q_near_dup(spark, SF_TINY)) == 0
    assert _build_jobs(spark, lambda: QE.q_ann_lsh(spark, SF_TINY)) == 0


def test_fill_holes_build_fires_no_job(spark):
    """The hole fill is one lazy applyInPandas over the frame: its bbox and
    its budget guard are evaluated when the frame runs, not while it
    builds."""
    assert _build_jobs(spark, lambda: QR.q_fill_holes(spark, SF_TINY)) == 0


def test_strip_assembly_builds_fire_no_job(spark):
    """The strip-assembly operators build their plans (cogrouped fits,
    block-grain caches) without running any of them."""
    gp = geocoded_pages(spark, SF_TINY)
    fgp = with_flags(gp)
    held = spark.createDataFrame(
        [("pair0", "host0", "host1", 16, 1, 1.0, 0.2, 0.1, 0.5, "ok")],
        M.COREG_SCHEMA)
    with cache_scope():
        for build in (lambda: M.coregister_pairs(gp, M.host_pair),
                      lambda: M.strip_assemble(fgp),
                      lambda: M.strip_assemble(fgp, coreg=held),
                      lambda: M.feather_blend(fgp),
                      lambda: M.feather_weight_field(gp),
                      lambda: M.merge_order(M.with_footprint(gp))):
            assert _build_jobs(spark, build) == 0


def test_activating_a_committed_layout_fires_no_job(spark, tmp_path):
    """A committed layout is served from its marker: in the session that
    wrote it (the catalog location check, DESCRIBE FORMATTED, is a
    command, not a job) and after DROP TABLE (the DDL re-registration),
    neither ensure_bucketed_pages nor the activation nor a pages read
    built over the activated table fires a job."""
    path, table = str(tmp_path / "bkt"), "t_bkt_activate"

    def activate():
        _, did = B.ensure_bucketed_pages(spark, SF_TINY, path, table)
        assert not did
        B.activate_bucketed_pages(spark, table, SF_TINY)
        assert bucketed_pages_active(spark, SF_TINY)
        geocoded_pages(spark, SF_TINY)

    try:
        assert B.ensure_bucketed_pages(spark, SF_TINY, path, table)[1]
        assert _build_jobs(spark, activate) == 0
        B.deactivate_bucketed_pages(spark)
        spark.sql(f"DROP TABLE {table}")
        assert _build_jobs(spark, activate) == 0
    finally:
        B.deactivate_bucketed_pages(spark)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_read_stage_fires_no_job(spark, tmp_path):
    """More files and more units than Spark lists without a job
    (spark.sql.sources.parallelPartitionDiscovery.threshold, 32)."""
    inputs = spark.range(200).withColumn("u", F.col("id") % 50)
    run_stage(spark, "s", inputs.repartition(3), "u", lambda df: df,
              str(tmp_path))
    files = list((tmp_path / "s").rglob("*.parquet"))
    assert len(files) > 32
    out = []
    assert _build_jobs(spark, lambda: out.append(
        read_stage(spark, str(tmp_path), "s"))) == 0
    assert out[0].count() == 200
    assert out[0].select("unit").distinct().count() == 50
