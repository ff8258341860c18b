"""Operators are lazy plan builders: building their plans fires no Spark
job. Each build runs under its own job group, and the group's job ids are
read from the status tracker once the listener bus has drained."""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F

from setsm_postprocessing_python_spark.operators import components
from setsm_postprocessing_python_spark.operators import dedup as DD
from setsm_postprocessing_python_spark.operators.similarity import lsh_topk
from setsm_postprocessing_python_spark.plans.manifest import (
    read_stage,
    run_stage,
)
from setsm_postprocessing_python_spark.session import cache_scope
from setsm_postprocessing_python_spark.sources.pages import pages

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
