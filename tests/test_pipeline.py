"""End-to-end pipeline: clean run == interrupted-then-resumed run."""

from __future__ import annotations

import json
import shutil
import tempfile
from pathlib import Path

import pytest

from setsm_postprocessing_python_spark.plans.manifest import (
    STAGE_RECORD,
    read_stage,
)
from setsm_postprocessing_python_spark.plans.pipeline import run_pipeline
from setsm_postprocessing_python_spark.session import cache_scope

from .conftest import persisted_rdd_ids

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def workdirs():
    a = tempfile.mkdtemp(prefix="pipe_clean_")
    b = tempfile.mkdtemp(prefix="pipe_resume_")
    yield a, b
    shutil.rmtree(a, ignore_errors=True)
    shutil.rmtree(b, ignore_errors=True)


def _final_state(spark, workdir):
    rollup = read_stage(spark, f"{workdir}/out", "tile_rollup")
    order = read_stage(spark, f"{workdir}/out", "merge_order")
    return (
        sorted(map(tuple, rollup.select("unit", "n_pages", "n_flagged",
                                        "flags_merged").collect())),
        sorted(map(tuple, order.select("group_id", "url", "order_idx",
                                       "segment_num").collect())),
    )


def test_pipeline_clean_vs_interrupted_resume(spark, workdirs):
    clean_dir, resume_dir = workdirs

    # clean run; every stage releases its caches (one scope per stage)
    before = persisted_rdd_ids(spark)
    r1 = run_pipeline(spark, SF, clean_dir)
    assert all(s["units_run"] > 0 for s in r1)
    assert not persisted_rdd_ids(spark) - before, "pipeline left caches"

    # interrupted run: run everything, then damage one stage — drop its
    # root, record and outputs together (mid-stage kill analogue)
    run_pipeline(spark, SF, resume_dir)
    shutil.rmtree(Path(resume_dir) / "out" / "tile_rollup")

    # resume: only tile_rollup re-runs; others fingerprint-skip
    before = persisted_rdd_ids(spark)
    r2 = run_pipeline(spark, SF, resume_dir)
    assert not persisted_rdd_ids(spark) - before, "rerun left caches"
    by_stage = {s["stage"]: s for s in r2}
    assert by_stage["geocode"]["units_run"] == 0
    assert by_stage["tile_assign"]["units_run"] == 0
    assert by_stage["merge_order"]["units_run"] == 0
    assert by_stage["coregister"]["units_run"] == 0
    assert by_stage["strip_assemble"]["units_run"] == 0
    assert by_stage["tile_rollup"]["units_run"] > 0

    assert _final_state(spark, clean_dir) == _final_state(spark, resume_dir)


def test_strip_pass2_holds_persisted_translations(spark, workdirs):
    """The mosaic pass consumes the PERSISTED pass-1 translations (the
    readStripMeta_stats -> trans_guess/HOLD_GUESS_ALL path): forcing the
    strip_assemble stage to re-run picks up edits made to the persisted
    coregister output — proof there is no hidden re-fit — and an
    untouched resume reproduces the identical strip output."""
    workdir, _ = workdirs
    run_pipeline(spark, SF, workdir)
    strip1 = sorted(map(tuple, read_stage(
        spark, f"{workdir}/out", "strip_assemble")
        .select("pair", "block", "src", "segment_break").collect()))

    # plain resume: nothing re-runs, output identical
    r2 = run_pipeline(spark, SF, workdir)
    assert {s["stage"]: s["units_run"] for s in r2}["strip_assemble"] == 0
    strip2 = sorted(map(tuple, read_stage(
        spark, f"{workdir}/out", "strip_assemble")
        .select("pair", "block", "src", "segment_break").collect()))
    assert strip1 == strip2

    # rewrite the persisted translations to a perfect usable fit in the
    # coregister stage's listed files (its record and fingerprints stay),
    # drop the strip stage's root (stale-output analogue), re-run: the
    # pass consumes the EDITED translations -> blended rows appear where
    # the genuine fit had segment-broken (no re-fit happened)
    import pyarrow as pa
    import pyarrow.parquet as pq

    coreg = Path(workdir) / "out" / "coregister"
    rec = json.loads((coreg / STAGE_RECORD).read_text())
    fit = {"dz": 0.0, "dx": 0.0, "dy": 0.0, "rmse": 0.0, "status": "ok"}
    for rel in (f for e in rec["units"].values() for f in e["files"]):
        t = pq.ParquetFile(coreg / rel).read()
        t = pa.table([pa.array([fit[c]] * t.num_rows, t[c].type)
                      if c in fit else t[c] for c in t.column_names],
                     schema=t.schema)
        pq.write_table(t, coreg / rel)
        (coreg / rel).with_name(f".{Path(rel).name}.crc").unlink()
    shutil.rmtree(Path(workdir) / "out" / "strip_assemble")

    r3 = run_pipeline(spark, SF, workdir)
    assert {s["stage"]: s["units_run"] for s in r3}["strip_assemble"] > 0
    assert {s["stage"]: s["units_run"] for s in r3}["coregister"] == 0
    strip3 = read_stage(spark, f"{workdir}/out", "strip_assemble")
    assert strip3.where("NOT segment_break").count() > 0
    assert strip3.where("segment_break").count() == 0


def test_registry_cache_release(spark):
    """Cache lifetime of the heavy registered queries. Unscoped (the
    bench's warm-pass protocol) their caches land in the default scope:
    a repeat call reuses the same entries (Spark's CacheManager dedupes
    identical plans) and release_caches() frees them. Inside a
    cache_scope the same calls leave nothing behind once it closes."""
    from setsm_postprocessing_python_spark.plans import queries_ext as QX

    def run_both():
        QX.q_strip_assembly(spark, SF).count()
        QX.q_ann_dedup(spark, SF).count()

    QX.release_caches()  # drop anything an earlier test left behind
    base = persisted_rdd_ids(spark)

    run_both()
    first = persisted_rdd_ids(spark) - base
    assert first, "expected default-scope caches while results are live"
    run_both()
    assert persisted_rdd_ids(spark) - base == first, \
        "registry re-invocation accumulated caches"
    QX.release_caches()
    assert not persisted_rdd_ids(spark) - base, \
        "release_caches left persisted tables"
    QX.release_caches()  # idempotent

    with cache_scope():
        run_both()
        assert persisted_rdd_ids(spark) - base
    assert not persisted_rdd_ids(spark) - base, "the scope left caches"


def test_pipeline_rollup_removes_workdir_at_exit(tmp_path):
    """q_pipeline_rollup's workdir outlives the call (the returned frame
    reads it) but not the process: after a process that ran it exits, no
    spark_graft_pipe_* tree is left in its temp dir."""
    import os
    import subprocess
    import sys

    from .conftest import REPO

    script = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from setsm_postprocessing_python_spark.plans.queries_ext import (
    q_pipeline_rollup)
from setsm_postprocessing_python_spark.session import get_spark

spark = get_spark(parallelism=2, app_name="rollup-exit", shuffle_partitions=4)
assert q_pipeline_rollup(spark, {SF!r}).count() > 0
"""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {**os.environ, "TMPDIR": str(tmp),
           "PYTHONPATH": os.pathsep.join(
               [str(REPO), os.environ.get("PYTHONPATH", "")])}
    done = subprocess.run([sys.executable, "-c", script], env=env,
                          capture_output=True, text=True, timeout=580)
    assert done.returncode == 0, done.stderr[-2000:]
    assert not list(tmp.glob("spark_graft_pipe_*"))
