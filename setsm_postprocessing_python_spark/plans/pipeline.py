"""End-to-end pipeline: the run_s2s analogue (reference
batch_scenes2strips.py:962-1565) as a chain of committed stages.

    pages -> geocode+flags -> tile assign -> merge order
          -> coregister (pass 1) -> strip_assemble (pass 2, holds pass-1
          translations) -> per-tile rollup

The coregister/strip_assemble split is the reference's two-pass coreg-step
-> mosaic-step structure: pass 1 fits and PERSISTS the per-pair
translations (saveStripMeta / readStripMeta_stats,
batch_scenes2strips.py:2139-2176); pass 2 reads the committed stage back
and passes it as strip_assemble(coreg=), the held trans_guess
(HOLD_GUESS_ALL, batch_scenes2strips.py:1419-1428) — a resumed or re-run
mosaic pass never re-fits, it consumes the persisted translations.

Every stage writes through plans/manifest.run_stage: output partitioned by
the stage's unit (group_id or tile_id), committed by one record per stage
that lists each unit's input fingerprint, row count and files; later
stages read it back through read_stage. Killing the job between stages
(or mid-write) and re-running converges to the identical final state —
the .fin resume semantics, now with lineage invalidation.

Execution shape at scale: each stage is one Spark write job plus one
fingerprint job; units are the parallelism grain; the record stays tiny.
No driver-side loops over data."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from ..operators import merge as M
from ..operators.flags import with_flags
from ..operators.tiles import assign_tiles_quadkey
from ..sources.pages import geocoded_pages
from .manifest import read_stage, run_stage


def run_pipeline(spark: SparkSession, sf_dir: str, workdir: str) -> list[dict]:
    """Run all stages idempotently under workdir/{layout,out}.

    Stage 0 is the LAYOUT JOB (round 6): pages are written once bucketed
    by the spatial join block (sources/bucketed.py — the engine's central
    shuffle lever, proven 2->0 Exchanges in BENCH/BUCKETED.md) and every
    downstream stage reads the bucketed table via the activated pages
    indirection. The write carries its own kill-safe marker protocol
    (ensure_bucketed_pages), so a SIGKILL mid-layout-write converges on
    restart exactly like the stages, on the same commit record."""
    from ..sources.bucketed import (activate_bucketed_pages,
                                    deactivate_bucketed_pages,
                                    ensure_bucketed_pages)

    out_dir = f"{workdir}/out"
    results = []

    ensure_bucketed_pages(spark, sf_dir, f"{workdir}/layout",
                          table="pipeline_pages_bucketed", n_buckets=8)
    activate_bucketed_pages(spark, "pipeline_pages_bucketed", sf_dir)
    try:
        return _run_stages(spark, sf_dir, out_dir, results)
    finally:
        # the activation conf is session-global: never leak it past this
        # pipeline run (a later query on the same session could otherwise
        # read a dropped/stale table)
        deactivate_bucketed_pages(spark)


def _run_stages(spark: SparkSession, sf_dir: str, out_dir: str,
                results: list) -> list[dict]:
    base = with_flags(geocoded_pages(spark, sf_dir))

    # stage 1: geocode + flags, partitioned by host group
    def t_geocode(df):
        return df.select("unit", "url", "doc_id", "lat", "lon",
                         "cell", "cell_x", "cell_y", "flags", "n_chars")
    results.append(run_stage(spark, "geocode", base, "group_id",
                             t_geocode, out_dir))
    geocoded = read_stage(spark, out_dir, "geocode")

    # stage 2: tile assignment (quadkey fast path), unit = tile
    with_tiles = assign_tiles_quadkey(geocoded)

    def t_tiles(df):
        return df.select("unit", "url", "lat", "lon", "cell", "flags")
    results.append(run_stage(spark, "tile_assign", with_tiles, "tile_id",
                             t_tiles, out_dir))

    # stage 3: merge ordering per host group
    fp = M.with_footprint(
        geocoded.join(
            base.select("url", "group_id"), "url", "inner"))

    def t_order(df):
        ordered = M.merge_order(df.drop("unit"))
        return ordered.withColumn("unit", F.col("group_id"))
    results.append(run_stage(spark, "merge_order", fp, "group_id",
                             t_order, out_dir))

    # stage 4 (pass 1): coregistration per host pair, translations persisted
    paired = base.withColumn("pair", M.host_pair(F.col("group_id")))

    def t_coreg(df):
        out = M.coregister_pairs(df.drop("unit"), M.host_pair)
        return out.withColumn("unit", F.col("pair"))
    results.append(run_stage(spark, "coregister", paired, "pair",
                             t_coreg, out_dir))

    # stage 5 (pass 2): strip assembly HOLDING the persisted translations —
    # the mosaic pass consumes readStripMeta_stats-style prior trans as
    # trans_guess and runs zero fits of its own
    coreg_prior = read_stage(spark, out_dir, "coregister")

    def t_strip(df):
        # SYNTHETIC_Z_MAX_RMSE, not the reference metre default: with the
        # md5 z field every fit carries ~30 RMSE of noise and cutoff 1
        # would segment-break every pair, leaving the blend path dead
        out = M.strip_assemble(df.drop("unit"), coreg=coreg_prior,
                               max_rmse=M.SYNTHETIC_Z_MAX_RMSE)
        return out.withColumn("unit", F.col("pair"))
    results.append(run_stage(spark, "strip_assemble", paired, "pair",
                             t_strip, out_dir))

    # stage 6: per-tile rollup (strip summary stats analogue)
    assigned = read_stage(spark, out_dir, "tile_assign")

    def t_rollup(df):
        return (df.groupBy("unit")
                .agg(F.count(F.lit(1)).alias("n_pages"),
                     F.sum(F.when(F.col("flags") > 0, 1).otherwise(0))
                      .alias("n_flagged"),
                     F.expr("bit_or(flags)").alias("flags_merged")))
    results.append(run_stage(spark, "tile_rollup", assigned, "unit",
                             t_rollup, out_dir))
    return results
