"""Threshold-replay snapshots — the ithresh_save/ithresh_load analogue.

The reference snapshots mid-pipeline variables so filter thresholds can be
re-tuned interactively without re-running the expensive upstream stages
(lib/filter_scene.py:59-71,1895-1987: ITHRESH_START/ITHRESH_END blocks dump
their inputs; a later run reloads them and re-evaluates only the threshold
logic).

Engine recast: the "variables" are small intermediate DataFrames (per-group
spreads, per-block stats) — snapshot them as parquet keyed by a stage name,
then re-enter the pipeline at the threshold step from the snapshot. At
scale this is the cheap end of the manifest/resume spectrum: the snapshot
is the aggregated (small) table, not the raw scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def ithresh_save(df: DataFrame, workdir: str, name: str) -> str:
    """Snapshot a threshold-input DataFrame for later replay. Returns the
    snapshot path. Overwrite semantics: one snapshot per (workdir, name),
    same idempotent-unit rule as the pipeline stages."""
    path = f"{workdir}/ithresh/{name}"
    df.write.mode("overwrite").parquet(path)
    return path


def ithresh_load(spark: SparkSession, workdir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{workdir}/ithresh/{name}")


def replay_percentile_gate(spark: SparkSession, workdir: str,
                           name: str = "percentile_gate") -> DataFrame:
    """Re-evaluate the adaptive stdev-threshold ladder
    (lib/filter_scene.py:1526-1544) from a saved per-group spread snapshot
    — no upstream scan. The ladder constants are the tunable part; editing
    them and re-running this function is the interactive-tuning loop."""
    snap = ithresh_load(spark, workdir, name)
    thresh = F.expr(
        "CASE WHEN spread < 40 THEN 10.5 WHEN spread < 50 THEN 15.0 "
        "WHEN spread < 75 THEN 19.0 WHEN spread < 90 THEN 27.0 "
        "ELSE 50.0 END")
    return snap.select("group_id", F.round("spread", 6).alias("spread"),
                       thresh.alias("stdev_thresh"))
