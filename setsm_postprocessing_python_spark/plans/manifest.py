"""Checkpoint manifest: per-partition lineage + row counts, idempotent resume.

Reference semantics (citations into /root/reference):
- `.fin` completion markers listing consumed inputs
  (batch_scenes2strips.py:1518-1533),
- existence-check job skipping (batch_scenes2strips.py:884-924, 1182-1206),
- `--restart` / `--remove-incomplete` delete partial outputs before rerun
  (batch_scenes2strips.py:1190-1203).

Engine recast:
- a `manifest` parquet table with one row per (stage, unit) where unit is
  the work partition key (group_id / tile_id): columns
  (stage, unit, inputs_fingerprint, row_count, status, wall_s),
- outputs written under out_dir/stage/unit=<val>/ (dynamic partition
  overwrite — rewriting a unit is idempotent),
- resume = anti-join of the unit list against completed manifest rows with
  a matching fingerprint: only missing/stale units recompute,
- the fingerprint is an order-insensitive xor-style hash of the unit's
  input rows (sum of xxhash64 mod 2^62), so upstream changes invalidate
  exactly the affected units — the lineage check.

At cluster scale the manifest stays tiny (one row per unit per stage) and
the anti-join is a broadcast join against it.
"""

from __future__ import annotations

import time
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import cache_scope, cached

MANIFEST_SCHEMA = ("stage string, unit string, inputs_fingerprint bigint, "
                   "row_count bigint, status string, wall_s double")


def unit_fingerprints(df: DataFrame, unit_col: str) -> DataFrame:
    """(unit, inputs_fingerprint): order-insensitive content hash per unit.
    bit_xor of per-row xxhash64 over all columns — commutative/associative,
    overflow-free — re-hashed with the row count (so exact-duplicate row
    pairs, which cancel under xor, still change the fingerprint)."""
    agg = df.groupBy(F.col(unit_col).cast("string").alias("unit")).agg(
        F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))").alias("_bx"),
        F.count(F.lit(1)).alias("input_rows"))
    return agg.select(
        "unit", F.xxhash64("_bx", "input_rows").alias("inputs_fingerprint"),
        "input_rows")


def read_manifest(spark: SparkSession, manifest_dir: str) -> DataFrame:
    p = Path(manifest_dir)
    if not p.exists() or not any(p.glob("*.parquet")):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    # the manifest may have been rewritten in place between runs of the
    # same session (compaction, external repair, the resume tests' forged
    # rewrites): drop Spark's cached file listing or the read fails with
    # FAILED_READ_FILE.FILE_NOT_EXIST on the stale part files
    spark.catalog.refreshByPath(manifest_dir)
    return spark.read.parquet(manifest_dir)


def pending_units(spark: SparkSession, manifest_dir: str, stage: str,
                  fingerprints: DataFrame) -> DataFrame:
    """Units whose (unit, fingerprint) is not already recorded as done —
    the anti-join resume check (reference existence-check semantics, plus
    lineage: a changed input fingerprint makes the unit stale)."""
    man = read_manifest(spark, manifest_dir)
    done = (man.where((F.col("stage") == stage) & (F.col("status") == "done"))
               .select(F.col("unit").alias("d_unit"),
                       F.col("inputs_fingerprint").alias("done_fp")))
    # anti-join on (unit, fingerprint): stale rows from older fingerprints
    # never mask a unit whose inputs changed (last-writer-wins semantics)
    return (fingerprints.join(
                done,
                (fingerprints.unit == done.d_unit)
                & (fingerprints.inputs_fingerprint == done.done_fp),
                "left_anti")
            .select("unit", "inputs_fingerprint"))


def run_stage(spark: SparkSession, stage: str, inputs: DataFrame,
              unit_col: str, transform, out_dir: str, manifest_dir: str) -> dict:
    """Idempotent stage runner.

    transform(df_subset) -> DataFrame to write. Output is partitioned by
    `unit` with dynamic partition overwrite, so re-running a unit replaces
    exactly its files. Manifest rows are appended after the write (the
    `.fin` marker written after outputs, batch_scenes2strips.py:1524-1533);
    a crash between write and manifest append re-runs the unit — safe
    because the write is an overwrite. The stage runs in one cache_scope:
    everything cached while it runs, inside transform too, is released
    when it returns or raises.
    """
    t0 = time.time()
    with cache_scope():  # fps, todo and whatever transform caches
        fps = cached(unit_fingerprints(inputs, unit_col))
        todo = cached(pending_units(spark, manifest_dir, stage, fps))
        n_todo = todo.count()
        n_all = fps.count()
        if n_todo == 0:
            return {"stage": stage, "units_total": n_all, "units_run": 0,
                    "wall_s": time.time() - t0}

        subset = (inputs.withColumn("unit", F.col(unit_col).cast("string"))
                  .join(F.broadcast(todo.select("unit")), "unit", "inner"))
        out = transform(subset)
        if "unit" not in out.columns:
            raise ValueError("transform output must keep the `unit` column")
        (out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("unit").parquet(f"{out_dir}/{stage}"))

        # per-unit row counts of what was written (lineage metrics)
        written = spark.read.parquet(f"{out_dir}/{stage}")
        counts = (written.join(F.broadcast(todo.select("unit")), "unit")
                  .groupBy("unit").agg(F.count(F.lit(1)).alias("row_count")))
        wall = time.time() - t0
        rows = (todo.join(counts, "unit", "left")
                .select(F.lit(stage).alias("stage"), "unit",
                        "inputs_fingerprint",
                        F.coalesce("row_count", F.lit(0)).alias("row_count"),
                        F.lit("done").alias("status"),
                        F.lit(float(wall)).alias("wall_s")))
        rows.write.mode("append").parquet(manifest_dir)
        return {"stage": stage, "units_total": n_all, "units_run": n_todo,
                "wall_s": wall}
