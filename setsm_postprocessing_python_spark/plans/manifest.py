"""Pipeline stages on the engine's one commit protocol (record.py): the
reference's `.fin` markers (batch_scenes2strips.py:1518-1533), existence-
check job skipping (:884-924) and --remove-incomplete (:1190-1203).

Each stage root out_dir/<stage>/ holds one record mapping every done unit
(the work partition key: group_id / tile_id / pair) to its input
fingerprint, row count and data files. A unit is pending when it is absent
from the record or recorded under another fingerprint, so upstream
changes invalidate exactly the affected units — the lineage check.
"""

from __future__ import annotations

import time
import uuid
from pathlib import Path
from urllib.parse import unquote

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..record import data_files, read_record, remove_unlisted, write_record
from ..session import cache_scope

STAGE_RECORD = "_STAGE_DONE"


def unit_fingerprints(df: DataFrame, unit_col: str) -> DataFrame:
    """(unit, inputs_fingerprint): order-insensitive content hash per unit.
    bit_xor of per-row xxhash64 over all columns — commutative/associative,
    overflow-free — re-hashed with the row count (so exact-duplicate row
    pairs, which cancel under xor, still change the fingerprint)."""
    agg = df.groupBy(F.col(unit_col).cast("string").alias("unit")).agg(
        F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))").alias("_bx"),
        F.count(F.lit(1)).alias("input_rows"))
    return agg.select(
        "unit", F.xxhash64("_bx", "input_rows").alias("inputs_fingerprint"))


def run_stage(spark: SparkSession, stage: str, inputs: DataFrame,
              unit_col: str, transform, out_dir: str) -> dict:
    """Idempotent stage runner.

    transform(df_subset) -> DataFrame to write, keeping the `unit` column.
    The pending units' output goes partitioned by `unit` into a fresh
    attempt directory, and the record listing it is committed after the
    write, so a crash before the commit re-runs those units. One job
    collects the fingerprints; row counts come from the parquet footers.
    The transform runs in one cache_scope: everything it caches is
    released when it returns or raises.
    """
    t0 = time.time()
    root = Path(out_dir) / stage
    rec = read_record(root / STAGE_RECORD) or {"units": {}}
    done = rec["units"]
    remove_unlisted(root, [f for e in done.values() for f in e["files"]])
    fps = {r.unit: r.inputs_fingerprint
           for r in unit_fingerprints(inputs, unit_col).collect()}
    todo = [u for u, fp in fps.items() if done.get(u, {}).get("fp") != fp]
    if todo:
        attempt = f"attempt=a{uuid.uuid4().hex}"
        with cache_scope():
            units = spark.createDataFrame([(u,) for u in todo], "unit string")
            out = transform(
                inputs.withColumn("unit", F.col(unit_col).cast("string"))
                .join(F.broadcast(units), "unit"))
            if "unit" not in out.columns:
                raise ValueError("transform output must keep `unit`")
            out.write.partitionBy("unit").parquet(str(root / attempt))
        written: dict[str, list[str]] = {}
        for rel in data_files(root / attempt):
            unit = unquote(Path(rel).parent.name.split("=", 1)[1])
            written.setdefault(unit, []).append(f"{attempt}/{rel}")
        for u in todo:
            files = written.get(u, [])
            done[u] = {"fp": fps[u], "files": files, "rows": sum(
                pq.read_metadata(root / f).num_rows for f in files)}
        # the read-back column order: partition column last
        rec["schema"] = StructType(
            [f for f in out.schema.fields if f.name != "unit"]
            + [out.schema["unit"]]).jsonValue()
        write_record(root / STAGE_RECORD, rec)
    return {"stage": stage, "units_total": len(fps), "units_run": len(todo),
            "wall_s": time.time() - t0}


def read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    """The committed output of `stage`: exactly the files its record
    lists, with `unit` as a column; an empty frame of the recorded schema
    when no unit has rows. Attempt directories are named as a partition
    level (`attempt=<id>/unit=<u>/`) so files of several attempts share
    the stage root as their one partition base path."""
    root = Path(out_dir) / stage
    rec = read_record(root / STAGE_RECORD)
    if rec is None:
        raise FileNotFoundError(f"no committed stage record under {root}")
    schema = StructType.fromJson(rec["schema"])
    files = [str(root / f) for e in rec["units"].values() for f in e["files"]]
    if not files:
        return spark.createDataFrame([], schema)
    return (spark.read.schema(schema).option("basePath", str(root))
            .parquet(*files).drop("attempt"))
