"""Bitmask flags algebra — the engine's analogue of the reference bitmask.

Reference semantics: uint8 mask, bit 0 = EDGE, bit 1 = WATER, bit 2 = CLOUD
(lib/filter_scene.py:39-48; README bit table). Operations reproduced:
- flag computation from per-page statistics (mask_v2 predicate style,
  lib/filter_scene.py:461-679, recast to text statistics),
- bit-unset filtering: clear unselected bits, then mask>0
  (lib/scenes2strips.py:1160-1174, batch_mask.py:853-866),
- bit_or merge across members of a group (lib/scenes2strips.py:691;
  nodata_policy_stats' census and feather_blend's flags_merged),
- mask application: value -> NULL where selected bits set
  (batch_mask.py:944-958 nodata policy, engine uses NULL never sentinels).

All pure JVM bit expressions — whole-stage codegen, no UDFs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..sql import dialect as D

BIT_EDGE = 1 << D.BIT_EDGE
BIT_WATER = 1 << D.BIT_WATER
BIT_CLOUD = 1 << D.BIT_CLOUD


def with_flags(df: DataFrame, text: str = "text", n_chars: str = "n_chars") -> DataFrame:
    """Compute the 3-bit `flags` column from page statistics."""
    return df.withColumn("flags", F.expr(D.flags_expr(D.SPARK, text, n_chars)))


def unset_bits(df: DataFrame, nowater: bool = False, nocloud: bool = False,
               flags: str = "flags") -> DataFrame:
    """Clear WATER/CLOUD bits per the reference's mask-select semantics
    (lib/scenes2strips.py:1160-1174): mask &= ~(1<<bit)."""
    keep = 0xFF
    if nowater:
        keep &= ~BIT_WATER
    if nocloud:
        keep &= ~BIT_CLOUD
    return df.withColumn(flags, F.col(flags).bitwiseAND(F.lit(keep)))


def masked(df: DataFrame, value_col: str, flags: str = "flags") -> DataFrame:
    """Apply mask: value -> NULL where any selected flag bit remains set
    (batch_mask.py:853-866 + nodata policy 944-958; NULL = nodata)."""
    return df.withColumn(
        value_col,
        F.when(F.col(flags) > 0, F.lit(None)).otherwise(F.col(value_col)),
    )


# ---------------------------------------------------------------------------
# nodata policy family (batch_mask.py:944-958) — the masked-write
# projection modes: same / add / switch / convert / unset
# ---------------------------------------------------------------------------

NODATA_MASKVAL = -9999.0       # the masking value written over selected cells
NODATA_SRC_SENTINEL = -1.0     # the source's declared nodata (src variant)
NODATA_POLICIES = ("same", "add", "switch", "convert", "unset")


def nodata_policy_stats(df: DataFrame, group: str = "group_id",
                        z: str = "z", flags: str = "flags",
                        include_census: bool = False) -> DataFrame:
    """The batch_mask nodata-option family (batch_mask.py:944-958) over
    the masked write path, evaluated for BOTH source cases (a source with
    a declared nodata sentinel and one without — the reference's
    src_nodataval None branches):

    every policy writes maskval over mask-selected cells
    (dst_array[mask] = maskval); then
    - same:    declared dst nodata = the src nodata (None if unset),
    - add:     src nodata if set, else maskval,
    - switch:  maskval,
    - convert: cells equal to the src nodata are REWRITTEN to maskval
               (dst_array[dst_array == src_nodataval] = maskval) and the
               declared nodata is maskval,
    - unset:   no declared nodata.

    Output grain: (group, policy, has_src_nodata) with the declared
    nodata value, the count of cells that READ as nodata under it, and
    the sum of live values — the full observable behavior of the masked
    write under each policy.

    Plan shape: ONE scan + one groupBy computes five per-group partials;
    the 5x2 policy table is a broadcast cross join and every policy
    column is JVM CASE algebra over the partials — adding policies costs
    nothing at scale.

    include_census: also emit the flagged-page census columns
    (n_flagged, flags_merged, n_pages) on every row — they ride the SAME
    groupBy (n_flagged IS the masked count, n_pages the row count), so a
    caller that wants both never pays a second scan."""
    src_is_nod = F.col(z) < 10.0  # sentinel-carrying source cells (~10 %)
    masked_sel = F.col(flags) > 0
    per_group = df.groupBy(group).agg(
        F.sum(F.when(masked_sel, 1).otherwise(0)).alias("a"),
        F.sum(F.when(~masked_sel & src_is_nod, 1).otherwise(0)).alias("b"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(~masked_sel & ~src_is_nod, F.col(z))
              .otherwise(0.0)).alias("s_src"),
        F.sum(F.when(~masked_sel, F.col(z)).otherwise(0.0)).alias("s_ns"),
        F.expr(f"cast(bit_or({flags}) as int)").alias("_fm"))
    spark = df.sparkSession
    pol = spark.createDataFrame(
        [(p, s) for p in NODATA_POLICIES for s in (True, False)],
        "policy string, has_src_nodata boolean")
    x = per_group.crossJoin(F.broadcast(pol))
    mv, sv = F.lit(NODATA_MASKVAL), F.lit(NODATA_SRC_SENTINEL)
    p, src = F.col("policy"), F.col("has_src_nodata")
    nodata_val = (
        F.when(p.isin("switch", "convert"), mv)
         .when((p == "add") & ~src, mv)
         .when(p.isin("same", "add") & src, sv))           # else NULL (unset)
    n_nodata = (
        F.when(p == "unset", F.lit(0))
         .when(src & p.isin("same", "add"), F.col("b"))
         .when(src & (p == "switch"), F.col("a"))
         .when(src & (p == "convert"), F.col("a") + F.col("b"))
         .when(~src & (p == "same"), F.lit(0))
         .otherwise(F.col("a")))                           # ~src add/switch/convert
    sum_live = (
        F.when(src & p.isin("same", "add"),
               F.col("s_src") + F.col("a") * mv)
         .when(src & (p == "switch"), F.col("s_src") + F.col("b") * sv)
         .when(src & (p == "convert"), F.col("s_src"))
         .when(src & (p == "unset"),
               F.col("s_src") + F.col("a") * mv + F.col("b") * sv)
         .when(~src & p.isin("add", "switch", "convert"), F.col("s_ns"))
         .otherwise(F.col("s_ns") + F.col("a") * mv))      # ~src same/unset
    cols = [F.col(group)]
    if include_census:
        cols += [F.col("a").cast("bigint").alias("n_flagged"),
                 F.col("_fm").alias("flags_merged"),
                 F.col("n").cast("bigint").alias("n_pages")]
    cols += ["policy", "has_src_nodata", nodata_val.alias("nodata_val"),
             n_nodata.cast("bigint").alias("n_nodata"),
             F.round(sum_live, 6).alias("sum_live")]
    return x.select(*cols)
