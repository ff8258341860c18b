"""Morphology over the occupied-cell set — imerode/imdilate/bwboundaries.

Reference semantics (citations into /root/reference):
- imdilate/imerode, binary, radius-r square kernels
  (lib/raster_array_tools.py:2270-2403),
- bwboundaries_array: 1-px boundary = array != erode(array)
  (lib/raster_array_tools.py:2441-2538),
- max1d - min1d range filter feeding the water mask
  (lib/filter_scene.py:1354-1356).

Cell-space recast: a binary raster = the set of occupied cells; dilation is
the distinct union of k-rings, erosion keeps cells whose full k-ring is
occupied, boundary = occupied minus eroded. Value-space range filter =
ring max - ring min. All pure DataFrame algebra (explode + aggregate),
two-stage and skew-tolerant. Large radii = iterate (the reference applies
radius-31/61 kernels the same way: repeated small kernels).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .neighborhood import ring_offsets, scatter


def imdilate(cells: DataFrame, ring: int = 1) -> DataFrame:
    """Binary dilation: every cell within `ring` of an occupied cell."""
    return scatter(cells, ring_offsets(ring)).select(
        F.col("target_cell").alias("cell"), F.col("target_x").alias("cell_x"),
        F.col("target_y").alias("cell_y")).distinct()


def imerode(cells: DataFrame, ring: int = 1) -> DataFrame:
    """Binary erosion: occupied cells whose entire (2r+1)^2 neighborhood
    is occupied. Implemented as scatter + count == kernel size (each
    occupied neighbor contributes one vote to the center)."""
    k = (2 * ring + 1) ** 2
    votes = (scatter(cells, ring_offsets(ring))
             .groupBy(F.col("target_cell").alias("cell"))
             .agg(F.count(F.lit(1)).alias("v")))
    occ = cells.select("cell", "cell_x", "cell_y")
    return (occ.join(votes, "cell").where(F.col("v") == k)
            .select("cell", "cell_x", "cell_y"))


def bwboundaries(cells: DataFrame, ring: int = 1) -> DataFrame:
    """Boundary cells: occupied minus eroded (array != erode(array))."""
    eroded = imerode(cells, ring).select("cell")
    return cells.join(eroded, "cell", "left_anti").select(
        "cell", "cell_x", "cell_y")


def ring_range_filter(df: DataFrame, value: str, ring: int = 1) -> DataFrame:
    """max - min of `value` over each occupied cell's k-ring (the
    maximum_filter1d - minimum_filter1d analogue, 2-D form)."""
    per_cell = df.groupBy("cell", "cell_x", "cell_y").agg(
        F.max(value).alias("vmax"), F.min(value).alias("vmin"))
    # occupied flag rides the scatter shuffle — no join back to occupied
    rng = scatter(per_cell, ring_offsets(ring)).groupBy("target_cell").agg(
        (F.max("vmax") - F.min("vmin")).alias("vrange"),
        F.max("_self").alias("_occ"))
    return (rng.where("_occ")
            .select(F.col("target_cell").alias("cell"), "vrange"))
