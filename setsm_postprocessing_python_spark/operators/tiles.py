"""Quad-tree tiles + point-in-polygon tile assignment.

Reference semantics: mosaic-tile gridding + footprint Intersection tests
(lib/scenes2strips.py:963-981, OGR geometry ops). Engine recast: tile
boundaries are quad-tree rectangles over the lat/lon plane; assignment is a
broadcast prepared-geometry point-in-polygon executed as a *vectorized
numpy* pandas UDF (no per-row Python, per the north rule; shapely is not in
this container so the prepared-geometry step is a numpy rect-index +
ray-casting polygon test with identical closed-lower/open-upper semantics).

Scale design:
- the tile table is tiny (thousands of rows) and is BROADCAST — the big
  pages table never shuffles for assignment;
- for fixed-depth tiles the assignment degenerates to pure arithmetic
  (quadkey digits), which the engine uses as the JVM fast path; the pandas
  UDF path exists for arbitrary polygon tiles and is what a general
  tile-boundary table requires;
- adaptive splitting (split tile while count > max_pages, the analogue of
  the reference's coarse-then-refine tiling, lib/filter_scene.py:489-492)
  runs fully distributed: per-level prefix rollups of the deep-quadkey
  counts pick each page's leaf, and pages join that leaf map; the driver
  never holds the tile tree.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType

from ..sql import dialect as D


@dataclass(frozen=True)
class Tile:
    tile_id: str          # 'q' + quadrant digits, e.g. 'q0312'
    depth: int
    xmin: float           # lon bounds [xmin, xmax)
    xmax: float
    ymin: float           # lat bounds [ymin, ymax)
    ymax: float
    parent_tile_id: str | None


def _children(t: Tile) -> list[Tile]:
    xm = (t.xmin + t.xmax) / 2.0
    ym = (t.ymin + t.ymax) / 2.0
    quads = [
        ("0", t.xmin, xm, t.ymin, ym),   # digit = 2*y_bit + x_bit
        ("1", xm, t.xmax, t.ymin, ym),
        ("2", t.xmin, xm, ym, t.ymax),
        ("3", xm, t.xmax, ym, t.ymax),
    ]
    return [
        Tile(t.tile_id + d, t.depth + 1, x0, x1, y0, y1, t.tile_id)
        for d, x0, x1, y0, y1 in quads
    ]


ROOT = Tile("q", 0, -180.0, 180.0, -90.0, 90.0, None)


def fixed_depth_tiles(depth: int = D.TILE_DEPTH) -> list[Tile]:
    """Full quad-tree at `depth` (4 -> 256 tiles), deterministic."""
    level = [ROOT]
    for _ in range(depth):
        level = [c for t in level for c in _children(t)]
    return level


# ---------------------------------------------------------------------------
# PIP assignment — broadcast prepared geometries in a pandas UDF
# ---------------------------------------------------------------------------

def _prepare_rects(tiles: list[Tile]):
    """'Prepared geometry': sorted bound arrays for vectorized containment."""
    ids = np.array([t.tile_id for t in tiles])
    xmin = np.array([t.xmin for t in tiles])
    xmax = np.array([t.xmax for t in tiles])
    ymin = np.array([t.ymin for t in tiles])
    ymax = np.array([t.ymax for t in tiles])
    return ids, xmin, xmax, ymin, ymax


def assign_tiles_pip(df: DataFrame, tiles: list[Tile],
                     lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Add `tile_id` via broadcast rectangle PIP (closed-lower/open-upper).

    The tile list is closed over by the UDF (Spark broadcasts the pickled
    closure to every executor once). Containment is a fully vectorized
    numpy digitize over the quad-tree bounds — O(n log m) per batch, zero
    per-row Python. Matches reference OGR Intersection semantics for
    axis-aligned tile polygons (lib/scenes2strips.py:963-981).
    """
    ids, xmin, xmax, ymin, ymax = _prepare_rects(tiles)
    # leaf rectangles of a quad-tree tile the plane: containment via two
    # binary searches over the distinct bound grids, then an index lookup.
    # A coarse tile (adaptive tree) covers a block of fine grid cells.
    xs = np.unique(xmin)
    ys = np.unique(ymin)
    grid = np.full((len(xs), len(ys)), -1, dtype=np.int32)
    for i in range(len(ids)):
        gx0 = int(np.searchsorted(xs, xmin[i]))
        gx1 = int(np.searchsorted(xs, xmax[i], side="left"))
        gy0 = int(np.searchsorted(ys, ymin[i]))
        gy1 = int(np.searchsorted(ys, ymax[i], side="left"))
        grid[gx0:max(gx1, gx0 + 1), gy0:max(gy1, gy0 + 1)] = i

    from pyspark.sql.types import IntegerType

    # the UDF returns a fixed-width int32 tile INDEX (cheap Arrow traffic,
    # no per-row Python string building); the string tile_id comes from a
    # JVM-side literal-array lookup over the broadcast id list
    @F.pandas_udf(IntegerType())
    def pip_index(lat_s: pd.Series, lon_s: pd.Series) -> pd.Series:
        gx = np.searchsorted(xs, lon_s.to_numpy(), side="right") - 1
        gy = np.searchsorted(ys, lat_s.to_numpy(), side="right") - 1
        gx = np.clip(gx, 0, len(xs) - 1)
        gy = np.clip(gy, 0, len(ys) - 1)
        return pd.Series(grid[gx, gy], dtype="int32")

    if len(ids) <= 1024:
        # JVM-side literal-array decode of the int index
        ids_arr = F.array(*[F.lit(t) for t in ids])
        idx = pip_index(F.col(lat), F.col(lon))
        return df.withColumn(
            "tile_id",
            F.when(idx >= 0, F.element_at(ids_arr, idx + 1)))

    # huge tile tables: a thousands-element literal array bloats codegen;
    # decode via a broadcast join on the index instead (still no per-row
    # Python strings through Arrow)
    spark = df.sparkSession
    lut = spark.createDataFrame(
        [(int(i), str(t)) for i, t in enumerate(ids)],
        "tile_idx int, tile_id string")
    out = df.withColumn("tile_idx", pip_index(F.col(lat), F.col(lon)))
    return (out.join(F.broadcast(lut), "tile_idx", "left")
            .drop("tile_idx"))


def assign_tiles_quadkey(df: DataFrame, depth: int = D.TILE_DEPTH,
                         lat: str = "lat", lon: str = "lon") -> DataFrame:
    """JVM fast path: quadkey arithmetic, identical output to the PIP path
    for fixed-depth tiles. Used in the hot loop at scale (stays inside
    WholeStageCodegen; the PIP UDF is for irregular tile tables)."""
    return df.withColumn("tile_id", F.expr(D.quadkey_expr(D.SPARK, lat, lon, depth)))


# ---------------------------------------------------------------------------
# general polygon PIP (ray casting) — for non-rectangular tile boundaries
# ---------------------------------------------------------------------------

def point_in_polygon(px: np.ndarray, py: np.ndarray,
                     poly: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting; poly is (k,2) [x,y] ring (closed or
    open). Edge rule: a point exactly on a lower/left edge is inside, on an
    upper/right edge outside — consistent with the rectangle rule."""
    x0, y0 = poly[:-1, 0], poly[:-1, 1]
    x1, y1 = poly[1:, 0], poly[1:, 1]
    px = px[:, None]
    py = py[:, None]
    cond = (y0[None, :] <= py) != (y1[None, :] <= py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0[None, :] + (py - y0[None, :]) * (x1 - x0)[None, :] / (y1 - y0)[None, :]
    crossings = (cond & (px <= xint)).sum(axis=1)
    return (crossings % 2).astype(bool)


def assign_polygons_pip(df: DataFrame, polys: dict[str, np.ndarray],
                        lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Assign `tile_id` by general-polygon PIP (first match in sorted id
    order). Polygons are broadcast; each Arrow batch is tested with the
    vectorized ray caster. Bounding-box prefilter = the 'prepared geometry'
    shortcut."""
    items = sorted(polys.items())
    rings = [np.asarray(p, dtype=np.float64) for _, p in items]
    rings = [np.vstack([r, r[:1]]) if (r[0] != r[-1]).any() else r for r in rings]
    names = [n for n, _ in items]
    bbox = np.array([[r[:, 0].min(), r[:, 0].max(), r[:, 1].min(), r[:, 1].max()]
                     for r in rings])

    @F.pandas_udf(StringType())
    def poly_assign(lat_s: pd.Series, lon_s: pd.Series) -> pd.Series:
        px = lon_s.to_numpy(dtype=np.float64)
        py = lat_s.to_numpy(dtype=np.float64)
        out = np.full(len(px), None, dtype=object)
        unassigned = np.ones(len(px), dtype=bool)
        for i, ring in enumerate(rings):
            cand = unassigned & (px >= bbox[i, 0]) & (px <= bbox[i, 1]) \
                   & (py >= bbox[i, 2]) & (py <= bbox[i, 3])
            if not cand.any():
                continue
            hit = point_in_polygon(px[cand], py[cand], ring)
            idx = np.flatnonzero(cand)[hit]
            out[idx] = names[i]
            unassigned[idx] = False
        return pd.Series(out)

    return df.withColumn("tile_id", poly_assign(F.col(lat), F.col(lon)))


# ---------------------------------------------------------------------------
# adaptive quad-tree (split while count > max_pages)
# ---------------------------------------------------------------------------

def adaptive_leaf_map(df: DataFrame, max_pages: int, max_depth: int = 12,
                      lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Distributed adaptive quad-tree: (qk_deep, tile_id) leaf mapping.

    Split-while-count>max_pages is equivalent (subtree counts are monotone
    non-increasing with depth) to: a page's leaf = its SHORTEST quadkey
    prefix whose subtree count <= max_pages, depth-capped at max_depth.
    Execution: one groupBy on the max-depth quadkey (the only scan of the
    big table), then per-level prefix rollups of that small key table, one
    explode+join+min-agg to pick each deep key's leaf level. No driver-side
    count folding — the old formulation collected every max-depth count and
    folded subtree sums quadratically on the driver.

    All internal keys are INT64-PACKED quadkey paths (2 bits/level,
    sql/dialect.py:quadkey_int_expr): every shuffle row carries a fixed
    8-byte key instead of a 13+-byte string, prefixing is a shiftright
    instead of a substring, and only the output boundary re-renders the
    string tile_id (base-4 conv + lpad — bit-identical to the string
    pipeline, pinned by test_plan_shapes)."""
    keys = (df.select(F.expr(D.quadkey_int_expr(lat, lon, max_depth))
                      .alias("qk"))
            .groupBy("qk").agg(F.count(F.lit(1)).alias("n")))
    # per-level counts: successive rollups of the (small) key table
    lvl_counts = keys.select(F.lit(max_depth).alias("lvl"),
                             F.col("qk").alias("pfx"), "n")
    cur = keys
    for lvl in range(max_depth - 1, -1, -1):
        cur = (cur.groupBy(F.shiftright("qk", 2).alias("qk"))
               .agg(F.sum("n").alias("n")))
        lvl_counts = lvl_counts.unionByName(
            cur.select(F.lit(lvl).alias("lvl"), F.col("qk").alias("pfx"), "n"))
    # each deep key exploded to its prefix chain; leaf level = first level
    # whose count fits (NULL -> depth cap)
    prefixes = F.array(*[
        F.struct(F.lit(lvl).alias("lvl"),
                 F.shiftright(F.col("qk"), 2 * (max_depth - lvl)).alias("pfx"))
        for lvl in range(0, max_depth + 1)])
    kx = (keys.select("qk", F.explode(prefixes).alias("p"))
          .select("qk", F.col("p.lvl").alias("lvl"), F.col("p.pfx").alias("pfx")))
    leaf = (kx.join(lvl_counts, ["lvl", "pfx"])
            .groupBy("qk")
            .agg(F.min(F.when(F.col("n") <= max_pages, F.col("lvl")))
                 .alias("leaf_lvl")))
    leaf = leaf.withColumn("leaf_lvl",
                           F.coalesce("leaf_lvl", F.lit(max_depth)))
    return leaf.select(
        "qk",
        F.expr(f"concat('q', lpad(conv(shiftright(qk, "
               f"2 * ({max_depth} - leaf_lvl)), 10, 4), leaf_lvl, '0'))")
        .alias("tile_id"))


def assign_tiles_adaptive(df: DataFrame, max_pages: int, max_depth: int = 12,
                          lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Adaptive-tile assignment, fully distributed.

    Joins the pages (keyed by their max-depth quadkey, pure JVM
    arithmetic) against the adaptive_leaf_map output on that deep key.
    Zero driver-side collection at any input size: the leaf map lives
    distributed, the join co-partitions on the deep key (AQE may
    broadcast it when small)."""
    leaf = (adaptive_leaf_map(df, max_pages, max_depth, lat, lon)
            .withColumnRenamed("qk", "_qk"))
    # join key is the packed int64 quadkey — 8 fixed bytes per row in the
    # page-side exchange instead of a 13+-byte string
    with_qk = df.withColumn(
        "_qk", F.expr(D.quadkey_int_expr(lat, lon, max_depth)))
    return with_qk.join(leaf, "_qk").drop("_qk")
