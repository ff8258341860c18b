"""kNN via a halo-block join.

Reference analogue: "most-overlapping neighbor" selection
(lib/scenes2strips.py:979-989). Engine semantics per the north rule:
the k-ring of the query page's cell, rank by distance, row_number() <= k.

Scale design:
- the join key is a block of cells, so this is a plain shuffle equi-join
  (sort-merge or shuffled-hash, AQE decides); the bucketed pages layout
  (sources/bucketed.py) stores the block column and makes the probe side
  shuffle-free;
- only pages near a block edge are duplicated into the neighbouring
  blocks, instead of exploding every page to its (2r+1)^2 ring cells;
- the top-k is a window over url_a; skewed hot blocks are handled by AQE
  skew-join splitting (and operators/skew.py salting for aggregations).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..sql import dialect as D


def ring_offsets(ring: int = 1) -> list[tuple[int, int]]:
    return [(dx, dy) for dy in range(-ring, ring + 1) for dx in range(-ring, ring + 1)]


BLOCK_SHIFT = 6  # 64x64-cell join blocks for the halo strategy


def knn_join_blocked(df: DataFrame, k: int = 3, ring: int = 1,
                     block_shift: int = BLOCK_SHIFT,
                     use_stored_block: bool = False) -> DataFrame:
    """For each page, the k nearest other pages whose cell is within the
    k-ring. Output: url_a, url_b, cell (of a), dist2 (squared degrees),
    rank; deterministic tie-break on url_b.

    The join key is a 64x64-cell block and only pages within `ring` cells
    of a block edge are duplicated into the adjacent block (halo
    duplication — the engine analogue of the reference's interpolation
    pad, lib/scenes2strips.py:316-326). Data expansion is
    ~(1 + 4*ring/2^bs) instead of the naive (2r+1)^2 = 9x k-ring explode;
    the shuffle moves ~8.5x fewer bytes.
    Ring membership is re-checked exactly after the block join.

    block_shift MUST match the cell resolution: blocks are the join
    granularity, so 2^block_shift cells per block axis should yield far
    more blocks than cores (e.g. shift 6 for the 0.005-degree grid, shift
    0-2 for coarse 5-degree kNN cells — shift 6 on a 72-cell-wide coarse
    grid would collapse everything into 2 blocks and go quadratic)."""
    # block-id packing stride: must exceed the max block-x for the chosen
    # shift, or distinct blocks alias into one join key (correct — the
    # exact ring re-check saves it — but the equi-join fans out toward
    # quadratic). Derived from the grid extent instead of a constant.
    stride = (D.LON_CELL_STRIDE >> block_shift) + 1
    # use_stored_block=True: the probe side joins on the caller's
    # materialized `block` column (the bucketed layout,
    # sources/bucketed.py) — a table bucketed by `block` then reports
    # HashPartitioning(block, N) from the scan and Catalyst drops the
    # probe-side Exchange entirely (proven in test_plan_shapes.py). A
    # query-time expression — even the identical formula — would not
    # match the bucketing and the shuffle would silently come back.
    # EXPLICIT opt-in, not auto-detection on column presence: the caller
    # asserts the stored column was materialized at THIS block_shift on
    # THIS cell grid (block_expr) — a mismatched grain (e.g. the
    # merge-module by*64+bx blocks, or a different shift) would produce a
    # disjoint key space and silently empty/missing neighbors.
    have_block = use_stored_block
    if have_block and "block" not in df.columns:
        raise ValueError("use_stored_block=True but df has no `block` "
                         "column (see sources/bucketed.block_expr)")
    sel = df.select(
        "url", "lat", "lon", "cell_x", "cell_y",
        F.shiftright("cell_x", block_shift).alias("bx"),
        F.shiftright("cell_y", block_shift).alias("by"),
        *([F.col("block")] if have_block else []),
    )
    a = sel.select(
        F.col("url").alias("url_a"), F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.col("cell_x").alias("xa"), F.col("cell_y").alias("ya"),
        (F.col("block") if have_block
         else (F.col("by") * stride + F.col("bx"))).alias("block"),
    )
    # build side: replicate to the <=4 blocks its ring can reach
    cand_blocks = F.array_distinct(F.array(*[
        (F.shiftright(F.col("cell_y") + dy, block_shift) * stride
         + F.shiftright(F.col("cell_x") + dx, block_shift))
        for dx in (-ring, ring) for dy in (-ring, ring)
    ] + [(F.col("by") * stride + F.col("bx"))]))
    b = sel.select(
        F.col("url").alias("url_b"), F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.col("cell_x").alias("xb"), F.col("cell_y").alias("yb"),
        F.explode(cand_blocks).alias("block"),
    )
    j = (a.join(b, "block")
          .where((F.col("url_a") != F.col("url_b"))
                 & (F.abs(F.col("xa") - F.col("xb")) <= ring)
                 & (F.abs(F.col("ya") - F.col("yb")) <= ring)))
    j = j.withColumn(
        "dist2",
        (F.col("lat_a") - F.col("lat_b")) * (F.col("lat_a") - F.col("lat_b"))
        + (F.col("lon_a") - F.col("lon_b")) * (F.col("lon_a") - F.col("lon_b")),
    )
    w = Window.partitionBy("url_a").orderBy(F.col("dist2").asc(), F.col("url_b").asc())
    return (j.withColumn("rank", F.row_number().over(w))
             .where(F.col("rank") <= k)
             .select("url_a", "url_b",
                     (F.col("ya") * F.lit(D.LON_CELL_STRIDE) + F.col("xa")).alias("cell"),
                     "dist2", "rank"))

