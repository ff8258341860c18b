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


BLOCK_SHIFT = 6  # 64x64-cell join blocks for the halo strategy


def block_id(bx, by, block_shift: int = BLOCK_SHIFT):
    """The one block rule: pack block coords (bx, by) into the join-block
    id. The stored `block` column of the bucketed layout
    (sources/bucketed.py) and the query-time blocks of knn_join_blocked
    both come from here, so they agree by construction. The stride
    exceeds the max block-x for the shift, or distinct blocks would alias
    into one join key (correct — the exact ring re-check saves it — but
    the equi-join fans out toward quadratic)."""
    return by * ((D.LON_CELL_STRIDE >> block_shift) + 1) + bx


def block_expr(block_shift: int = BLOCK_SHIFT, dx: int = 0, dy: int = 0):
    """The join-block id of cell (cell_x + dx, cell_y + dy)."""
    x = F.col("cell_x") + dx if dx else F.col("cell_x")
    y = F.col("cell_y") + dy if dy else F.col("cell_y")
    return block_id(F.shiftright(x, block_shift), F.shiftright(y, block_shift),
                    block_shift)


def top_k(pairs: DataFrame, k: int) -> DataFrame:
    """The kNN tail: rank each url_a's candidates by (dist2, url_b) and
    keep the first k (compiles to a WindowGroupLimit partial top-k)."""
    w = Window.partitionBy("url_a").orderBy(F.col("dist2").asc(), F.col("url_b").asc())
    return (pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


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
                         "column (see block_expr)")
    sel = df.select(
        "url", "lat", "lon", "cell_x", "cell_y",
        F.shiftright("cell_x", block_shift).alias("bx"),
        F.shiftright("cell_y", block_shift).alias("by"),
        *([F.col("block")] if have_block else []),
    )
    own_block = block_id(F.col("bx"), F.col("by"), block_shift)
    a = sel.select(
        F.col("url").alias("url_a"), F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.col("cell_x").alias("xa"), F.col("cell_y").alias("ya"),
        (F.col("block") if have_block else own_block).alias("block"),
    )
    # build side: replicate to the <=4 blocks its ring can reach
    cand_blocks = F.array_distinct(F.array(*[
        block_expr(block_shift, dx, dy)
        for dx in (-ring, ring) for dy in (-ring, ring)
    ] + [own_block]))
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
    return top_k(j, k).select(
        "url_a", "url_b",
        (F.col("ya") * F.lit(D.LON_CELL_STRIDE) + F.col("xa")).alias("cell"),
        "dist2", "rank")

