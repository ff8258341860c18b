"""Connected components over cell adjacency — the bwareaopen/clean_mask
family.

Reference semantics (citations into /root/reference):
- bwareaopen(array, minsize, conn): drop 8-connected components smaller
  than minsize (lib/raster_array_tools.py:2406-2438),
- binary_fill_holes / clean_mask complement pass: fill interior holes by
  running CC on the mask complement and keeping only components that touch
  the array border (lib/filter_scene.py:1691-1722,
  lib/raster_array_tools.py:2516).

Engine recast: occupied cells form a graph (8-adjacency in grid cell
space); components found by min-label propagation WITH pointer jumping:

    label(c) <- min(label(c), min over neighbors(label(n)))   # HashMin
    label(c) <- label(label(c))                               # jump

The jump step (one self-join of the label table) shortcuts label chains,
so convergence is O(log diameter) rounds instead of O(diameter) — a
10k-cell snake converges in ~14 rounds where plain HashMin needs 10k
(validated in tests/test_components_skew.py). Every round is two
equi-joins + a min-agg; per-iteration frames are localCheckpoint-ed to
truncate lineage. Non-convergence at max_iter RAISES — silently returning
partial labels would let bwareaopen mis-size components.

bwareaopen then = CC + component-size filter (groupBy(label).count).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..session import cached, checkpointed
from ..sql import dialect as D
from .neighborhood import ring_offsets, scatter


def _neighbor_pairs(cells: DataFrame) -> DataFrame:
    """(cell, nbr_cell) directed candidate edges to occupied 8-neighbors.
    The offset set is symmetric, so every undirected adjacency appears
    once per direction across the exploded output — min-label propagation
    needs no explicit reverse edges."""
    cand = (scatter(cells, [o for o in ring_offsets(1) if o != (0, 0)])
            .select("cell", F.col("target_cell").alias("nbr_cell")))
    occ = cells.select(F.col("cell").alias("nbr_cell"))
    return cand.join(occ, "nbr_cell", "inner")  # keep only occupied neighbors


def cc_from_edges(nodes: DataFrame, edges: DataFrame,
                  max_iter: int = 25) -> DataFrame:
    """(cell, component) min-label connected components over an EXPLICIT
    directed edge list: HashMin propagation + pointer jumping. The grid
    instantiation (connected_components) and the dedup pair-graph
    (operators/dedup.dedup_decisions) share this loop.

    nodes: distinct (cell,) rows — isolated nodes label themselves;
    edges: (cell, nbr_cell) with BOTH directions present for every
    undirected adjacency (min-label propagation has no implicit reverse).
    Deterministic: labels are min node ids, propagation order-insensitive.
    Raises RuntimeError if max_iter rounds do not reach the fixpoint (with
    pointer jumping, rounds needed ~ log2(component diameter), so 25 covers
    diameters up to ~2^25 nodes). Caller caches `edges` (it is re-read
    every round). Every round's labels are a local checkpoint owned by the
    caller's cache_scope — the returned labels read the last one, so no
    scope may close inside the operator."""
    labels = nodes.select("cell", F.col("cell").alias("component"))
    labels = checkpointed(labels)
    converged = False
    for _ in range(max_iter):
        # HashMin: push each node's label to its neighbors, take the min seen
        pushed = (edges.join(labels, "cell")
                  .select(F.col("nbr_cell").alias("cell"),
                          F.col("component")))
        hashmin = (labels.unionByName(pushed)
                   .groupBy("cell").agg(F.min("component").alias("component")))
        # pointer jump: label(c) <- label(label(c)). The label is always an
        # occupied node of the same component, so the lookup total.
        lut = hashmin.select(F.col("cell").alias("component"),
                             F.col("component").alias("component2"))
        new_labels = (hashmin.join(lut, "component")
                      .select("cell", F.col("component2").alias("component")))
        new_labels = checkpointed(new_labels)
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "cell")
                   .where(F.col("n.component") != F.col("o.component"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"cc_from_edges did not converge in {max_iter} rounds; "
            "labels would be wrong — raise max_iter")
    return labels


def connected_components(cells: DataFrame, max_iter: int = 25) -> DataFrame:
    """(cell, component) where component = min cell id in the component.

    cells: distinct occupied cells with (cell, cell_x, cell_y); 8-adjacency
    edges derived grid-side (_neighbor_pairs), labels via cc_from_edges.
    """
    return cc_from_edges(cells.select("cell"), cached(_neighbor_pairs(cells)),
                         max_iter)


def bwareaopen(cells: DataFrame, min_size: int, max_iter: int = 25) -> DataFrame:
    """Occupied cells that belong to a component of size >= min_size
    (lib/raster_array_tools.py:2406-2438 semantics)."""
    labels = connected_components(cells, max_iter)
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    return (labels.join(sizes, "component")
            .where(F.col("csize") >= min_size)
            .select("cell", "component", "csize"))


# Max complement-grid cells fill_holes / fill_small_voids will materialize.
# The reference fills PER-STRIP rasters (bounded extents); calling the
# dense-complement path on a global-extent cell set would explode the range
# crossJoin — raise instead, and point at the per-group variant.
FILL_BBOX_BUDGET = 1 << 24  # 16.7M cells ~ a 4096x4096 strip raster


def _bbox(cells: DataFrame, pad: int, budget: int) -> tuple[int, int, int, int]:
    b = cells.agg(F.min("cell_x"), F.max("cell_x"),
                  F.min("cell_y"), F.max("cell_y")).first()
    x0, x1 = int(b[0]) - pad, int(b[1]) + pad
    y0, y1 = int(b[2]) - pad, int(b[3]) + pad
    area = (x1 - x0 + 1) * (y1 - y0 + 1)
    if area > budget:
        raise ValueError(
            f"fill bounding box is {x1 - x0 + 1}x{y1 - y0 + 1} = {area} cells"
            f" > budget {budget}: the dense complement grid would explode."
            " Run per bounded region (fill_holes_grouped) or raise the"
            " budget explicitly for a genuinely bounded grid.")
    return x0, x1, y0, y1


def fill_holes(cells: DataFrame, max_iter: int = 25,
               bbox_budget: int = FILL_BBOX_BUDGET) -> DataFrame:
    """binary_fill_holes: CC on the mask COMPLEMENT within the 1-padded
    bounding box; complement components that never touch the box border are
    interior holes and get filled (lib/raster_array_tools.py:2516).
    8-connected background, matching the engine's single connectivity rule
    (documented difference from scipy's 4-connected default background).
    NOTE: unlike the reference clean_mask fill pass this is UNCAPPED
    (interior holes of any size fill, border-touching voids never do) —
    the reference-exact capped pass is fill_small_voids.

    Scale note: like the reference (which fills per-strip rasters), this
    runs on a BOUNDED grid — the bbox agg collapses to 4 driver scalars and
    the complement grid is materialized distributed via range crossJoin,
    guarded by bbox_budget.
    Output: (cell, was_hole) = original cells plus filled hole cells."""
    x0, x1, y0, y1 = _bbox(cells, 1, bbox_budget)
    spark = cells.sparkSession
    grid = (spark.range(x0, x1 + 1).select(F.col("id").alias("cell_x"))
            .crossJoin(spark.range(y0, y1 + 1).select(F.col("id").alias("cell_y")))
            .withColumn("cell", F.expr(D.cell_id_from_xy())))
    comp = grid.join(cells.select("cell"), "cell", "left_anti")
    labels = connected_components(comp, max_iter)
    border_cells = comp.where((F.col("cell_x") == x0) | (F.col("cell_x") == x1)
                              | (F.col("cell_y") == y0) | (F.col("cell_y") == y1))
    border_comps = (labels.join(border_cells.select("cell"), "cell")
                    .select("component").distinct())
    holes = (labels.join(border_comps, "component", "left_anti")
             .select("cell"))
    return (cells.select("cell").withColumn("was_hole", F.lit(False))
            .unionByName(holes.withColumn("was_hole", F.lit(True))))


def fill_small_voids(cells: DataFrame, fill_pix: int, max_iter: int = 25,
                     bbox_budget: int = FILL_BBOX_BUDGET) -> DataFrame:
    """The clean_mask fill pass, reference-exact: ~bwareaopen(~mask,
    fill_pix) (lib/filter_scene.py:1722). CC over the complement within
    the UNPADDED bounding box — the analogue of the reference's finite
    array extent — and fill complement components SMALLER than fill_pix.
    Border-touching small voids fill too (they are ordinary components of
    the bounded complement, exactly as in the reference); voids of
    fill_pix or more cells stay open regardless of position.
    Output: (cell, was_hole)."""
    x0, x1, y0, y1 = _bbox(cells, 0, bbox_budget)
    spark = cells.sparkSession
    grid = (spark.range(x0, x1 + 1).select(F.col("id").alias("cell_x"))
            .crossJoin(spark.range(y0, y1 + 1).select(F.col("id").alias("cell_y")))
            .withColumn("cell", F.expr(D.cell_id_from_xy())))
    comp = grid.join(cells.select("cell"), "cell", "left_anti")
    labels = connected_components(comp, max_iter)
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    holes = (labels.join(sizes, "component")
             .where(F.col("csize") < fill_pix).select("cell"))
    return (cells.select("cell").withColumn("was_hole", F.lit(False))
            .unionByName(holes.withColumn("was_hole", F.lit(True))))


def clean_mask(cells: DataFrame, remove_pix: int, fill_pix: int,
               max_iter: int = 25,
               bbox_budget: int = FILL_BBOX_BUDGET) -> DataFrame:
    """Full clean_mask semantics (lib/filter_scene.py:1691-1722):
    ~bwareaopen(~bwareaopen(mask, remove_pix), fill_pix) — drop foreground
    components smaller than remove_pix, then fill complement voids smaller
    than fill_pix (large interior holes stay open; small border-touching
    voids fill). Output: (cell, was_hole)."""
    kept = bwareaopen(cells, remove_pix, max_iter)
    kept_xy = kept.withColumn(
        "cell_y", F.expr(f"cast(floor(cell / {D.LON_CELL_STRIDE}) as bigint)"),
    ).withColumn("cell_x", F.col("cell") - F.col("cell_y") * D.LON_CELL_STRIDE)
    return fill_small_voids(kept_xy.select("cell", "cell_x", "cell_y"),
                            fill_pix, max_iter, bbox_budget)


def complement_hole_mask(occ, fill_pix: int | None):
    """Hole mask of a dense boolean occupancy grid: run-length two-pass
    union-find over the COMPLEMENT's row runs (8-adjacency: a run [s,e)
    connects to a previous-row run [ps,pe) iff ps <= e and pe >= s —
    half-open ends make the diagonal reach exactly 1). O(#runs) Python
    work, all per-pixel operations vectorized.

    fill_pix=None: complement components not touching the grid border
    (interior holes). fill_pix=k: complement components smaller than k
    cells, border-touching included. Unit-testable core of
    fill_holes_grouped (hypothesis cross-check vs a BFS flood reference
    in tests/test_components_skew.py)."""
    import numpy as np

    h, w = occ.shape
    comp8 = (~occ).astype(np.int8)
    parent: list[int] = []
    run_len: list[int] = []
    run_border: list[bool] = []
    runs_by_row: list[list[tuple[int, int, int]]] = []

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    prev: list[tuple[int, int, int]] = []
    for yy in range(h):
        row = comp8[yy]
        cur: list[tuple[int, int, int]] = []
        if row.any():
            d = np.diff(np.concatenate(([0], row, [0])))
            starts = np.flatnonzero(d == 1)
            ends = np.flatnonzero(d == -1)
            for s, e in zip(starts.tolist(), ends.tolist()):
                li = len(parent)
                parent.append(li)
                run_len.append(e - s)
                run_border.append(yy in (0, h - 1) or s == 0 or e == w)
                for ps, pe, pl in prev:
                    if ps <= e and pe >= s:
                        ra, rb = find(pl), find(li)
                        if ra != rb:
                            if rb < ra:
                                ra, rb = rb, ra
                            parent[rb] = ra
                cur.append((s, e, li))
        runs_by_row.append(cur)
        prev = cur
    sizes: dict[int, int] = {}
    border: set[int] = set()
    for li in range(len(parent)):
        r = find(li)
        sizes[r] = sizes.get(r, 0) + run_len[li]
        if run_border[li]:
            border.add(r)
    hole = np.zeros((h, w), dtype=bool)
    for yy, runs in enumerate(runs_by_row):
        for s, e, li in runs:
            r = find(li)
            filled = (sizes[r] < fill_pix if fill_pix is not None
                      else r not in border)
            if filled:
                hole[yy, s:e] = True
    return hole


def fill_holes_grouped(df: DataFrame, group_col: str = "group_id",
                       fill_pix: int | None = None,
                       bbox_budget: int = FILL_BBOX_BUDGET) -> DataFrame:
    """Per-group fill: each group's bbox is bounded by ITS extent (the
    reference processes per-scene rasters the same way) and groups fan out
    as tasks. Runs a run-length two-pass union-find inside applyInPandas —
    O(#row-runs) Python work, all per-pixel operations vectorized.

    A group whose bbox exceeds bbox_budget (hash-scattered members — far-
    apart cells spanning a huge dense grid, the q_footprints global-scatter
    pathology) SKIPS the fill and returns its cells unfilled with
    fill_skipped=true, instead of allocating the dense grid and hanging
    the executor; sibling fill_holes/fill_small_voids raise for the same
    condition because they have no per-group fallback grain.

    fill_pix=None: uncapped interior fill (binary_fill_holes semantics);
    fill_pix=k: reference clean_mask fill pass (fill voids < k cells,
    border-touching included, within the group's unpadded bbox).
    Output: (group, cell, was_hole, fill_skipped)."""
    import numpy as np
    import pandas as pd

    def _fill(pdf: pd.DataFrame) -> pd.DataFrame:
        grp = pdf[group_col].iloc[0]
        xs = pdf["cell_x"].to_numpy(np.int64)
        ys = pdf["cell_y"].to_numpy(np.int64)
        pad = 0 if fill_pix is not None else 1
        x0, y0 = xs.min() - pad, ys.min() - pad
        w = int(xs.max() + pad - x0 + 1)
        h = int(ys.max() + pad - y0 + 1)
        occ_cells = (ys * D.LON_CELL_STRIDE + xs)
        if h * w > bbox_budget:
            return pd.DataFrame({
                group_col: grp, "cell": occ_cells,
                "was_hole": False, "fill_skipped": True})
        occ = np.zeros((h, w), dtype=bool)
        occ[ys - y0, xs - x0] = True
        hole = complement_hole_mask(occ, fill_pix)
        hy, hx = np.nonzero(hole)
        hole_cells = (hy + y0) * D.LON_CELL_STRIDE + (hx + x0)
        return pd.DataFrame({
            group_col: np.concatenate([np.full(len(occ_cells), grp, dtype=object),
                                       np.full(len(hole_cells), grp, dtype=object)]),
            "cell": np.concatenate([occ_cells, hole_cells]),
            "was_hole": np.concatenate([np.zeros(len(occ_cells), dtype=bool),
                                        np.ones(len(hole_cells), dtype=bool)]),
            "fill_skipped": False})

    cells = df.select(group_col, "cell", "cell_x", "cell_y").distinct()
    return cells.groupBy(group_col).applyInPandas(
        _fill,
        f"{group_col} string, cell long, was_hole boolean, fill_skipped boolean")
