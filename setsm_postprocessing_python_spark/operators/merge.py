"""Strip assembly operators: greedy merge ordering, coregistration,
feather blend — the scenes2strips core recast to page groups.

Reference semantics reproduced (citations into /root/reference):
- orderPairs (lib/scenes2strips.py:921-997): aspect-ratio direction sort,
  greedy max-overlap-area selection, first-scene anti-domination (>=90 %
  covered -> reselect, :960-967), zero-overlap segment break (:990-992).
- redundancy gate (lib/scenes2strips.py:293-312): member adding less than
  add_min_area new footprint area is skipped.
- coregisterdems (lib/scenes2strips.py:720-918): iterative plane-fit
  alignment with 3-sigma outlier gate, <=5 iterations, stop when RMSE
  improves by <=0.001, offset cap.
- feather blend (lib/scenes2strips.py:400-476, 633-692): linear weight
  across the overlap span, rescaled clip((w-0.25)/(0.55-0.25), 0, 1);
  OR-combine for matchtag, bit_or for masks.

Execution shape: ordering and coregistration are per-group sequential folds
(bounded group sizes) inside applyInPandas / cogrouped applyInPandas tasks —
exactly the reference's per-strip process boundary recast as Spark tasks;
the feather blend is pure DataFrame algebra (JVM, oracle-checkable).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..session import cached
from ..sql import dialect as D

ADD_MIN_AREA_FRAC = 0.05   # member must add >=5 % of its own area (redundancy gate)
DOMINATION_FRAC = 0.90     # first-scene reselect threshold (:960-967)
COREG_MAX_ITER = 5         # lib/scenes2strips.py:724
COREG_RMSE_EPS = 1e-3
COREG_MAX_OFFSET = 15.0


# ---------------------------------------------------------------------------
# member footprints (the scene-raster extent analogue)
# ---------------------------------------------------------------------------

def with_footprint(df: DataFrame) -> DataFrame:
    """Deterministic rectangle footprint per page: centered at (lat, lon),
    half-size grows with page size (bigger page = bigger raster extent)."""
    half_w = F.lit(0.5) + (F.col("n_chars") % 97).cast("double") / F.lit(97.0)
    half_h = F.lit(0.5) + (F.col("n_chars") % 89).cast("double") / F.lit(89.0)
    return (df.withColumn("fx0", F.col("lon") - half_w)
              .withColumn("fx1", F.col("lon") + half_w)
              .withColumn("fy0", F.col("lat") - half_h)
              .withColumn("fy1", F.col("lat") + half_h))


def _rect_area(r) -> float:
    return max(0.0, r[1] - r[0]) * max(0.0, r[3] - r[2])


def _rect_intersect(a, b):
    return (max(a[0], b[0]), min(a[1], b[1]), max(a[2], b[2]), min(a[3], b[3]))


def _rect_union_bounds(a, b):
    """rectFootprint: bounding rect of the union (lib/scenes2strips.py:1000-1027)."""
    return (min(a[0], b[0]), max(a[1], b[1]), min(a[2], b[2]), max(a[3], b[3]))


def _union_area_within(r, rects) -> float:
    """EXACT area of rect r covered by the union of `rects` (coordinate-
    compressed boolean grid over the clipped rectangles — axis-aligned, so
    compression is exact; member sets are bounded, dozens per group)."""
    clipped = [c for c in (_rect_intersect(r, m) for m in rects)
               if c[1] > c[0] and c[3] > c[2]]
    if not clipped:
        return 0.0
    xs = np.array(sorted({v for c in clipped for v in (c[0], c[1])}))
    ys = np.array(sorted({v for c in clipped for v in (c[2], c[3])}))
    covered = np.zeros((len(xs) - 1, len(ys) - 1), dtype=bool)
    for x0, x1, y0, y1 in clipped:
        i0, i1 = np.searchsorted(xs, x0), np.searchsorted(xs, x1)
        j0, j1 = np.searchsorted(ys, y0), np.searchsorted(ys, y1)
        covered[i0:i1, j0:j1] = True
    return float(((np.diff(xs)[:, None] * np.diff(ys)[None, :]) * covered).sum())


# ---------------------------------------------------------------------------
# greedy merge ordering (orderPairs)
# ---------------------------------------------------------------------------

MERGE_ORDER_SCHEMA = ("group_id string, url string, order_idx int, "
                      "segment_num int, is_redundant boolean")


def _order_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic greedy fold for one group. Mirrors orderPairs:
    1) direction sort by union-bbox aspect ratio (S->N if tall else W->E),
    2) first-member anti-domination: while the directionally-first member is
       >=90 % covered by any single other member, demote it,
    3) repeat: pick remaining member with max intersection area with the
       accumulated bounding-rect footprint (tie-break url); zero overlap ->
       segment break, restart from directionally-first remaining,
    4) redundancy: member adding < ADD_MIN_AREA_FRAC of its own area to the
       running union is marked redundant and excluded from the mosaic."""
    pdf = pdf.sort_values("url", ignore_index=True)
    rects = {r.url: (r.fx0, r.fx1, r.fy0, r.fy1) for r in pdf.itertuples()}
    urls = list(pdf["url"])
    gx0 = min(r[0] for r in rects.values()); gx1 = max(r[1] for r in rects.values())
    gy0 = min(r[2] for r in rects.values()); gy1 = max(r[3] for r in rects.values())
    tall = (gy1 - gy0) >= (gx1 - gx0)
    if tall:
        urls.sort(key=lambda u: (rects[u][2], u))   # S -> N by ymin
    else:
        urls.sort(key=lambda u: (rects[u][0], u))   # W -> E by xmin

    # first-member anti-domination (:960-967)
    demoted = 0
    while demoted < len(urls) - 1:
        first = rects[urls[0]]
        a_first = _rect_area(first)
        covered = any(
            _rect_area(_rect_intersect(first, rects[u])) >= DOMINATION_FRAC * a_first
            for u in urls[1:]
        )
        if not covered or a_first == 0.0:
            break
        urls.append(urls.pop(0))
        demoted += 1

    out = []
    remaining = list(urls)
    segment = 0
    order_idx = 0
    current = None  # accumulated bounding-rect footprint
    union_members: list = []
    while remaining:
        if current is None:
            pick = remaining[0]  # directionally-first remaining
        else:
            best, pick = -1.0, None
            for u in remaining:
                a = _rect_area(_rect_intersect(current, rects[u]))
                if a > best or (a == best and (pick is None or u < pick)):
                    best, pick = a, u
            if best <= 0.0:  # zero overlap -> segment break (:990-992)
                segment += 1
                current = None
                continue
        remaining.remove(pick)
        r = rects[pick]
        if current is not None:
            # new-footprint-area gate vs the UNION of accepted members
            # (reference semantics, lib/scenes2strips.py:293-312): a member
            # jointly covered by several prior members is redundant even if
            # no single member covers it
            covered = _union_area_within(r, [rects[m] for m in union_members])
            added = _rect_area(r) - covered
            if added < ADD_MIN_AREA_FRAC * _rect_area(r):
                out.append((pick, -1, segment, True))  # redundant, skipped
                continue
            current = _rect_union_bounds(current, r)
        else:
            current = r
        union_members.append(pick)
        out.append((pick, order_idx, segment, False))
        order_idx += 1

    gid = pdf["group_id"].iloc[0]
    return pd.DataFrame(
        [(gid, u, oi, seg, red) for (u, oi, seg, red) in out],
        columns=["group_id", "url", "order_idx", "segment_num", "is_redundant"],
    )


def merge_order(df: DataFrame) -> DataFrame:
    """Per-group greedy merge ordering. df must carry footprints
    (with_footprint). Groups are bounded (dozens-hundreds of members), so
    the inherently-sequential greedy fold runs inside one task per group —
    the reference's one non-parallel loop, contained."""
    cols = df.select("group_id", "url", "fx0", "fx1", "fy0", "fy1")
    return cols.groupBy("group_id").applyInPandas(_order_group, MERGE_ORDER_SCHEMA)


# ---------------------------------------------------------------------------
# coregistration analogue (coregisterdems)
# ---------------------------------------------------------------------------

COREG_SCHEMA = ("pair string, group_a string, group_b string, "
                "n_points int, iters int, "
                "dz double, dx double, dy double, rmse double, status string")


def _coregister(key, a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
    """Nuth-Kaab-style iterative plane fit of the per-block value offset
    between two groups over their shared coarse blocks. Semantics per
    lib/scenes2strips.py:720-918: 3-sigma outlier gate around the median,
    LSQ on [1, x, y], <=5 iters, stop when RMSE stops improving by >1e-3,
    fail -> median fallback; offset cap 15 -> 'failed' status.

    Input frames carry the PER-BLOCK PARTIALS of _side_blocks (exact
    decimal zsum, n), not raw rows; the per-block mean is zsum/n, so the
    fit is bit-deterministic given the input rows. Every output row
    carries the cogroup KEY as `pair` — downstream never re-derives it
    from group labels (a side-less pair would mis-key)."""
    # min(), not iloc[0]: Arrow row-delivery order into the cogroup task is
    # not deterministic for multi-group sides (the 'super' pairing), and the
    # label must not wobble run-to-run
    ga = f"host{a['host_n'].min()}" if len(a) else None
    gb = f"host{b['host_n_b'].min()}" if len(b) else None
    pair = str(key[0])
    a = a.sort_values("block", ignore_index=True)
    b = b.sort_values("block_b", ignore_index=True)
    za = pd.DataFrame({
        "z": a["zsum"].astype("float64").to_numpy() / a["n"].to_numpy(),
        "x": a["bx"].to_numpy(dtype=float),
        "y": a["by"].to_numpy(dtype=float)}, index=a["block"])
    zb = pd.DataFrame({"z": b["zsum_b"].astype("float64").to_numpy()
                       / b["n_b"].to_numpy()},
                      index=b["block_b"])
    m = za.join(zb, how="inner", lsuffix="_a", rsuffix="_b")

    def fit_row(status, iters=0, dz=np.nan, dx=np.nan, dy=np.nan,
                rmse=np.nan):
        return pd.DataFrame([{
            "pair": pair, "group_a": ga, "group_b": gb,
            "n_points": int(len(m)), "iters": iters,
            "dz": dz, "dx": dx, "dy": dy, "rmse": rmse, "status": status}])
    if len(m) < 10:  # >=10 regression points gate (lib/scenes2strips.py:823)
        return fit_row("no_overlap")
    dz = (m["z_b"] - m["z_a"]).to_numpy()
    x = m["x"].to_numpy(dtype=float)
    y = m["y"].to_numpy(dtype=float)
    params = np.array([np.nan, 0.0, 0.0])
    best_rmse = np.inf
    iters = 0
    for it in range(COREG_MAX_ITER):
        iters = it + 1
        med, sd = np.median(dz), np.std(dz)
        keep = np.abs(dz - med) <= 3 * sd + 1e-12
        if keep.sum() < 10:
            return fit_row("too_few_inliers", iters)
        A = np.column_stack([np.ones(keep.sum()), x[keep], y[keep]])
        sol, *_ = np.linalg.lstsq(A, dz[keep], rcond=None)
        resid = dz[keep] - A @ sol
        rmse = float(np.sqrt(np.mean(resid ** 2)))
        if best_rmse - rmse <= COREG_RMSE_EPS and it > 0:
            break
        best_rmse = rmse
        params = sol
    if max(abs(params[1]), abs(params[2])) > COREG_MAX_OFFSET:
        # max-offset fallback: median dz only (reference fallback behavior)
        return fit_row("offset_capped", iters, float(np.median(dz)), 0.0,
                       0.0, best_rmse)
    return fit_row("ok", iters, float(params[0]), float(params[1]),
                   float(params[2]), best_rmse)


# ---------------------------------------------------------------------------
# the pairing rule and the side-block aggregate every fit reads
# ---------------------------------------------------------------------------

def host_number(col):
    """The one pairing rule: host<N> -> N. host{2i} (side 0, the mosaic
    side) pairs with host{2i+1} (side 1, the incoming side) as pair i.
    The cast is ANSI, so a group_id that is not host<N> raises
    CAST_INVALID_INPUT instead of landing in a made-up pair."""
    return F.substr(col, F.lit(5)).cast("int")


def host_side(col):
    return F.pmod(host_number(col), F.lit(2))


def pair_number(col):
    return F.floor(host_number(col) / 2)


def host_pair(col):
    """'pair<i>' for host{2i} and host{2i+1} (the strip-pair analogue)."""
    return F.concat(F.lit("pair"), pair_number(col).cast("string"))


def _side_blocks(df: DataFrame, pair_of, *aggs) -> DataFrame:
    """One row per (pair, bx, by, side) with its page count `n` and `aggs`
    — the block-grain pre-aggregate the fit (with _fit_aggs) and
    strip_assemble's blend read: map-side combine applies, so a fit task
    receives O(blocks) rows per pair however many pages each block holds
    (the 10^12-row shape). One select, not a withColumn chain: each
    transformation re-analyzes the whole plan driver-side."""
    derived = ("z", "bx", "by", "pair", "side")
    base = df.select(
        *[c for c in df.columns if c not in derived],
        F.expr(D.z_expr(D.SPARK)).alias("z"),
        F.expr(D.block_x_expr(D.SPARK)).alias("bx"),
        F.expr(D.block_y_expr(D.SPARK)).alias("by"),
        pair_of(F.col("group_id")).alias("pair"),
        host_side(F.col("group_id")).alias("side"))
    return base.groupBy("pair", "bx", "by", "side").agg(
        F.count(F.lit(1)).alias("n"), *aggs)


def _fit_aggs():
    """The side's lowest host number (rendered by _coregister as the
    group_a / group_b label: an int min stays a hash aggregate, a min over
    the group_id string plans a sort of every page row) and the EXACT
    decimal z sum _fit reads. The decimal sum is order-independent across
    partial-sum merge order, so the per-block means (and the thresholded
    fit) are bit-deterministic run-to-run; 18 integer digits cannot
    overflow (z < 100, 10^16 rows per block), 12 fractional digits carry
    z well past float53 noise."""
    return (F.min(host_number(F.col("group_id"))).alias("host_n"),
            F.sum(F.col("z").cast("decimal(30,12)")).alias("zsum"))


def _fit(agg: DataFrame) -> DataFrame:
    """The cogrouped fit over a _side_blocks aggregate: one row per pair
    with any page. block = by * 64 + bx is block_id_expr's packing, which
    is injective on the block grid (bx < 18, by < 9 at 200 cells per
    degree), so (bx, by) keys equal block keys. Side B's columns, the key
    included, are renamed: with identical attribute names from shared
    lineage, Catalyst prunes the right cogroup frame down to the key
    column (observed on Spark 4.1; see tests)."""
    blk = F.col("by") * 64 + F.col("bx")
    side_a = agg.where("side = 0").select(
        "pair", "host_n", "zsum", "n", "bx", "by", blk.alias("block"))
    side_b = agg.where("side = 1").select(
        F.col("pair").alias("pair_b"), F.col("host_n").alias("host_n_b"),
        F.col("zsum").alias("zsum_b"), F.col("n").alias("n_b"),
        blk.alias("block_b"))
    return (side_a.groupBy("pair").cogroup(side_b.groupBy("pair_b"))
            .applyInPandas(_coregister, COREG_SCHEMA))


def coregister_pairs(df: DataFrame, pair_of) -> DataFrame:
    """Cogrouped coregistration: pair_of(group_id_col) -> pair key expr.
    df needs (group_id, url, cell_x, cell_y); one COREG_SCHEMA row per
    pair."""
    return _fit(_side_blocks(df, pair_of, *_fit_aggs()))


# ---------------------------------------------------------------------------
# feather weight FIELD (2-D distance-based, cogrouped UDF — the
# lib/scenes2strips.py:400-476 semantics: overlap mask A in {1,2} ->
# boundary-interpolated continuous field, rescaled clip((W-.25)/.3, 0, 1))
# ---------------------------------------------------------------------------

FEATHER_FIELD_SCHEMA = "pair string, block long, w double"


def _feather_field(key, a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
    """Per pair: dense local grid over the two sides' blocks; overlap
    weight = dB / (dA + dB) where dA/dB are chessboard BFS distances to
    the A-only / B-only regions (the griddata-interpolated field
    analogue), then the reference rescale. Grids are bounded (coarse
    blocks), so the numpy BFS is tiny per task."""
    pair = str(key[0])
    if not len(a) or not len(b):
        return pd.DataFrame(columns=["pair", "block", "w"]).astype(
            {"pair": str, "block": "int64", "w": "float64"})
    ax, ay = a["bx"].to_numpy(), a["by"].to_numpy()
    bx, by = b["bx_b"].to_numpy(), b["by_b"].to_numpy()
    x0, x1 = int(min(ax.min(), bx.min())), int(max(ax.max(), bx.max()))
    y0, y1 = int(min(ay.min(), by.min())), int(max(ay.max(), by.max()))
    W, H = x1 - x0 + 1, y1 - y0 + 1
    in_a = np.zeros((H, W), dtype=bool)
    in_b = np.zeros((H, W), dtype=bool)
    in_a[ay - y0, ax - x0] = True
    in_b[by - y0, bx - x0] = True
    overlap = in_a & in_b
    if not overlap.any():
        return pd.DataFrame(columns=["pair", "block", "w"]).astype(
            {"pair": str, "block": "int64", "w": "float64"})

    def bfs_dist(seed: np.ndarray) -> np.ndarray:
        dist = np.full((H, W), np.inf)
        dist[seed] = 0.0
        frontier = seed.copy()
        d = 0.0
        while frontier.any():
            d += 1.0
            grown = frontier.copy()
            grown[1:, :] |= frontier[:-1, :]
            grown[:-1, :] |= frontier[1:, :]
            grown[:, 1:] |= frontier[:, :-1]
            grown[:, :-1] |= frontier[:, 1:]
            grown[1:, 1:] |= frontier[:-1, :-1]
            grown[:-1, :-1] |= frontier[1:, 1:]
            grown[1:, :-1] |= frontier[:-1, 1:]
            grown[:-1, 1:] |= frontier[1:, :-1]
            new = grown & ~np.isfinite(dist)
            if not new.any():
                break
            dist[new] = d
            frontier = new
        return dist

    a_only = in_a & ~in_b
    b_only = in_b & ~in_a
    if a_only.any() and b_only.any():
        dA = bfs_dist(a_only)
        dB = bfs_dist(b_only)
        with np.errstate(invalid="ignore"):
            w_raw = dB / (dA + dB)
        w_raw = np.where(np.isfinite(w_raw), w_raw, 0.5)
    else:
        w_raw = np.full((H, W), 0.5)
    # reference rescale (lib/scenes2strips.py:461-476)
    w = np.clip((w_raw - 0.25) / (0.55 - 0.25), 0.0, 1.0)
    ys, xs = np.nonzero(overlap)
    blocks = (ys + y0).astype(np.int64) * 64 + (xs + x0).astype(np.int64)
    return pd.DataFrame({"pair": pair, "block": blocks, "w": w[ys, xs]})


def feather_weight_field(df: DataFrame) -> DataFrame:
    """2-D feather weight field per host pair over their overlap blocks
    (cogrouped applyInPandas — SURVEY §2.10 UDF #5). Output:
    (pair, block, w) with w in [0,1], 1 deep on the A side of the overlap,
    0 deep on the B side, smoothly interpolated between boundaries."""
    base = df.select(host_pair(F.col("group_id")).alias("pair"),
                     host_side(F.col("group_id")).alias("side"),
                     F.expr(D.block_x_expr(D.SPARK)).alias("bx"),
                     F.expr(D.block_y_expr(D.SPARK)).alias("by"))
    side_a = base.where("side = 0").select("pair", "bx", "by").distinct()
    side_b = (base.where("side = 1")
              .select("pair", F.col("bx").alias("bx_b"),
                      F.col("by").alias("by_b")).distinct())
    return (side_a.groupBy("pair")
            .cogroup(side_b.groupBy("pair"))
            .applyInPandas(_feather_field, FEATHER_FIELD_SCHEMA))


# ---------------------------------------------------------------------------
# feather blend (oracle-checkable DataFrame algebra)
# ---------------------------------------------------------------------------

def _feathered(j: DataFrame, overlap):
    """(j joined to its pair's span, the feather weight): the reference's
    linear weight across the pair's overlap x-span, rescaled
    clip((w - 0.25) / (0.55 - 0.25), 0, 1) (lib/scenes2strips.py:461-476).
    The span is a per-pair min/max over the `overlap` rows broadcast back
    onto j — not a Window.partitionBy(pair), which at the 'super' grain
    sorts every row in ONE task. A pair with no overlap row gets a NULL
    span, hence a NULL weight."""
    spans = j.where(overlap).groupBy("pair").agg(
        F.min("bx").alias("_bx0"), F.max("bx").alias("_bx1"))
    raw = (F.col("bx") - F.col("_bx0")).cast("double") / \
        F.greatest((F.col("_bx1") - F.col("_bx0")).cast("double"), F.lit(1.0))
    return (j.join(F.broadcast(spans), "pair", "left"),
            F.least(F.greatest((raw - 0.25) / (0.55 - 0.25), F.lit(0.0)),
                    F.lit(1.0)))


def paired_blocks(df: DataFrame, keys: tuple[str, ...],
                  flags: bool = False) -> DataFrame:
    """One row per `keys` group that both sides of its host pair reach:
    each side's z sum and page count (sza/na for side 0, szb/nb for side
    1) and, with `flags`, its flags bit_or (fla/flb). `keys` name columns
    of df or of the derived z, bx, block, side and pair.

    Plan shape (round 7): BOTH sides ride ONE groupBy with
    side-conditional aggregates — a side-split self-join computes the
    aggregation subtree twice (no exchange reuse across the aliased sides)
    and sort-merge-joins the halves back (guide §2.4)."""
    derived = ("z", "bx", "block", "side", "pair")
    base = df.select(
        *[c for c in df.columns if c not in derived],
        F.expr(D.z_expr(D.SPARK)).alias("z"),
        F.expr(D.block_x_expr(D.SPARK)).alias("bx"),
        F.expr(D.block_id_expr(D.SPARK)).alias("block"),
        host_side(F.col("group_id")).alias("side"),
        pair_number(F.col("group_id")).alias("pair"))
    aggs = []
    for k, s in enumerate("ab"):
        on = F.col("side") == k
        aggs += [F.sum(F.when(on, F.col("z"))).alias(f"sz{s}"),
                 F.count(F.when(on, F.lit(1))).alias(f"n{s}")]
        if flags:
            aggs.append(F.bit_or(F.when(on, F.col("flags"))).alias(f"fl{s}"))
    return (base.groupBy(*keys).agg(*aggs)
            .where((F.col("na") > 0) & (F.col("nb") > 0)))


def feather_blend(df: DataFrame) -> DataFrame:
    """Blend the two sides of each host pair over shared coarse blocks with
    a linear feather weight across the overlap's x-span, rescaled
    clip((w - 0.25) / (0.55 - 0.25), 0, 1) per lib/scenes2strips.py:461-476;
    value blend w*zA + (1-w)*zB (:634-692), presence OR, flags bit_or.

    Pure JVM expressions over paired_blocks; the weight is _feathered's
    span weight. The per-(pair, block) table is cached (it is read by the
    span agg and the final projection; it is block-grid bounded, i.e.
    tiny)."""
    j = cached(paired_blocks(df, ("pair", "block", "bx"), flags=True))
    j, wgt = _feathered(j, F.lit(True))
    return j.select(
        "pair", "block",
        wgt.alias("w"),
        (wgt * (F.col("sza") / F.col("na"))
         + (F.lit(1.0) - wgt) * (F.col("szb") / F.col("nb"))).alias("z_blend"),
        (F.col("na") + F.col("nb")).alias("n_pages"),
        F.expr("cast(fla | flb as int)").alias("flags_merged"),
    )


# ---------------------------------------------------------------------------
# full strip assembly (the scenes2strips main loop,
# lib/scenes2strips.py:570-692): coregister -> apply the fitted
# translation to the incoming side -> feather blend + OR/bit_or combine
# ---------------------------------------------------------------------------

STRIP_MAX_COREG_RMSE = 1.0  # segment-break cutoff (scenes2strips max_coreg_rmse=1)
# Cutoff scaled to the SYNTHETIC z field (md5-uniform [0,100): per-block
# mean differences between sides carry ~30 RMSE of irreducible noise; the
# reference default of 1 assumes metre-aligned DEMs). The cutoff is the
# reference's own ARGSTR_RMSE_CUTOFF knob.
SYNTHETIC_Z_MAX_RMSE = 50.0


def _corners():
    # built lazily: F.lit needs an active SparkContext
    return F.array(*[
        F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
        for i in (0, 1) for j in (0, 1)
    ])


def strip_assemble(df: DataFrame, coreg: DataFrame | None = None,
                   max_rmse: float = STRIP_MAX_COREG_RMSE,
                   pair_of=host_pair) -> DataFrame:
    """The full scenes2strips assembly (lib/scenes2strips.py:570-692),
    composed at the coarse-block grain:

    1. the coregister_pairs fit of (dz, dx, dy) per pair (pass `coreg` —
       e.g. read back from the manifest — to hold prior translations,
       the pass-2 trans_guess/HOLD_GUESS_ALL path,
       batch_scenes2strips.py:1419-1428).
    2. segment break where rmse is NaN or > max_rmse (:557-568): the pair
       keeps its mosaic side un-blended (scene not merged).
    3. the incoming side B is shifted by the FITTED translation: values
       z - dz bilinearly resampled at block + (dx, dy) (the
       interp2 'linear' of zi, :570-583, with the incomplete-neighborhood
       drop standing in for the border-NaN erosion, :610-615); presence
       and flag masks take the nearest-neighbor shift (interp 'nearest'
       of matchtag/md, :585-607).
    4. blend: z = W*zA + (1-W)*zi on the overlap with the reference
       rescaled span weight clip((w-0.25)/0.3, 0, 1) (:461-476, 633-640);
       one-sided blocks keep their own value (Zsub_only/zi_only,
       :635-639); presence combines by OR (:646), flag masks by
       bitwise-or (:692).

    The per-pair translation table is tiny -> broadcast hash join; the
    bilinear shift is a 4-entry JVM explode (no UDF beyond the coreg fit);
    the blend is one co-partitioned full-outer join per pair/block.

    pair_of: pairing grain (default host pairs; the registered
    driver-scale query pairs even vs odd hosts in ONE pair so the >=10-
    shared-block fit gate is satisfiable at 500 rows — same rationale as
    the coarse kNN cells).

    Its three block-grain caches (agg, trans, blend join) belong to the
    caller's cache_scope (session.cached): the operator is lazy and the
    returned frame still reads them.

    Output: (pair, bx, by, block, src, w, z_strip, n_pages, matchtag,
    flags_merged, segment_break)."""
    # when the fit runs internally over the SAME df, the cogroup emits a
    # row for every pair that has any page (either side), so the
    # missing-pair safety union below is provably empty — skip its
    # distinct+anti-join jobs; a CALLER-supplied coreg table (pass-2 hold,
    # possibly stale) always goes through the full check
    internal_fit = coreg is None
    # ONE side-block aggregate serves BOTH the fit and the blend: df is
    # scanned and shuffled once. Persisted: the fit's two cogroup sides
    # and the blend's two sides read it; rows are block-grid bounded.
    agg = cached(_side_blocks(
        df, pair_of, F.sum("z").alias("sz"), F.bit_or("flags").alias("fl"),
        *(_fit_aggs() if internal_fit else ())))
    if internal_fit:
        coreg = _fit(agg)

    # trans is per-pair tiny but referenced THREE times (B-shift join,
    # usable semi-join, broken anti-selection) — without the persist each
    # reference re-runs the whole cogrouped fit (observed: 4 FlatMapCoGroups
    # in the unpersisted physical plan). Caches are small (per-pair /
    # per-block rows) and LRU-evict; a cache_scope reclaims them eagerly.
    #
    # usable is coalesced to FALSE (NULL status/rmse from a malformed
    # caller-supplied coreg table must not satisfy neither branch), and
    # pairs present in df but ABSENT from coreg (e.g. a stale pass-1
    # manifest while new pairs appear) are unioned in as 'missing_trans'
    # segment-break rows — every pair WITH MOSAIC-SIDE ROWS reaches
    # exactly one output path. The deliberate exception: a broken pair's
    # INCOMING side (and a pair that has only incoming-side rows) emits
    # nothing — the reference's scene-not-merged semantics
    # (lib/scenes2strips.py:557-568): an un-coregisterable scene is
    # excluded from this strip and stays in the input table to seed the
    # next segment's run; it is not part of this assembly's output.
    trans_known = coreg.select(
        "pair",
        "dz", "dx", "dy", "rmse", "status",
        F.coalesce(
            F.col("status").isin("ok", "offset_capped")
            & ~F.isnan("rmse") & (F.col("rmse") <= max_rmse),
            F.lit(False)).alias("usable"))
    if internal_fit:
        trans = cached(trans_known)
    else:
        missing = (agg.select("pair").distinct()
                   .join(trans_known.select("pair"), "pair", "left_anti")
                   .select("pair",
                           F.lit(None).cast("double").alias("dz"),
                           F.lit(None).cast("double").alias("dx"),
                           F.lit(None).cast("double").alias("dy"),
                           F.lit(None).cast("double").alias("rmse"),
                           F.lit("missing_trans").alias("status"),
                           F.lit(False).alias("usable")))
        trans = cached(trans_known.unionByName(missing))
    a, b = (agg.where(f"side = {k}").select(
        "pair", "bx", "by", (F.col("sz") / F.col("n")).alias(f"z{t}"),
        F.col("n").alias(f"n{t}"), F.col("fl").alias(f"fl{t}"))
        for k, t in ((0, "a"), (1, "b")))

    # --- step 3: apply the fitted translation to side B ---
    bt = b.join(F.broadcast(trans.where("usable")), "pair")
    fx, fy = F.floor("dx"), F.floor("dy")
    ax, ay = F.col("dx") - fx, F.col("dy") - fy
    # bilinear value shift, scatter form: source block s feeds targets
    # c = s - floor(d) - {0,1}; target c then samples c + d from the unit
    # square [c+floor(d), c+floor(d)+1]^2 with the usual bilinear weights
    scat = (bt.withColumn("_c", F.explode(_corners()))
            .select("pair",
                    (F.col("bx") - fx - F.col("_c.i")).alias("tbx"),
                    (F.col("by") - fy - F.col("_c.j")).alias("tby"),
                    (F.when(F.col("_c.i") == 0, 1.0 - ax).otherwise(ax)
                     * F.when(F.col("_c.j") == 0, 1.0 - ay).otherwise(ay)
                     ).alias("w4"),
                    (F.col("zb") - F.col("dz")).alias("zs")))
    zi = (scat.groupBy("pair", "tbx", "tby")
          .agg(F.sum(F.col("w4") * F.col("zs")).alias("wz"),
               F.sum("w4").alias("wsum"))
          # complete-support gate: weights must sum to 1 (missing source
          # blocks or the padded border drop out -> the NaN-border erosion
          # analogue). 1e-9 absorbs the 4-term float-sum ulp.
          .where(F.col("wsum") >= 1.0 - 1e-9)
          .select("pair", F.col("tbx").alias("bx"), F.col("tby").alias("by"),
                  F.col("wz").alias("zi")))
    # nearest-neighbor shift for presence + flag masks (interp 'nearest')
    rx = F.floor(F.col("dx") + 0.5)
    ry = F.floor(F.col("dy") + 0.5)
    bn = bt.select("pair", (F.col("bx") - rx).alias("bx"),
                   (F.col("by") - ry).alias("by"),
                   F.col("nb"), F.col("flb"))
    bs = zi.join(bn, ["pair", "bx", "by"], "full_outer")

    # --- step 4: feather blend + OR/bit_or combine ---
    # only usable pairs blend; the rest take the segment-break path below
    a_ok = a.join(F.broadcast(trans.where("usable").select("pair")),
                  "pair", "left_semi")
    # persisted: the span aggregate and the final projection both read it
    # (block-grain rows, bounded by the block grid)
    j = cached(a_ok.join(bs, ["pair", "bx", "by"], "full_outer"))
    in_a = F.col("na").isNotNull()
    both = in_a & F.col("zi").isNotNull()
    # feather span over the two-sided blocks; upstream agg/trans are
    # persisted, so the span's second traversal costs only the tiny
    # block-grain joins
    j, wgt = _feathered(j, both)
    # block id packs with the FULL stride, not the 64 of block_id_expr:
    # the fitted shift can push a target block to bx = -1, and with a
    # 64 stride that aliases onto (bx=63, by-1) — the wide stride keeps
    # every (bx, by) pair, negative included, on a unique id
    block = (F.col("by") * D.LON_CELL_STRIDE + F.col("bx")) \
        .cast("bigint").alias("block")
    blended = j.select(
        "pair", "bx", "by", block,
        F.when(both, F.lit("both")).when(in_a, F.lit("a_only"))
         .otherwise(F.lit("b_only")).alias("src"),
        F.when(both, wgt).alias("w"),
        F.when(both, wgt * F.col("za") + (F.lit(1.0) - wgt) * F.col("zi"))
         .when(in_a, F.col("za")).otherwise(F.col("zi")).alias("z_strip"),
        (F.coalesce(F.col("na"), F.lit(0))
         + F.coalesce(F.col("nb"), F.lit(0))).alias("n_pages"),
        (in_a | F.col("nb").isNotNull()).alias("matchtag"),
        F.expr("cast(coalesce(fla, 0) | coalesce(flb, 0) as int)")
        .alias("flags_merged"),
        F.lit(False).alias("segment_break"))
    # segment-break pairs: the mosaic side rides through un-blended
    broken = a.join(F.broadcast(trans.where(F.expr("NOT usable"))
                                .select("pair")), "pair").select(
        "pair", "bx", "by", block,
        F.lit("a_only").alias("src"),
        F.lit(None).cast("double").alias("w"),
        F.col("za").alias("z_strip"),
        F.col("na").alias("n_pages"),
        F.lit(True).alias("matchtag"),
        F.col("fla").cast("int").alias("flags_merged"),
        F.lit(True).alias("segment_break"))
    return blended.unionByName(broken)
