"""k-ring neighborhood aggregations — the raster-kernel family.

Reference semantics recast to cell space: the reference computes moving
window statistics over rasters (moving_average lib/raster_array_tools.py:
1753-1834, getDataDensityMap lib/filter_scene.py:971-1007, local stdev
lib/filter_scene.py:1517-1524, entropyfilt lib/raster_array_tools.py:
2541-2750). In cell space a window = the k-ring of a cell, and every kernel
becomes: per-cell partial aggregate -> explode partials to the k-ring ->
final aggregate at the target cell. That is exactly two-stage (partial+final)
aggregation, so map-side combine applies and the shuffle carries one row per
(cell, ring-offset) — independent of page count per cell.

This mirrors the reference's own coarse-first optimization (all filtering at
8 m regardless of native res, lib/filter_scene.py:489-492): aggregate first,
convolve the small aggregate table, never the raw rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..sql import dialect as D


def ring_offsets(ring: int = 1) -> list[tuple[int, int]]:
    return [(dx, dy) for dy in range(-ring, ring + 1) for dx in range(-ring, ring + 1)]


def scatter(cells: DataFrame, offsets, fields: tuple[str, ...] = ()) -> DataFrame:
    """Explode each per-cell row (cell_x, cell_y, ...) to the cells at its
    (dx, dy) offsets — the transpose of 'gather from neighbors', same
    result, join-free. The one place a cell reaches its neighbours.

    `offsets` holds (dx, dy, *literals) tuples; the literals (a weight, a
    role) arrive as the columns named by `fields`. Keeps every input
    column and adds target_x, target_y, the packed `target_cell` and
    `_self` = true on the (0,0) offset row: downstream aggregates keep
    max(_self) and filter on it instead of joining back to the
    occupied-cell set — the occupied check rides the SAME shuffle as the
    aggregation, deleting a whole |cells|-row join per kernel (measured on
    the 4M-row scaling stage: ring_density 9.1s -> see BENCH/BASELINE.md)."""
    arr = F.array(*[
        F.struct(F.lit(o[0]).alias("dx"), F.lit(o[1]).alias("dy"),
                 F.lit(o[0] == 0 and o[1] == 0).alias("s"),
                 *[F.lit(v).alias(f) for f, v in zip(fields, o[2:])])
        for o in offsets
    ])
    tx = F.col("cell_x") + F.col("_o.dx")
    ty = F.col("cell_y") + F.col("_o.dy")
    return (cells.withColumn("_o", F.explode(arr))
            .select(*cells.columns, *[F.col(f"_o.{f}").alias(f) for f in fields],
                    tx.alias("target_x"), ty.alias("target_y"),
                    (ty * F.lit(D.LON_CELL_STRIDE) + tx).alias("target_cell"),
                    F.col("_o.s").alias("_self")))


def _cell_mean(df: DataFrame, value: str) -> DataFrame:
    """The per-cell mean partial: (cell, cell_x, cell_y, s, n, v = s/n)."""
    return (df.groupBy("cell", "cell_x", "cell_y")
            .agg(F.sum(F.col(value).cast("double")).alias("s"),
                 F.count(value).alias("n"))
            .withColumn("v", F.col("s") / F.col("n")))


def ring_density(df: DataFrame, ring: int = 1) -> DataFrame:
    """Pages within the k-ring of each cell (getDataDensityMap analogue,
    lib/filter_scene.py:971-1007). Output: (cell, n_in_ring).

    Output is restricted to cells that contain >=1 page (the
    data-footprint cells), matching the raster data-density map evaluated
    at data pixels.

    Strategy note: for ring 1 on SPARSE cell sets (~1 page/cell, the web
    recast's normal regime) the single 2-D scatter (one shuffle) beat a
    separable row-pass + column-pass form (two shuffles with
    barely-combining intermediates — measured 8.4s vs 13.5s on 4M rows).

    Round 7: the former pre-aggregate (groupBy(cell) -> Exchange ->
    scatter -> groupBy(target)) paid a FULL extra shuffle to combine
    rows the final aggregation's map-side partial combines anyway: for a
    count kernel, scattering the raw rows and counting at the target
    leaves the shuffle volume identical (bounded by 9x the per-partition
    distinct cells, page-count independent — the partial agg IS the
    per-cell combine, guide §2.3 "aggregate before you shuffle" without
    paying an exchange for it). Measured 1.21 s -> 0.50 s on the 200k-row
    bench stage, row-identical."""
    scattered = scatter(df.select("cell_x", "cell_y"), ring_offsets(ring))
    dens = scattered.groupBy("target_cell").agg(
        F.count(F.lit(1)).alias("n_in_ring"), F.max("_self").alias("_occ"))
    return dens.where("_occ").select(F.col("target_cell").alias("cell"), "n_in_ring")


def ring_stat(df: DataFrame, value: str, ring: int = 1) -> DataFrame:
    """Mean/var/stddev of `value` over each occupied cell's k-ring (local
    stdev analogue, lib/filter_scene.py:1517-1524: sqrt(E[v^2]-E[v]^2),
    negative clamp to 0). Two-stage: per-cell (sum, sum_sq, n) partials,
    ring scatter, final combine — numerically identical regardless of
    partitioning because partials are plain sums."""
    per_cell = df.groupBy("cell", "cell_x", "cell_y").agg(
        F.sum(F.col(value).cast("double")).alias("s"),
        F.sum((F.col(value) * F.col(value)).cast("double")).alias("ss"),
        F.count(value).alias("n"),
    )
    scattered = scatter(per_cell, ring_offsets(ring))
    out = scattered.groupBy("target_cell").agg(
        F.sum("s").alias("s"), F.sum("ss").alias("ss"), F.sum("n").alias("n"),
        F.max("_self").alias("_occ"))
    out = out.where("_occ")
    mean = F.col("s") / F.col("n")
    var = F.greatest(F.col("ss") / F.col("n") - mean * mean, F.lit(0.0))
    return out.select(
        F.col("target_cell").alias("cell"),
        F.col("n").alias("n_in_ring"),
        mean.alias("ring_mean"),
        F.sqrt(var).alias("ring_std"),
    )


def weighted_kernel_agg(df: DataFrame, value: str,
                        kernel: dict[tuple[int, int], int]) -> DataFrame:
    """General 2-D convolution over cell space (conv2 analogue,
    lib/raster_array_tools.py:1457-1728): per-cell partial sums scattered
    to each kernel offset with its weight, final weighted sum at the
    target cell. Integer kernel weights keep the result exactly
    order-insensitive; normalize downstream if needed.

    Output: (cell, conv_sum, conv_wsum) for occupied cells — conv_sum =
    sum(w * value), conv_wsum = sum(w * n) so callers can form the
    normalized kernel mean (the reference's nan-aware moving_average)."""
    per_cell = _cell_mean(df, value)
    scattered = (scatter(per_cell, [(dx, dy, w) for (dx, dy), w
                                    in sorted(kernel.items())], ("w",))
                 .select("target_cell", (F.col("w") * F.col("s")).alias("ws"),
                         (F.col("w") * F.col("n")).alias("wn"), "_self"))
    out = scattered.groupBy("target_cell").agg(
        F.sum("ws").alias("conv_sum"), F.sum("wn").alias("conv_wsum"),
        F.max("_self").alias("_occ"))
    if (0, 0) in kernel:
        # the occupied flag rode the scatter — no join back needed
        out = out.where("_occ")
    else:
        occ = per_cell.select(F.col("cell").alias("target_cell"))
        out = out.join(occ, "target_cell")
    return out.select(F.col("target_cell").alias("cell"),
                      "conv_sum", "conv_wsum")


def interp_shifted(df: DataFrame, value: str, dx_cells: float,
                   dy_cells: float) -> DataFrame:
    """Bilinear sample of the per-cell value field at (cell + fractional
    shift) — the interp2 shifted-grid resample analogue
    (lib/raster_array_tools.py:598-661; used for the coregistration shift,
    lib/scenes2strips.py:570-631). The four surrounding cells contribute
    with bilinear weights; cells whose 4-neighborhood is incomplete return
    NULL (out-of-bounds -> NaN semantics).

    Output: (cell, v_shifted)."""
    import math

    fx, fy = math.floor(dx_cells), math.floor(dy_cells)
    ax, ay = dx_cells - fx, dy_cells - fy
    weights = {
        (fx, fy): (1 - ax) * (1 - ay),
        (fx + 1, fy): ax * (1 - ay),
        (fx, fy + 1): (1 - ax) * ay,
        (fx + 1, fy + 1): ax * ay,
    }
    per_cell = _cell_mean(df, value)
    # target cell c samples source cells c + offset: scatter each source
    # to the negated offsets
    taps = [(-ox, -oy, w) for (ox, oy), w in sorted(weights.items())
            if w != 0.0]
    agg = (scatter(per_cell, taps, ("w",))
           .groupBy(F.col("target_cell").alias("cell"))
           .agg(F.sum(F.col("w") * F.col("v")).alias("wv"),
                F.count(F.lit(1)).alias("ncontrib")))
    occ = per_cell.select("cell")
    return (agg.join(occ, "cell")
            .select("cell",
                    F.when(F.col("ncontrib") == len(taps), F.col("wv"))
                     .otherwise(F.lit(None)).alias("v_shifted")))


def central_gradient(df: DataFrame, value: str) -> DataFrame:
    """Central-difference gradient + grade of the per-cell mean value field
    — the slope predicate's kernel (reference lib/filter_scene.py:1246-1263:
    grade = hypot(gradient(dem)), mean-slope gate flags bad edges).

    gx = (v(x+1) - v(x-1)) / 2, gy = (v(y+1) - v(y-1)) / 2,
    grade = sqrt(gx^2 + gy^2); cells missing any of the 4 axis neighbors
    yield NULL (boundary NaN semantics, np.gradient edge rows discarded).

    One scatter shuffle (4 rows per occupied cell, after the per-cell
    partial agg), conditional-agg gather, join back to occupied — no
    N-way self-join, partial aggregation map-side combines.
    Output: (cell, gx, gy, grade)."""
    per_cell = _cell_mean(df, value)
    dirs = [(1, 0, "vl"), (-1, 0, "vr"), (0, 1, "vd"), (0, -1, "vu")]
    gathered = scatter(per_cell, dirs, ("role",)).groupBy("target_cell").agg(
        *[F.max(F.when(F.col("role") == r, F.col("v"))).alias(r)
          for _, _, r in dirs])
    occ = per_cell.select(F.col("cell").alias("target_cell"))
    gx = (F.col("vr") - F.col("vl")) / 2.0
    gy = (F.col("vu") - F.col("vd")) / 2.0
    return (gathered.join(occ, "target_cell")
            .select(F.col("target_cell").alias("cell"),
                    gx.alias("gx"), gy.alias("gy"),
                    F.sqrt(gx * gx + gy * gy).alias("grade")))


def _separable_downsample(df: DataFrame, value: str, factor: int,
                          taps: dict[int, float], out: str) -> DataFrame:
    """In-block separable-tap down-resample: target t = the block of
    `factor` source cells per axis, sampled from the source mean-value
    field by the taps {position within the block: weight} on each axis.
    One filter + one groupBy (every tap lies inside the target's own
    block, so no neighbor-block shuffle); targets missing any of the
    len(taps)^2 taps -> NULL (NaN propagation)."""
    def w(col):
        e = F.lit(None).cast("double")
        for p, wt in taps.items():
            e = F.when(col == p, F.lit(wt)).otherwise(e)
        return e

    per_cell = _cell_mean(df, value)
    tx = F.floor(F.col("cell_x") / factor)
    ty = F.floor(F.col("cell_y") / factor)
    px, py = F.col("cell_x") % factor, F.col("cell_y") % factor
    contrib = (per_cell.where(px.isin(list(taps)) & py.isin(list(taps)))
               .groupBy(tx.alias("tx"), ty.alias("ty"))
               .agg(F.sum(w(px) * w(py) * F.col("v")).alias("sv"),
                    F.count(F.lit(1)).alias("ntap")))
    targets = per_cell.select(tx.alias("tx"), ty.alias("ty")).distinct()
    joined = targets.join(contrib, ["tx", "ty"], "left")
    return joined.select(
        (F.col("ty") * D.LON_CELL_STRIDE + F.col("tx")).alias("cell"),
        F.when(F.col("ntap") == len(taps) ** 2, F.col("sv")).alias(out))


def bilinear_downsample(df: DataFrame, value: str, factor: int = 4) -> DataFrame:
    """Value-interpolating imresize down-resample (bilinear, align-centers,
    no antialias) — the interpolating-resize path of the reference's
    imresize (lib/raster_array_tools.py:766-979); the nearest-up and
    mean-rollup variants are separate operators (q_upsample_nearest,
    q_pyramid).

    Target cell t samples the source mean-value field at source coordinate
    factor*t + (factor-1)/2; for even factors that is midway between the two
    central source cells per axis — a genuine 4-tap bilinear with weights
    1/4: the source cells with coord % factor in {factor/2-1, factor/2},
    0.5 per axis (sum(0.25*v) == sum(v)/4 bit for bit — scaling by a
    power of two is exact). Targets missing any tap -> NULL.
    Output: (cell = packed target id, z_resized)."""
    assert factor % 2 == 0 and factor >= 2
    half = factor // 2
    return _separable_downsample(df, value, factor,
                                 {half - 1: 0.5, half: 0.5}, "z_resized")


def bicubic_downsample(df: DataFrame, value: str, factor: int = 4) -> DataFrame:
    """Bicubic (Keys a=-0.5, the MATLAB-imresize kernel the reference maps
    to 'bicubic', lib/raster_array_tools.py:766-979) value-interpolating
    down-resample, align-centers, no antialias — closing the imresize
    interp-map gap left by round 2 (nearest/bilinear/area existed).

    Target t samples the source mean-value field at factor*t+(factor-1)/2;
    the 4 cubic taps per axis sit at fractional offsets ±0.5 and ±1.5,
    i.e. source coords factor*t + {half-2..half+1} — for factor >= 4 ALL
    16 separable 2-D taps lie inside the target's own block, so the whole
    operator is one filter + one groupBy (same plan shape as the bilinear
    variant; no neighbor-block shuffle). Kernel weights at ±0.5 / ±1.5 are
    0.5625 / -0.0625 (exact binary fractions -> bit-identical in both
    dialects). Targets missing any tap -> NULL.
    Output: (cell = packed target id, z_bicubic)."""
    assert factor % 2 == 0 and factor >= 4, \
        "factor 2 taps cross block boundaries; factor >= 4 keeps one groupBy"
    half = factor // 2
    return _separable_downsample(
        df, value, factor, {half - 2: -0.0625, half - 1: 0.5625,
                            half: 0.5625, half + 1: -0.0625}, "z_bicubic")


def lanczos3_downsample(df: DataFrame, value: str, factor: int = 4) -> DataFrame:
    """Lanczos-3 value-interpolating down-resample, align-centers, no
    antialias — the reference's interp='lanczos' backend
    (lib/raster_array_tools.py:852,863 maps 'lanczos' to
    cv2.INTER_LANCZOS4 / PIL Image.LANCZOS; PIL's kernel is a=3).

    Why a=3 and not a=2: at the half-pel tap offsets this sampling grid
    produces (even factor, align-centers -> every tap offset is k+0.5),
    the NORMALIZED Lanczos-2 kernel is exactly [9/16, -1/16] — identical
    to the Keys a=-0.5 bicubic already implemented (sin(pi*x) = +-1 and
    sin(pi*x/2) at x=0.5,1.5 make the ratio exactly -9). Lanczos-3 is the
    first kernel in the family that is genuinely distinct here, with
    exact rational half-pel weights [2, -4/9, 2/25]/norm =
    [450, -100, 18] / 736 at offsets +-0.5, +-1.5, +-2.5.

    The 6 taps per axis span source coords factor*t + (factor-1)/2 +- 2.5,
    which for factor 4 crosses into the adjacent target block (positions
    -1 and factor), so unlike the bicubic variant this is NOT one
    filter+groupBy: each source cell SCATTERS to the <=2 targets per axis
    within kernel reach (explode by dt in {-1,0,1}, filter |offset| < 3)
    — the same join-free scatter shape as the ring kernels, one extra
    narrow explode before the single shuffle. Weights are applied as
    integer numerators with ONE final division by 736^2 = 541696, so every
    per-term product is exact in both dialects. Targets missing any of
    the 36 taps -> NULL.
    Output: (cell = packed target id, z_lanczos3)."""
    assert factor % 2 == 0 and factor >= 4, \
        "factor < 4 needs |dt| > 1 scatter reach"
    half_off = (factor - 1) / 2.0  # sample point within the target block
    per_cell = _cell_mean(df, value)
    dts = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    sc = (per_cell.withColumn("_d", F.explode(dts))
          .withColumn("tx", F.floor(F.col("cell_x") / factor) + F.col("_d.dx"))
          .withColumn("ty", F.floor(F.col("cell_y") / factor) + F.col("_d.dy"))
          .withColumn("ox", F.col("cell_x") - F.col("tx") * factor - half_off)
          .withColumn("oy", F.col("cell_y") - F.col("ty") * factor - half_off)
          .where((F.abs(F.col("ox")) < 3) & (F.abs(F.col("oy")) < 3)))

    def num(col):  # integer numerator of the normalized half-pel weight
        a2 = F.abs(col) * 2  # 1, 3, 5
        return (F.when(a2 < 2, F.lit(450.0))
                .when(a2 < 4, F.lit(-100.0))
                .otherwise(F.lit(18.0)))

    contrib = sc.groupBy("tx", "ty").agg(
        (F.sum(num(F.col("ox")) * num(F.col("oy")) * F.col("v"))
         / F.lit(541696.0)).alias("sv"),
        F.count(F.lit(1)).alias("ntap"))
    tx = F.floor(F.col("cell_x") / factor)
    ty = F.floor(F.col("cell_y") / factor)
    targets = per_cell.select(tx.alias("tx"), ty.alias("ty")).distinct()
    out = targets.join(contrib, ["tx", "ty"], "left")
    return out.select(
        (F.col("ty") * D.LON_CELL_STRIDE + F.col("tx")).alias("cell"),
        F.when(F.col("ntap") == 36, F.col("sv")).alias("z_lanczos3"))


def ring_entropy(df: DataFrame, category: str = "lang", ring: int = 1) -> DataFrame:
    """Shannon entropy (bits) of a categorical column over each occupied
    cell's k-ring (entropyfilt analogue, lib/raster_array_tools.py:2541-2750,
    binned-value entropy over a window). Two-stage agg over (cell, category)
    counts; entropy computed from exact integer counts so the only float ops
    are the final log2s — deterministic under any partitioning."""
    per_cell_cat = df.groupBy("cell", "cell_x", "cell_y", category).agg(
        F.count(F.lit(1)).alias("n"))
    scattered = scatter(per_cell_cat, ring_offsets(ring))
    ring_cat = scattered.groupBy("target_cell", category).agg(
        F.sum("n").alias("n"), F.max("_self").alias("_s"))
    # entropy = log2(N) - sum(n*log2(n))/N  (exact-integer form); the
    # occupied flag rides both aggregation levels — no join back
    ent = ring_cat.groupBy("target_cell").agg(
        F.sum("n").alias("N"),
        F.sum(F.col("n").cast("double") * F.log2(F.col("n").cast("double"))).alias("nlogn"),
        F.max("_s").alias("_occ"),
    )
    ent = ent.where("_occ")
    return ent.select(
        F.col("target_cell").alias("cell"),
        (F.log2(F.col("N").cast("double")) - F.col("nlogn") / F.col("N")).alias("ring_entropy"),
    )
