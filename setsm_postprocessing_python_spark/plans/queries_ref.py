"""Query registry #3: remaining reference operator surface (SURVEY.md §2).

Morphology, strip-diff, QC validation, scalar-function parity, set ops,
top-k sorts, pyramid rollups — each Spark query with a DuckDB oracle.
Reference citations in the individual docstrings (files under /root/reference).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import merge as M
from ..operators import morphology as MO
from ..sources import pages as P
from ..sql import dialect as D

_DD = D.DUCKDB


def _blocks(spark, sf_dir) -> DataFrame:
    """Occupied coarse blocks as a binary 'raster' (block coords reused as
    cell coords for the morphology kernels)."""
    df = P.geocoded_pages(spark, sf_dir)
    return (df.select(F.expr(D.block_x_expr(D.SPARK)).alias("cell_x"),
                      F.expr(D.block_y_expr(D.SPARK)).alias("cell_y"))
            .distinct()
            .withColumn("cell", F.expr(D.cell_id_from_xy())))


_BLOCKS_CTE = (
    "blocks AS (SELECT DISTINCT (cell_x >> 12) AS bx, (cell_y >> 12) AS by"
    " FROM cells)")


# ---------------------------------------------------------------------------
# morphology (imdilate/imerode/bwboundaries/range filter)
# ---------------------------------------------------------------------------

def q_morphology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """imdilate + imerode + bwboundaries in one oracle-checked output over
    the occupied coarse-block mask (lib/raster_array_tools.py:2270-2403
    dilate/erode; :2441-2538 boundary = occupied != eroded). Rows = the
    radius-1 dilated set; flags mark occupied / eroded / boundary, so all
    three operators are hash-compared at once."""
    blocks = _blocks(spark, sf_dir)
    dil = MO.imdilate(blocks).select("cell")
    er = MO.imerode(blocks).select("cell").withColumn("_er", F.lit(True))
    occ = blocks.select("cell").withColumn("_occ", F.lit(True))
    out = (dil.join(occ, "cell", "left").join(er, "cell", "left")
           .select("cell",
                   F.coalesce("_occ", F.lit(False)).alias("is_occupied"),
                   F.coalesce("_er", F.lit(False)).alias("is_eroded")))
    return out.withColumn("is_boundary",
                          F.col("is_occupied") & ~F.col("is_eroded"))


SLOPE_STEEP = 15.0


def q_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slope/gradient predicate (lib/filter_scene.py:1246-1263: grade =
    hypot(gradient(dem)); mean-slope>threshold flags bad edge scenes):
    central-difference gradient of the per-block mean z field, NULL where
    the 4-neighborhood is incomplete."""
    from ..operators.neighborhood import central_gradient

    df = (P.geocoded_pages(spark, sf_dir)
          .withColumn("z", F.expr(D.z_expr(D.SPARK)))
          .select(F.expr(D.block_x_expr(D.SPARK)).alias("cell_x"),
                  F.expr(D.block_y_expr(D.SPARK)).alias("cell_y"), "z")
          .withColumn("cell", F.expr(D.cell_id_from_xy())))
    out = central_gradient(df, "z")
    # boundary cells (NULL grade) are not steep: coalesce false so the
    # boolean stays non-null (NULL booleans pandas-normalize differently
    # across engines)
    return out.select("cell", F.round("grade", 6).alias("grade"),
                      F.coalesce(F.col("grade") > SLOPE_STEEP, F.lit(False))
                       .alias("is_steep"))


def q_fill_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binary_fill_holes / clean_mask complement pass over the occupied
    coarse-block mask (lib/raster_array_tools.py:2516,
    lib/filter_scene.py:1691-1722). The DuckDB oracle is an INDEPENDENT
    formulation: recursive border-flood over the complement, vs the
    engine's run-length union-find over the complement's row runs."""
    from ..operators.components import fill_holes

    return fill_holes(_blocks(spark, sf_dir)).select("cell", "was_hole")


def q_resize_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-interpolating imresize down-resample (factor 4) over the
    per-block mean z field (lib/raster_array_tools.py:766-979), BOTH
    interpolating kernels in one output: bilinear (4 taps, weights 1/4)
    bicubic (Keys a=-0.5, 16 taps), and lanczos-3 (36 scattered taps,
    the cv2.INTER_LANCZOS4 / PIL LANCZOS backend of interp='lanczos',
    lib/raster_array_tools.py:852,863); incomplete taps -> NULL."""
    from ..operators.neighborhood import (bicubic_downsample,
                                          bilinear_downsample,
                                          lanczos3_downsample)

    df = (P.geocoded_pages(spark, sf_dir)
          .withColumn("z", F.expr(D.z_expr(D.SPARK)))
          .select(F.expr(D.block_x_expr(D.SPARK)).alias("cell_x"),
                  F.expr(D.block_y_expr(D.SPARK)).alias("cell_y"), "z")
          .withColumn("cell", F.expr(D.cell_id_from_xy())))
    lin = bilinear_downsample(df, "z", factor=4)
    cub = bicubic_downsample(df, "z", factor=4)
    lan = lanczos3_downsample(df, "z", factor=4)
    return (lin.join(cub, "cell").join(lan, "cell")
            .select("cell", F.round("z_resized", 6).alias("z_resized"),
                    F.round("z_bicubic", 6).alias("z_bicubic"),
                    F.round("z_lanczos3", 6).alias("z_lanczos3")))


# composed water-mask thresholds (waterMask.m constants analogue)
WATER_TH_ENT = 2.0     # entropy_thresh
WATER_TH_Z = 48.0      # ortho_thresh (radiance proxy = block mean z)
WATER_TH_DENS = 4      # data_density_thresh (pages per block)


def q_water_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED water-mask predicate over coarse blocks — the full
    waterMask.m composition (lib/filter_scene.py:1349-1390):
    subtraction image = k-ring max-min range of z (max1d-min1d,
    :1354-1356), entropy component = k-ring entropy < thresh, radiance
    component = low block mean z AND low page density, water = data &
    (entropy_mask | radiance_mask). The reference's isolated-cluster
    cleanup steps (bwareaopen / clean_mask) are the separately-validated
    q_bwareaopen / q_fill_holes operators. Output keeps vrange so the
    range-filter operator stays oracle-covered here."""
    from ..operators.neighborhood import ring_entropy

    base = (P.geocoded_pages(spark, sf_dir)
            .withColumn("z", F.expr(D.z_expr(D.SPARK)))
            .select(F.expr(D.block_x_expr(D.SPARK)).alias("cell_x"),
                    F.expr(D.block_y_expr(D.SPARK)).alias("cell_y"),
                    "z", "lang")
            .withColumn("cell", F.expr(D.cell_id_from_xy())))
    vrange = MO.ring_range_filter(base, "z", ring=1)
    ent = ring_entropy(base, "lang", ring=1)
    per_block = base.groupBy("cell").agg(
        F.sum("z").alias("sz"), F.count(F.lit(1)).alias("n"))
    j = per_block.join(vrange, "cell").join(ent, "cell")
    mask_ent = F.col("ring_entropy") < WATER_TH_ENT
    mask_rad = ((F.col("sz") / F.col("n") < WATER_TH_Z)
                & (F.col("n") < WATER_TH_DENS))
    return j.select(
        "cell", F.round("vrange", 6).alias("vrange"),
        F.round("ring_entropy", 6).alias("ring_ent"),
        F.col("n").alias("n_pages"),
        mask_ent.alias("is_water_entropy"),
        mask_rad.alias("is_water_radiance"),
        (mask_ent | mask_rad).alias("is_water"))


# ---------------------------------------------------------------------------
# diff_strips analogue
# ---------------------------------------------------------------------------

def q_diff_strips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-strip difference + best-window selection (diff_strips.py:118-305):
    per host pair, per shared coarse block: dz = mean(z_odd) - mean(z_even);
    the block with the highest combined page count is the best crop window
    (argmax -> row_number()=1, ties by block id)."""
    j = M.paired_blocks(P.geocoded_pages(spark, sf_dir), ("pair", "block"))
    w = Window.partitionBy("pair").orderBy(
        (F.col("na") + F.col("nb")).desc(), F.col("block").asc())
    return (j.withColumn("win_rank", F.row_number().over(w))
            .select("pair", "block",
                    F.round(F.col("szb") / F.col("nb") - F.col("sza") / F.col("na"),
                            6).alias("dz"),
                    (F.col("na") + F.col("nb")).alias("n_total"),
                    (F.col("win_rank") == 1).alias("is_best")))


# ---------------------------------------------------------------------------
# scalar-function parity (quantize / crop / rescale / coalesce / DN2RAD)
# ---------------------------------------------------------------------------

def q_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEM 1/128 quantization (lib/scenes2strips.py:708-711),
    astype_round_and_crop (lib/raster_array_tools.py:348-421), rescaleDN
    (lib/filter_scene.py:1778-1809), suffix-priority coalesce
    (batch_scenes2strips.py:1896-1919)."""
    df = P.geocoded_pages(spark, sf_dir).withColumn("z", F.expr(D.z_expr(D.SPARK)))
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        (F.round(F.col("z") * 128) / 128).alias("z_q"),
        F.expr("cast(least(greatest(round(z * 2.55), 0.0), 255.0) as int)")
            .alias("dn_crop"),
        F.expr("cast(floor(cast(least(greatest(round(z * 2.55), 0.0), 255.0) as int)"
               " * 1000 / 255) as int)").alias("dn_rescaled"),
        F.round(F.expr(
            "coalesce(CASE WHEN n_chars > 600 THEN z END, "
            "CASE WHEN n_chars > 300 THEN z * 0.5 END, z * 0.25)"), 6)
            .alias("v_priority"),
    )


DN2RAD_TABLE = [("en", 1.2, 0.5), ("de", 0.9, 0.3), ("fr", 1.1, -0.2),
                ("es", 1.4, 0.0), ("zh", 0.8, 0.7)]


def q_dn2rad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DG_DN2RAD gain/offset lookup by sensor (lib/filter_scene.py:1812-1865)
    as a broadcast dimension join; 'sensor' stands in as lang."""
    dim = spark.createDataFrame(DN2RAD_TABLE, "lang string, gain double, ofs double")
    df = P.pages(spark, sf_dir)
    out = df.join(F.broadcast(dim), "lang")
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.round(F.col("gain") * F.col("n_chars") + F.col("ofs"), 6).alias("rad"))


# ---------------------------------------------------------------------------
# QC checks (batch_check_setsm analogues)
# ---------------------------------------------------------------------------

def q_valid_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Valid-range violation report (batch_check_setsm.py:336-341,2123-2160):
    rows outside the accepted band, with the offending value."""
    df = P.pages(spark, sf_dir)
    return (df.where(~F.col("n_chars").between(150, 800))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"), "n_chars",
                    F.when(F.col("n_chars") < 150, "below_min")
                     .otherwise("above_max").alias("reason")))


def q_meta_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key=value metadata parse + census (readSceneMeta,
    lib/filter_scene.py:1725-1775; key census batch_check_setsm.py:2269-2317):
    serialize page fields to a meta string, re-extract typed values by
    regex, aggregate the census."""
    df = P.pages(spark, sf_dir).withColumn(
        "metastr", F.expr("concat('lang=', lang, ';n=', cast(n_chars as string))"))
    parsed = df.select(
        F.regexp_extract("metastr", "lang=([a-z]+)", 1).alias("lang_meta"),
        F.regexp_extract("metastr", "n=([0-9]+)", 1).cast("bigint").alias("n_meta"))
    return parsed.groupBy("lang_meta").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_meta").cast("bigint").alias("sum_n"))


# ---------------------------------------------------------------------------
# set ops / sorts / rollups / scalar parity #2
# ---------------------------------------------------------------------------

def q_group_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group QC census merging three reference set/agg operators into
    one oracle-checked output: remaining-set difference as a real anti-join
    (remaining -= mosaicked, batch_scenes2strips.py:1438), distinct-version
    census (collect_set + agreement check, batch_scenes2strips.py:
    1112-1165), and the order-insensitive content checksum (gdalinfo
    -checksum analogue, batch_check_setsm.py:2089-2096)."""
    from ..operators.flags import with_flags

    df = with_flags(P.pages(spark, sf_dir))
    flagged = df.where(F.col("flags") > 0).select("url")
    remaining = (df.join(flagged, "url", "left_anti")
                 .groupBy("group_id")
                 .agg(F.count(F.lit(1)).alias("n_remaining")))
    census = df.groupBy("group_id").agg(
        F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
        F.countDistinct("lang").alias("n_langs"),
        F.expr(f"cast(sum({D.hex8_i64('text', 1, D.SPARK)}) as bigint)")
            .alias("checksum"),
        F.count(F.lit(1)).alias("n_pages"))
    return (census.join(remaining, "group_id", "left")
            .select("group_id",
                    F.coalesce("n_remaining", F.lit(0)).cast("bigint")
                     .alias("n_remaining"),
                    "langs", "n_langs", "checksum", "n_pages"))


def q_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readFromXml scene-metadata parse (lib/filter_scene.py:1876-1892,
    xml minidom getElementsByTagName): synthesize the .xml sidecar string,
    extract typed fields with Spark's JVM xpath_string/xpath_long. The
    DuckDB oracle extracts the same fields by regexp — an independent
    implementation of the parse."""
    df = P.pages(spark, sf_dir).withColumn(
        "xml", F.expr(D.scene_xml_expr(D.SPARK)))
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.expr("xpath_string(xml, '/scene/lang')").alias("xml_lang"),
        F.expr("xpath_long(xml, '/scene/n')").alias("xml_n"))


def q_version_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VersionString semantic sort/compare (lib/script_utils.py:73-213):
    parse 'M.m.p', rank numerically per group. Output: the semantic max
    version, the lexicographic max (which genuinely diverges once minor
    reaches two digits), and the distinct-version count."""
    df = P.pages(spark, sf_dir).withColumn(
        "ver", F.expr(D.version_expr(D.SPARK)))
    parts = (df.withColumn("maj", F.expr("cast(split(ver, '[.]')[0] as int)"))
             .withColumn("mino", F.expr("cast(split(ver, '[.]')[1] as int)"))
             .withColumn("pat", F.expr("cast(split(ver, '[.]')[2] as int)")))
    w = Window.partitionBy("group_id").orderBy(
        F.col("maj").desc(), F.col("mino").desc(), F.col("pat").desc(),
        F.col("ver").desc())
    sem = (parts.withColumn("rn", F.row_number().over(w)).where("rn = 1")
           .select("group_id", F.col("ver").alias("v_latest")))
    agg = df.groupBy("group_id").agg(
        F.max("ver").alias("v_latest_lex"),
        F.countDistinct("ver").alias("n_versions"))
    return sem.join(agg, "group_id")


def q_top_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic top-5 hosts by page count (greedy argmax / version
    sort analogues, lib/scenes2strips.py:979-989)."""
    df = P.pages(spark, sf_dir)
    counts = df.groupBy("group_id").agg(F.count(F.lit(1)).alias("n_pages"))
    w = Window.orderBy(F.col("n_pages").desc(), F.col("group_id").asc())
    return (counts.withColumn("host_rank", F.row_number().over(w))
            .where(F.col("host_rank") <= 5))


def q_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-level browse pyramid rollup (10m -> 40m chain,
    batch_scenes2strips.py:1793-1854) MERGED with the nearest-neighbor
    upsample-to-native step (8m mask -> native res,
    lib/filter_scene.py:339-341) — the same block-rollup scan feeds both:
    per-block and per-superblock (4x coarser) counts, plus 'native'-level
    rows where the per-block mean z is broadcast back down to every
    occupied native cell (broadcast hash join against the tiny block agg —
    the upsample plan shape). z_up is NULL on the two rollup levels."""
    df = (P.geocoded_pages(spark, sf_dir)
          .withColumn("z", F.expr(D.z_expr(D.SPARK)))
          .withColumn("bx", F.expr(D.block_x_expr(D.SPARK)))
          .withColumn("by", F.expr(D.block_y_expr(D.SPARK))))
    blocks = (df.groupBy("bx", "by")
              .agg(F.count(F.lit(1)).alias("n"), F.avg("z").alias("bz")))
    fine = blocks.select(
        F.lit("block").alias("level"),
        (F.col("by") * 64 + F.col("bx")).cast("bigint").alias("key"), "n",
        F.lit(None).cast("double").alias("z_up"))
    coarse = (df.withColumn("sx", F.expr("shiftright(bx, 2)"))
              .withColumn("sy", F.expr("shiftright(by, 2)"))
              .groupBy("sx", "sy").agg(F.count(F.lit(1)).alias("n"))
              .select(F.lit("superblock").alias("level"),
                      (F.col("sy") * 64 + F.col("sx")).cast("bigint").alias("key"),
                      "n", F.lit(None).cast("double").alias("z_up")))
    native = (df.groupBy("bx", "by", "cell")
              .agg(F.count(F.lit(1)).alias("n"))
              .join(F.broadcast(blocks.select("bx", "by", "bz")), ["bx", "by"])
              .select(F.lit("native").alias("level"),
                      F.col("cell").cast("bigint").alias("key"), "n",
                      F.round("bz", 6).alias("z_up")))
    return fine.unionByName(coarse).unionByName(native)


# ---------------------------------------------------------------------------
# kernels #2: general conv2, shifted bilinear interp, upsample, windows
# ---------------------------------------------------------------------------

CONV2_KERNEL = {(0, 0): 4, (1, 0): 2, (-1, 0): 2, (0, 1): 2, (0, -1): 2,
                (1, 1): 1, (1, -1): 1, (-1, 1): 1, (-1, -1): 1}
SHIFT_DX, SHIFT_DY = 0.5, 0.25


def q_conv2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-kernel convolution over cells (conv2 analogue,
    lib/raster_array_tools.py:1457-1728) with a Gaussian-ish integer
    kernel, over coarse blocks."""
    from ..operators.neighborhood import weighted_kernel_agg

    df = (P.geocoded_pages(spark, sf_dir)
          .withColumn("z", F.expr(D.z_expr(D.SPARK)))
          .select(F.expr(D.block_x_expr(D.SPARK)).alias("cell_x"),
                  F.expr(D.block_y_expr(D.SPARK)).alias("cell_y"), "z")
          .withColumn("cell", F.expr(D.cell_id_from_xy())))
    out = weighted_kernel_agg(df, "z", CONV2_KERNEL)
    return out.select("cell", F.round("conv_sum", 6).alias("conv_sum"),
                      F.col("conv_wsum").cast("bigint").alias("conv_wsum"))


def q_interp_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear shifted-grid resample (interp2 analogue,
    lib/raster_array_tools.py:598-661; the coregistration shift,
    lib/scenes2strips.py:570-631), over coarse blocks; incomplete
    4-neighborhoods -> NULL (out-of-bounds NaN semantics)."""
    from ..operators.neighborhood import interp_shifted

    df = (P.geocoded_pages(spark, sf_dir)
          .withColumn("z", F.expr(D.z_expr(D.SPARK)))
          .select(F.expr(D.block_x_expr(D.SPARK)).alias("cell_x"),
                  F.expr(D.block_y_expr(D.SPARK)).alias("cell_y"), "z")
          .withColumn("cell", F.expr(D.cell_id_from_xy())))
    out = interp_shifted(df, "z", SHIFT_DX, SHIFT_DY)
    return out.select("cell", F.round("v_shifted", 6).alias("v_shifted"))


def q_crawl_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered window analytics per group: inter-crawl gaps via lag()
    (classic ordered Window — SURVEY §2.5 'ordered analytics')."""
    df = P.pages(spark, sf_dir)
    w = Window.partitionBy("group_id").orderBy(F.col("warc_epoch").asc(),
                                               F.col("url").asc())
    gaps = df.withColumn("delta", F.col("warc_epoch") - F.lag("warc_epoch").over(w))
    return gaps.groupBy("group_id").agg(
        F.count("delta").alias("n_gaps"),
        F.sum("delta").cast("bigint").alias("sum_delta"),
        F.max("delta").cast("bigint").alias("max_delta"))


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

ORACLES: dict[str, str] = {
    "q_morphology": D.with_cells(
        """SELECT d.cell,
                  (o.cell IS NOT NULL) AS is_occupied,
                  (e.cell IS NOT NULL) AS is_eroded,
                  (o.cell IS NOT NULL AND e.cell IS NULL) AS is_boundary
           FROM (SELECT DISTINCT (b.by + o.dy) * 131072 + (b.bx + o.dx) AS cell
                 FROM blocks b CROSS JOIN offs o) d
           LEFT JOIN (SELECT by * 131072 + bx AS cell FROM blocks) o
             ON d.cell = o.cell
           LEFT JOIN (
             SELECT v.cell FROM (
               SELECT (b.by + o.dy) * 131072 + (b.bx + o.dx) AS cell,
                      count(*) AS nv
               FROM blocks b CROSS JOIN offs o GROUP BY 1
             ) v JOIN (SELECT by * 131072 + bx AS cell FROM blocks) o2
               ON v.cell = o2.cell
             WHERE v.nv = 9
           ) e ON d.cell = e.cell""",
        extra_ctes=_BLOCKS_CTE + ", " + D.ring_offsets_values(1)),
    "q_slope": D.with_cells(
        """SELECT g.cell,
                  round(sqrt(((g.vr - g.vl) / 2) * ((g.vr - g.vl) / 2)
                           + ((g.vu - g.vd) / 2) * ((g.vu - g.vd) / 2)), 6)
                    AS grade,
                  coalesce(sqrt(((g.vr - g.vl) / 2) * ((g.vr - g.vl) / 2)
                      + ((g.vu - g.vd) / 2) * ((g.vu - g.vd) / 2)) > 15.0,
                      FALSE) AS is_steep
           FROM (
             SELECT sc.cell,
                    max(CASE WHEN sc.role = 'vl' THEN sc.v END) AS vl,
                    max(CASE WHEN sc.role = 'vr' THEN sc.v END) AS vr,
                    max(CASE WHEN sc.role = 'vu' THEN sc.v END) AS vu,
                    max(CASE WHEN sc.role = 'vd' THEN sc.v END) AS vd
             FROM (
               SELECT (p.cell_y + d.dy) * 131072 + (p.cell_x + d.dx) AS cell,
                      d.role, p.s / p.n AS v
               FROM (SELECT cell_x, cell_y, sum(z) AS s, count(*) AS n
                     FROM zb GROUP BY 1, 2) p
               CROSS JOIN dirs d
             ) sc GROUP BY sc.cell
           ) g JOIN (SELECT DISTINCT cell_y * 131072 + cell_x AS cell FROM zb)
             occ ON g.cell = occ.cell""",
        extra_ctes="dirs(role, dx, dy) AS (VALUES ('vl', 1, 0), ('vr', -1, 0),"
        " ('vd', 0, 1), ('vu', 0, -1)), "
        f"zb AS (SELECT (cell_x >> 12) AS cell_x, (cell_y >> 12) AS cell_y, "
        f"{D.z_expr(_DD)} AS z FROM cells)"),
    "q_resize_bilinear": D.with_cells(
        """SELECT t.ty * 131072 + t.tx AS cell,
                  round(CASE WHEN c.ntap = 4 THEN c.sv / 4.0 END, 6)
                    AS z_resized,
                  round(CASE WHEN k.ntap = 16 THEN k.sv END, 6) AS z_bicubic,
                  round(CASE WHEN l.ntap = 36 THEN l.sv END, 6) AS z_lanczos3
           FROM (SELECT DISTINCT CAST(floor(bx / 4) AS BIGINT) AS tx,
                        CAST(floor(by / 4) AS BIGINT) AS ty FROM p) t
           LEFT JOIN (
             SELECT CAST(floor(bx / 4) AS BIGINT) AS tx,
                    CAST(floor(by / 4) AS BIGINT) AS ty,
                    sum(v) AS sv, count(*) AS ntap
             FROM p WHERE (bx % 4) IN (1, 2) AND (by % 4) IN (1, 2)
             GROUP BY 1, 2
           ) c ON t.tx = c.tx AND t.ty = c.ty
           LEFT JOIN (
             -- Keys a=-0.5 cubic taps: offsets +-0.5 -> 0.5625,
             -- +-1.5 -> -0.0625 (exact binary fractions)
             SELECT CAST(floor(bx / 4) AS BIGINT) AS tx,
                    CAST(floor(by / 4) AS BIGINT) AS ty,
                    sum((CASE WHEN (bx % 4) IN (1, 2) THEN 0.5625
                              ELSE -0.0625 END)
                        * (CASE WHEN (by % 4) IN (1, 2) THEN 0.5625
                                ELSE -0.0625 END) * v) AS sv,
                    count(*) AS ntap
             FROM p GROUP BY 1, 2
           ) k ON t.tx = k.tx AND t.ty = k.ty
           LEFT JOIN (
             -- Lanczos-3 half-pel taps: normalized weights are exact
             -- rationals [450, -100, 18] / 736 at offsets 0.5/1.5/2.5;
             -- integer numerators, ONE division by 736^2
             SELECT CAST(floor(bx / 4) AS BIGINT) + d.dx AS tx,
                    CAST(floor(by / 4) AS BIGINT) + d.dy AS ty,
                    sum((CASE WHEN abs(bx - (floor(bx / 4) + d.dx) * 4 - 1.5)
                                   < 1 THEN 450.0
                              WHEN abs(bx - (floor(bx / 4) + d.dx) * 4 - 1.5)
                                   < 2 THEN -100.0
                              ELSE 18.0 END)
                      * (CASE WHEN abs(by - (floor(by / 4) + d.dy) * 4 - 1.5)
                                   < 1 THEN 450.0
                              WHEN abs(by - (floor(by / 4) + d.dy) * 4 - 1.5)
                                   < 2 THEN -100.0
                              ELSE 18.0 END) * v) / 541696.0 AS sv,
                    count(*) AS ntap
             FROM p CROSS JOIN (
               SELECT dxs.dx, dys.dy
               FROM (VALUES (-1), (0), (1)) dxs(dx)
               CROSS JOIN (VALUES (-1), (0), (1)) dys(dy)
             ) d
             WHERE abs(bx - (floor(bx / 4) + d.dx) * 4 - 1.5) < 3
               AND abs(by - (floor(by / 4) + d.dy) * 4 - 1.5) < 3
             GROUP BY 1, 2
           ) l ON t.tx = l.tx AND t.ty = l.ty""",
        extra_ctes=f"zb AS (SELECT (cell_x >> 12) AS bx, (cell_y >> 12) AS by, "
        f"{D.z_expr(_DD)} AS z FROM cells), "
        "p AS (SELECT bx, by, sum(z) / count(*) AS v FROM zb GROUP BY 1, 2)"),
    "q_water_compose": D.with_cells(
        f"""SELECT b.cell, round(r.vrange, 6) AS vrange,
                   round(e.ent, 6) AS ring_ent, b.n AS n_pages,
                   (e.ent < {WATER_TH_ENT}) AS is_water_entropy,
                   ((b.s / b.n < {WATER_TH_Z}) AND (b.n < {WATER_TH_DENS}))
                     AS is_water_radiance,
                   ((e.ent < {WATER_TH_ENT}) OR
                    ((b.s / b.n < {WATER_TH_Z}) AND (b.n < {WATER_TH_DENS})))
                     AS is_water
            FROM pb b
            JOIN (
              SELECT rr.cell, rr.vrange FROM (
                SELECT (p.by + o.dy) * 131072 + (p.bx + o.dx) AS cell,
                       max(p.vmax) - min(p.vmin) AS vrange
                FROM (SELECT bx, by, max(z) AS vmax, min(z) AS vmin
                      FROM zb GROUP BY 1, 2) p
                CROSS JOIN offs o GROUP BY 1
              ) rr JOIN (SELECT DISTINCT by * 131072 + bx AS cell FROM zb) oc
                ON rr.cell = oc.cell
            ) r ON b.cell = r.cell
            JOIN (
              SELECT t.target_cell AS cell,
                     log2(CAST(t.N AS DOUBLE)) - t.nlogn / t.N AS ent
              FROM (
                SELECT target_cell, sum(n) AS N,
                       sum(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE)))
                         AS nlogn
                FROM (
                  SELECT (p.by + o.dy) * 131072 + (p.bx + o.dx)
                           AS target_cell, p.lang, sum(p.n) AS n
                  FROM (SELECT bx, by, lang, count(*) AS n
                        FROM zb GROUP BY 1, 2, 3) p
                  CROSS JOIN offs o GROUP BY 1, 2
                ) GROUP BY target_cell
              ) t JOIN (SELECT DISTINCT by * 131072 + bx AS cell FROM zb) oc2
                ON t.target_cell = oc2.cell
            ) e ON b.cell = e.cell""",
        extra_ctes=D.ring_offsets_values(1)
        + f", zb AS (SELECT (cell_x >> 12) AS bx, (cell_y >> 12) AS by, "
          f"{D.z_expr(_DD)} AS z, lang FROM cells)"
        + ", pb AS (SELECT by * 131072 + bx AS cell, sum(z) AS s, "
          "CAST(count(*) AS BIGINT) AS n FROM zb GROUP BY 1)"),
    "q_diff_strips": D.with_cells(
        """SELECT j.pair, j.block, round(j.szb / j.nb - j.sza / j.na, 6) AS dz,
                  j.na + j.nb AS n_total,
                  (row_number() OVER (PARTITION BY j.pair
                     ORDER BY (j.na + j.nb) DESC, j.block ASC) = 1) AS is_best
           FROM (
             SELECT a.pair, a.block, a.sz AS sza, a.n AS na,
                    b.sz AS szb, b.n AS nb
             FROM (SELECT * FROM agg WHERE side = 0) a
             JOIN (SELECT * FROM agg WHERE side = 1) b
               ON a.pair = b.pair AND a.block = b.block
           ) j""",
        extra_ctes=f"""
        base AS (
          SELECT *, {D.z_expr(_DD)} AS z, {D.block_id_expr(_DD)} AS block,
                 CAST(substring(group_id, 5) AS INT) AS hostnum,
                 CAST(floor(CAST(substring(group_id, 5) AS INT) / 2) AS BIGINT) AS pair
          FROM cells
        ),
        agg AS (
          SELECT pair, block, hostnum % 2 AS side, sum(z) AS sz,
                 CAST(count(*) AS BIGINT) AS n
          FROM base GROUP BY pair, block, hostnum % 2
        )"""),
    "q_quantize": D.with_cells(
        f"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
              round(z * 128) / 128 AS z_q,
              CAST(least(greatest(round(z * 2.55), 0.0), 255.0) AS INT) AS dn_crop,
              CAST(floor(CAST(least(greatest(round(z * 2.55), 0.0), 255.0) AS INT)
                   * 1000 / 255) AS INT) AS dn_rescaled,
              round(coalesce(CASE WHEN n_chars > 600 THEN z END,
                             CASE WHEN n_chars > 300 THEN z * 0.5 END,
                             z * 0.25), 6) AS v_priority
            FROM (SELECT *, {D.z_expr(_DD)} AS z FROM cells)"""),
    "q_dn2rad": D.with_cells(
        """SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
                  round(d.gain * c.n_chars + d.ofs, 6) AS rad
           FROM cells c JOIN dim d ON c.lang = d.lang""",
        extra_ctes="dim(lang, gain, ofs) AS (VALUES "
        + ", ".join(f"('{s}', {g}, {o})" for s, g, o in DN2RAD_TABLE) + ")"),
    "q_valid_range": D.with_cells(
        """SELECT CAST(doc_id AS BIGINT) AS doc_id, n_chars,
                  CASE WHEN n_chars < 150 THEN 'below_min'
                       ELSE 'above_max' END AS reason
           FROM cells WHERE n_chars NOT BETWEEN 150 AND 800"""),
    "q_meta_extract": D.with_cells(
        """SELECT regexp_extract(metastr, 'lang=([a-z]+)', 1) AS lang_meta,
                  CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(CAST(regexp_extract(metastr, 'n=([0-9]+)', 1)
                       AS BIGINT)) AS BIGINT) AS sum_n
           FROM (SELECT ('lang=' || lang || ';n=' || CAST(n_chars AS VARCHAR))
                 AS metastr FROM cells)
           GROUP BY 1"""),
    "q_group_census": D.with_cells(
        f"""SELECT c.group_id,
                   CAST(coalesce(r.n_remaining, 0) AS BIGINT) AS n_remaining,
                   c.langs, c.n_langs, c.checksum, c.n_pages
            FROM (
              SELECT group_id,
                     string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
                     CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                     CAST(sum({D.hex8_i64('text', 1, _DD)}) AS BIGINT)
                       AS checksum,
                     CAST(count(*) AS BIGINT) AS n_pages
              FROM cells GROUP BY group_id
            ) c LEFT JOIN (
              SELECT group_id, CAST(count(*) AS BIGINT) AS n_remaining
              FROM (SELECT group_id, {D.flags_expr(_DD)} AS flags FROM cells)
              WHERE flags = 0 GROUP BY group_id
            ) r ON c.group_id = r.group_id"""),
    "q_xml_extract": D.with_cells(
        f"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   regexp_extract(xml, '<lang>([a-z]+)</lang>', 1) AS xml_lang,
                   CAST(regexp_extract(xml, '<n>([0-9]+)</n>', 1) AS BIGINT)
                     AS xml_n
            FROM (SELECT doc_id, {D.scene_xml_expr(_DD)} AS xml FROM cells)"""),
    "q_version_sort": D.with_cells(
        """SELECT s.group_id, s.v_latest, a.v_latest_lex, a.n_versions
           FROM (
             SELECT group_id, ver AS v_latest FROM (
               SELECT group_id, ver, row_number() OVER (
                 PARTITION BY group_id
                 ORDER BY maj DESC, mino DESC, pat DESC, ver DESC) AS rn
               FROM v
             ) WHERE rn = 1
           ) s JOIN (
             SELECT group_id, max(ver) AS v_latest_lex,
                    CAST(count(DISTINCT ver) AS BIGINT) AS n_versions
             FROM v GROUP BY group_id
           ) a ON s.group_id = a.group_id""",
        extra_ctes=f"""
        v AS (
          SELECT group_id, ver,
                 CAST(string_split(ver, '.')[1] AS INT) AS maj,
                 CAST(string_split(ver, '.')[2] AS INT) AS mino,
                 CAST(string_split(ver, '.')[3] AS INT) AS pat
          FROM (SELECT group_id, {D.version_expr(_DD)} AS ver FROM cells)
        )"""),
    "q_top_hosts": D.with_cells(
        """SELECT group_id, n_pages, CAST(host_rank AS INT) AS host_rank FROM (
             SELECT group_id, CAST(count(*) AS BIGINT) AS n_pages,
                    row_number() OVER (ORDER BY count(*) DESC, group_id ASC)
                      AS host_rank
             FROM cells GROUP BY group_id
           ) WHERE host_rank <= 5"""),
    "q_pyramid": D.with_cells(
        """SELECT 'block' AS level,
                  CAST(by * 64 + bx AS BIGINT) AS key, n,
                  CAST(NULL AS DOUBLE) AS z_up
           FROM blk
           UNION ALL
           SELECT 'superblock' AS level,
                  CAST((by >> 2) * 64 + (bx >> 2) AS BIGINT) AS key,
                  CAST(sum(n) AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS z_up
           FROM blk GROUP BY 2
           UNION ALL
           SELECT 'native' AS level, CAST(nat.cell AS BIGINT) AS key, nat.n,
                  round(blk.bz, 6) AS z_up
           FROM nat JOIN blk ON nat.bx = blk.bx AND nat.by = blk.by""",
        extra_ctes=f"""
        zc AS (SELECT (cell_x >> 12) AS bx, (cell_y >> 12) AS by, cell,
                      {D.z_expr(_DD)} AS z FROM cells),
        blk AS (SELECT bx, by, CAST(count(*) AS BIGINT) AS n, avg(z) AS bz
                FROM zc GROUP BY bx, by),
        nat AS (SELECT bx, by, cell, CAST(count(*) AS BIGINT) AS n
                FROM zc GROUP BY bx, by, cell)"""),
}


_W = {}
import math as _math
_fx, _fy = _math.floor(SHIFT_DX), _math.floor(SHIFT_DY)
_ax, _ay = SHIFT_DX - _fx, SHIFT_DY - _fy
_W = {(_fx, _fy): (1 - _ax) * (1 - _ay), (_fx + 1, _fy): _ax * (1 - _ay),
      (_fx, _fy + 1): (1 - _ax) * _ay, (_fx + 1, _fy + 1): _ax * _ay}
_WTS = ", ".join(f"({ox}, {oy}, {w!r})" for (ox, oy), w in sorted(_W.items())
                 if w != 0.0)
_NEED = sum(1 for w in _W.values() if w != 0.0)
_KW = ", ".join(f"({dx}, {dy}, {w})" for (dx, dy), w in sorted(CONV2_KERNEL.items()))

ORACLES["q_conv2"] = D.with_cells(
    """SELECT o.cell, round(o.conv_sum, 6) AS conv_sum,
              CAST(o.conv_wsum AS BIGINT) AS conv_wsum
       FROM (
         SELECT (p.cell_y + kk.dy) * 131072 + (p.cell_x + kk.dx) AS cell,
                sum(kk.w * p.s) AS conv_sum, sum(kk.w * p.n) AS conv_wsum
         FROM (SELECT cell_x, cell_y, sum(z) AS s, count(z) AS n
               FROM zb GROUP BY 1, 2) p
         CROSS JOIN kern kk GROUP BY 1
       ) o JOIN (SELECT DISTINCT cell_y * 131072 + cell_x AS cell FROM zb) occ
         ON o.cell = occ.cell""",
    extra_ctes=f"kern(dx, dy, w) AS (VALUES {_KW}), "
    f"zb AS (SELECT (cell_x >> 12) AS cell_x, (cell_y >> 12) AS cell_y, "
    f"{D.z_expr(_DD)} AS z FROM cells)")

ORACLES["q_interp_shift"] = D.with_cells(
    f"""SELECT a.cell,
          round(CASE WHEN a.nc = {_NEED} THEN a.wv END, 6) AS v_shifted
        FROM (
          SELECT (p.cell_y - o.oy) * 131072 + (p.cell_x - o.ox) AS cell,
                 sum(o.w * p.v) AS wv, count(*) AS nc
          FROM (SELECT cell_x, cell_y, avg(z) AS v FROM zb GROUP BY 1, 2) p
          CROSS JOIN wts o GROUP BY 1
        ) a JOIN (SELECT DISTINCT cell_y * 131072 + cell_x AS cell FROM zb) occ
          ON a.cell = occ.cell""",
    extra_ctes=f"wts(ox, oy, w) AS (VALUES {_WTS}), "
    f"zb AS (SELECT (cell_x >> 12) AS cell_x, (cell_y >> 12) AS cell_y, "
    f"{D.z_expr(_DD)} AS z FROM cells)")

ORACLES["q_crawl_intervals"] = D.with_cells(
    """SELECT group_id, CAST(count(delta) AS BIGINT) AS n_gaps,
              CAST(sum(delta) AS BIGINT) AS sum_delta,
              CAST(max(delta) AS BIGINT) AS max_delta
       FROM (
         SELECT group_id,
                warc_epoch - lag(warc_epoch) OVER (
                  PARTITION BY group_id ORDER BY warc_epoch ASC, url ASC
                ) AS delta
         FROM cells
       ) GROUP BY group_id""")

# binary_fill_holes oracle: WITH RECURSIVE border-flood over the complement
# (independent of the engine's run-length union-find)
ORACLES["q_fill_holes"] = f"""
WITH RECURSIVE {D.geo_ctes(_DD)},
{_BLOCKS_CTE},
bb AS (SELECT min(bx) - 1 AS x0, max(bx) + 1 AS x1,
              min(by) - 1 AS y0, max(by) + 1 AS y1 FROM blocks),
grid AS (
  -- generate_series needs constant bounds in DuckDB; the coarse-block
  -- space is <= 18x9 for this data model (cell_x < 72000 >> 12), so a
  -- constant super-range filtered to the bbox is exact
  SELECT gx.generate_series AS bx, gy.generate_series AS by
  FROM generate_series(-1, 32) gx, generate_series(-1, 32) gy, bb
  WHERE gx.generate_series BETWEEN bb.x0 AND bb.x1
    AND gy.generate_series BETWEEN bb.y0 AND bb.y1
),
comp AS (SELECT g.bx, g.by FROM grid g
         LEFT JOIN blocks b ON g.bx = b.bx AND g.by = b.by
         WHERE b.bx IS NULL),
reach AS (
  SELECT c.bx, c.by FROM comp c, bb
  WHERE c.bx = bb.x0 OR c.bx = bb.x1 OR c.by = bb.y0 OR c.by = bb.y1
  UNION
  SELECT c.bx, c.by FROM comp c JOIN reach r
    ON abs(c.bx - r.bx) <= 1 AND abs(c.by - r.by) <= 1
),
holes AS (SELECT c.bx, c.by FROM comp c
          LEFT JOIN reach r ON c.bx = r.bx AND c.by = r.by
          WHERE r.bx IS NULL)
SELECT by * 131072 + bx AS cell, FALSE AS was_hole FROM blocks
UNION ALL
SELECT by * 131072 + bx AS cell, TRUE AS was_hole FROM holes
"""


QUERIES = {
    "q_morphology": q_morphology,
    "q_conv2": q_conv2,
    "q_interp_shift": q_interp_shift,
    "q_crawl_intervals": q_crawl_intervals,
    "q_slope": q_slope,
    "q_fill_holes": q_fill_holes,
    "q_resize_bilinear": q_resize_bilinear,
    "q_water_compose": q_water_compose,
    "q_diff_strips": q_diff_strips,
    "q_quantize": q_quantize,
    "q_dn2rad": q_dn2rad,
    "q_valid_range": q_valid_range,
    "q_meta_extract": q_meta_extract,
    "q_group_census": q_group_census,
    "q_xml_extract": q_xml_extract,
    "q_version_sort": q_version_sort,
    "q_top_hosts": q_top_hosts,
    "q_pyramid": q_pyramid,
}
