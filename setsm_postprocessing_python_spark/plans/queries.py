"""Driver-facing query registry: (spark, sf_dir) -> DataFrame, plus the
matching DuckDB oracle SQL for each.

Every query is the Spark-DataFrame rendering of semantics also expressed in
ANSI SQL (sql/dialect.py) — the twin-implementation validation strategy of
the reference (testing/test.py MATLAB lockstep) recast as Spark-vs-DuckDB.
Column names are aligned on both sides (driver hashes sorted columns).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import dedup as DD
from ..operators import flags as OF
from ..operators import knn as OK
from ..operators import neighborhood as ON
from ..operators import tiles as OT
from ..sources import pages as P
from ..sql import dialect as D

_DD = D.DUCKDB


# ---------------------------------------------------------------------------
# engine-side queries (DataFrame API)
# ---------------------------------------------------------------------------

def q_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """url -> (lat, lon, cell): the scan+project+geocode slice."""
    df = P.geocoded_pages(spark, sf_dir)
    # raw doubles: both engines evaluate the identical IEEE-754 expression
    # tree, so values are bit-identical — no rounding needed (rounding
    # algorithms differ across engines; raw arithmetic does not)
    return df.select(
        "url", F.col("doc_id").cast("bigint").alias("doc_id"),
        "lat", "lon", "cell_x", "cell_y", "cell",
    )


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP tile assignment against broadcast quad-tree rectangles (pandas
    UDF path — the general-geometry engine path), cross-checked in the same
    output against the JVM quadkey fast path: the golden-file set compare
    (diff_stripmeta analogue, testing/validation/stripmeta/diff_stripmeta.py:
    42-51) — tiles_match must be uniformly true, and the oracle hash fails
    if the two engine paths ever diverge."""
    df = P.geocoded_pages(spark, sf_dir)
    tiles = OT.fixed_depth_tiles(D.TILE_DEPTH)
    # both assignment paths are per-row functions of (lat, lon), so they
    # ride ONE frame: the former url self-join (pip side vs quadkey side)
    # shuffled/broadcast the whole table just to zip two columns that were
    # computed from the same scan (guide §2.4: remove shuffles outright —
    # plan went 2 scans + BroadcastHashJoin -> 1 scan, join-free). Rows
    # are identical: the join was 1:1 on the unique url.
    pip = OT.assign_tiles_pip(df, tiles).withColumn(
        "tile_qk", F.expr(D.quadkey_expr(D.SPARK)))
    return pip.select(
        "url", "tile_id", "tile_qk",
        (F.col("tile_id") == F.col("tile_qk")).alias("tiles_match"))


def q_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mosaic-tile rollup: pages + distinct host groups per tile (strip
    summary stats analogue, batch_scenes2strips.py:1582-1660)."""
    df = P.geocoded_pages(spark, sf_dir)
    df = OT.assign_tiles_quadkey(df)  # JVM fast path, identical to PIP
    return df.groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.countDistinct("group_id").alias("n_hosts"),
    )


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ring kNN join (k=3, ring=1) — blocked-halo scale path (proven
    row-identical to the naive 9x k-ring explode; the oracle SQL uses the
    naive formulation). Runs on the coarse 5-degree kNN cells so the driver
    comparison covers real neighbor pairs (at sf0.01 the fine grid is too
    sparse for any ring-1 neighbor — a 0-row match proves nothing)."""
    df = (P.geocoded_pages(spark, sf_dir)
          .withColumn("cell_x", F.expr(D.knn_cell_x_expr()))
          .withColumn("cell_y", F.expr(D.knn_cell_y_expr()))
          .withColumn("cell", F.expr(D.cell_id_from_xy())))
    # block_shift 2 = 4x4 coarse cells/block: the 72x34-cell coarse grid
    # still yields ~160 blocks (shift 6 would collapse it into 2)
    return OK.knn_join_blocked(df, k=3, ring=1, block_shift=2).select(
        "url_a", "url_b", F.col("rank").alias("knn_rank"))


def q_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page bitmask flags (mask_v2 analogue)."""
    df = OF.with_flags(P.pages(spark, sf_dir))
    return df.select("url", "flags")


def q_mask_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nowater bit-unset then flagged-page census per host group
    (lib/scenes2strips.py:1160-1174 + bit_or merge :691), JOINED with the
    batch_mask nodata policy family (batch_mask.py:944-958): per
    (group, policy, src-case) the declared dst nodata, nodata-reading
    cell count, and live-value sum of the masked write under
    same/add/switch/convert/unset."""
    df = OF.with_flags(P.pages(spark, sf_dir))
    df = OF.unset_bits(df, nowater=True)
    # census + policy family ride ONE groupBy (include_census): a single
    # scan and a single shuffle carry both column families
    out = OF.nodata_policy_stats(
        df.withColumn("z", F.expr(D.z_expr(D.SPARK))), include_census=True)
    return out.select("group_id", "n_flagged", "flags_merged", "n_pages",
                      "policy", "has_src_nodata", "nodata_val", "n_nodata",
                      "sum_live")


def q_ring_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ring page density per occupied cell (data-density-map analogue)."""
    df = P.geocoded_pages(spark, sf_dir)
    return ON.ring_density(df, ring=1).select(
        "cell", F.col("n_in_ring").cast("bigint").alias("n_in_ring"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup: canonical min doc_id per md5(text)."""
    return DD.exact_dedup(P.pages(spark, sf_dir)).withColumnRenamed(
        "keep_id", "keep_doc_id")


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect)
# ---------------------------------------------------------------------------

ORACLES: dict[str, str] = {
    "q_geocode": D.with_cells(
        "SELECT url, CAST(doc_id AS BIGINT) AS doc_id, lat, lon, "
        "cell_x, cell_y, cell FROM cells"),
    "q_tile_assign": D.with_cells(
        f"""SELECT url, {D.quadkey_expr(_DD)} AS tile_id,
            {D.quadkey_expr(_DD)} AS tile_qk, TRUE AS tiles_match FROM cells"""),
    "q_tile_counts": D.with_cells(
        f"""SELECT tile_id, CAST(count(*) AS BIGINT) AS n_pages,
            CAST(count(DISTINCT group_id) AS BIGINT) AS n_hosts
            FROM (SELECT {D.quadkey_expr(_DD)} AS tile_id, group_id FROM cells)
            GROUP BY tile_id"""),
    "q_knn": D.with_cells(
        f"""SELECT url_a, url_b, knn_rank FROM (
             SELECT a.url AS url_a, b.url AS url_b,
                    row_number() OVER (
                      PARTITION BY a.url
                      ORDER BY (a.lat-b.lat)*(a.lat-b.lat)
                             + (a.lon-b.lon)*(a.lon-b.lon) ASC, b.url ASC
                    ) AS knn_rank
             FROM kc a CROSS JOIN offs o
             JOIN kc b
               ON (a.kcy + o.dy) * 131072 + (a.kcx + o.dx)
                  = b.kcy * 131072 + b.kcx
             WHERE a.url <> b.url
           ) WHERE knn_rank <= 3""",
        extra_ctes=D.ring_offsets_values(1)
        + f""", kc AS (SELECT url, lat, lon, {D.knn_cell_x_expr()} AS kcx,
                       {D.knn_cell_y_expr()} AS kcy FROM cells)"""),
    "q_flags": D.with_cells(
        f"SELECT url, {D.flags_expr(_DD)} AS flags FROM cells"),
    "q_mask_filter": D.with_cells(
        """SELECT g.group_id, g.n_flagged, g.flags_merged, g.n_pages,
                  pol.policy, pol.has_src_nodata,
                  CASE WHEN pol.policy IN ('switch', 'convert') THEN -9999.0
                       WHEN pol.policy = 'add' AND NOT pol.has_src_nodata
                         THEN -9999.0
                       WHEN pol.policy IN ('same', 'add') AND pol.has_src_nodata
                         THEN -1.0
                  END AS nodata_val,
                  CAST(CASE WHEN pol.policy = 'unset' THEN 0
                       WHEN pol.has_src_nodata AND pol.policy IN ('same', 'add')
                         THEN g.b
                       WHEN pol.has_src_nodata AND pol.policy = 'switch'
                         THEN g.a
                       WHEN pol.has_src_nodata AND pol.policy = 'convert'
                         THEN g.a + g.b
                       WHEN NOT pol.has_src_nodata AND pol.policy = 'same'
                         THEN 0
                       ELSE g.a END AS BIGINT) AS n_nodata,
                  round(CASE
                       WHEN pol.has_src_nodata AND pol.policy IN ('same', 'add')
                         THEN g.s_src + g.a * -9999.0
                       WHEN pol.has_src_nodata AND pol.policy = 'switch'
                         THEN g.s_src + g.b * -1.0
                       WHEN pol.has_src_nodata AND pol.policy = 'convert'
                         THEN g.s_src
                       WHEN pol.has_src_nodata AND pol.policy = 'unset'
                         THEN g.s_src + g.a * -9999.0 + g.b * -1.0
                       WHEN NOT pol.has_src_nodata
                            AND pol.policy IN ('add', 'switch', 'convert')
                         THEN g.s_ns
                       ELSE g.s_ns + g.a * -9999.0 END, 6) AS sum_live
           FROM grp g CROSS JOIN pol""",
        extra_ctes=f"""
        fz AS (SELECT group_id, ({D.flags_expr(_DD)} & 5) AS f,
                      {D.z_expr(_DD)} AS z FROM cells),
        grp AS (SELECT group_id,
                  CAST(sum(CASE WHEN f > 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_flagged,
                  CAST(bit_or(f) AS INT) AS flags_merged,
                  CAST(count(*) AS BIGINT) AS n_pages,
                  sum(CASE WHEN f > 0 THEN 1 ELSE 0 END) AS a,
                  sum(CASE WHEN f = 0 AND z < 10.0 THEN 1 ELSE 0 END) AS b,
                  sum(CASE WHEN f = 0 AND z >= 10.0 THEN z ELSE 0.0 END)
                    AS s_src,
                  sum(CASE WHEN f = 0 THEN z ELSE 0.0 END) AS s_ns
                FROM fz GROUP BY group_id),
        pol(policy, has_src_nodata) AS (
          VALUES ('same', TRUE), ('same', FALSE), ('add', TRUE),
                 ('add', FALSE), ('switch', TRUE), ('switch', FALSE),
                 ('convert', TRUE), ('convert', FALSE),
                 ('unset', TRUE), ('unset', FALSE))"""),
    "q_ring_density": D.with_cells(
        """SELECT d.target_cell AS cell, CAST(d.n_in_ring AS BIGINT) AS n_in_ring
           FROM (
             SELECT (p.cell_y + o.dy) * 131072 + (p.cell_x + o.dx) AS target_cell,
                    sum(p.n) AS n_in_ring
             FROM (SELECT cell_x, cell_y, count(*) AS n
                   FROM cells GROUP BY cell_x, cell_y) p
             CROSS JOIN offs o
             GROUP BY 1
           ) d
           JOIN (SELECT DISTINCT cell FROM cells) c ON d.target_cell = c.cell""",
        extra_ctes=D.ring_offsets_values(1)),
    "q_dedup_exact": D.with_cells(
        """SELECT md5(text) AS text_md5, CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_dups FROM cells GROUP BY md5(text)"""),
}


QUERIES = {
    "q_geocode": q_geocode,
    "q_tile_assign": q_tile_assign,
    "q_tile_counts": q_tile_counts,
    "q_knn": q_knn,
    "q_flags": q_flags,
    "q_mask_filter": q_mask_filter,
    "q_ring_density": q_ring_density,
    "q_dedup_exact": q_dedup_exact,
}
