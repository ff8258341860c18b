"""Named regression fixtures from FIXTURES.md §4 — the reference's
regression surfaces recast (tile boundaries, filter masks, empty groups,
hot-cell skew equality)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from setsm_postprocessing_python_spark.operators import tiles as OT
from setsm_postprocessing_python_spark.operators.flags import (
    BIT_CLOUD,
    BIT_WATER,
    masked,
    unset_bits,
)
from setsm_postprocessing_python_spark.sql import dialect as D


def test_tile_boundary_closed_lower_open_upper(spark):
    """Points exactly on tile edges/corners: PIP must follow the
    closed-lower/open-upper rule and agree with the quadkey arithmetic
    (the edge-mask analogue, FIXTURES.md §4.1)."""
    depth = D.TILE_DEPTH
    step_lon = 360.0 / (1 << depth)
    step_lat = 180.0 / (1 << depth)
    pts = []
    # interior tile edges and corners
    for k in (1, 5, 10, 15):
        pts.append((-90.0 + k * step_lat, -180.0 + k * step_lon))  # corner
        pts.append((-90.0 + k * step_lat, -180.0 + (k + 0.5) * step_lon))  # edge
        pts.append((-90.0 + (k + 0.5) * step_lat, -180.0 + k * step_lon))  # edge
    # extreme corners of the domain
    pts.append((-90.0, -180.0))
    pts.append((89.999999, 179.999999))
    df = spark.createDataFrame([(float(a), float(b)) for a, b in pts],
                               "lat double, lon double")
    tiles = OT.fixed_depth_tiles(depth)
    pip = OT.assign_tiles_pip(df, tiles).orderBy("lat", "lon").collect()
    qk = OT.assign_tiles_quadkey(df, depth).orderBy("lat", "lon").collect()
    for p, q in zip(pip, qk):
        assert p.tile_id == q.tile_id, f"({p.lat},{p.lon}): {p.tile_id} != {q.tile_id}"
    # a point exactly on an interior edge belongs to the UPPER tile
    # (closed-lower): re-derive one case by hand
    one = spark.createDataFrame([(0.0, 0.0)], "lat double, lon double")
    t = OT.assign_tiles_pip(one, tiles).collect()[0].tile_id
    assert t == "q" + "3" * 0 + "3000"[0:1] + "000"  # (0,0) = first tile of the NE quadrant
    assert t == "q3000"


def test_polygon_pip_matches_rect_path(spark):
    """General ray-casting polygon PIP agrees with the rectangle path when
    the polygons ARE the tile rectangles."""
    tiles = OT.fixed_depth_tiles(2)
    polys = {
        t.tile_id: np.array([[t.xmin, t.ymin], [t.xmax, t.ymin],
                             [t.xmax, t.ymax], [t.xmin, t.ymax]])
        for t in tiles
    }
    rng = np.random.default_rng(42)
    pts = [(float(a), float(b)) for a, b in
           zip(rng.uniform(-89, 89, 200), rng.uniform(-179, 179, 200))]
    df = spark.createDataFrame(pts, "lat double, lon double")
    rect = {(r.lat, r.lon): r.tile_id
            for r in OT.assign_tiles_pip(df, tiles).collect()}
    poly = {(r.lat, r.lon): r.tile_id
            for r in OT.assign_polygons_pip(df, polys).collect()}
    mism = {k for k in rect if rect[k] != poly[k]}
    # boundary-exact points may differ between closed-lower rect rule and
    # ray-cast parity rule; random interior points must agree exactly
    assert not mism


def test_filter_mask_all_flag_values(spark):
    """flags 0-7: bit-unset filtering and masking
    (lib/scenes2strips.py:1160-1174; FIXTURES.md §4.3). The bit_or merge
    (:691) is checked through q_feather_blend's flags_merged oracle."""
    rows = [(f"u{i}", i % 8) for i in range(24)]
    df = spark.createDataFrame(rows, "url string, flags int")
    # nowater: WATER bit cleared everywhere
    nw = unset_bits(df, nowater=True)
    assert nw.where(F.col("flags").bitwiseAND(BIT_WATER) > 0).count() == 0
    # nocloud additionally clears CLOUD
    nc = unset_bits(df, nowater=True, nocloud=True)
    got = {r.url: r.flags for r in nc.collect()}
    for i in range(24):
        assert got[f"u{i}"] == (i % 8) & 1  # only EDGE can remain
    # masked(): value -> NULL where any selected bit remains
    dfv = df.withColumn("v", F.lit(1.0))
    mk = masked(dfv, "v")
    assert mk.where("v IS NULL").count() == df.where("flags > 0").count()


def test_empty_group_all_masked(spark):
    """A fully-flagged group yields zero output rows but still gets a
    stage-record entry (all-data-masked path,
    batch_scenes2strips.py:1384-1386; FIXTURES.md §4.6)."""
    import json
    import shutil
    import tempfile
    from pathlib import Path

    from setsm_postprocessing_python_spark.plans.manifest import (
        STAGE_RECORD, run_stage)

    d = tempfile.mkdtemp(prefix="allmasked_")
    rows = [("g0", f"u{i}", 7) for i in range(5)] + \
           [("g1", f"v{i}", 0) for i in range(5)]
    df = spark.createDataFrame(rows, "group_id string, url string, flags int")

    def transform(sub):
        return (sub.where(F.col("flags") == 0)
                .groupBy("unit").agg(F.count(F.lit(1)).alias("n")))

    r = run_stage(spark, "mask", df, "group_id", transform, f"{d}/out")
    assert r["units_run"] == 2
    rec = json.loads((Path(d) / "out" / "mask" / STAGE_RECORD).read_text())
    rows_out = {u: e["rows"] for u, e in rec["units"].items()}
    assert rows_out == {"g0": 0, "g1": 1}  # g0 all masked -> 0 rows, entry exists
    shutil.rmtree(d, ignore_errors=True)


def test_hot_cell_skew_salting_equivalence(spark):
    """30% of rows in one cell: salted and unsalted aggregations identical
    (FIXTURES.md §4.4)."""
    from setsm_postprocessing_python_spark.operators.skew import salted_count
    from setsm_postprocessing_python_spark.sources.datagen import synthetic_pages

    df = synthetic_pages(spark, 30_000, partitions=8, hot_fraction=0.3)
    plain = dict(df.groupBy("cell").count().collect())
    salted = {r.cell: r.n for r in salted_count(df, "cell").collect()}
    assert plain == salted
    hot_cell_n = max(plain.values())
    assert hot_cell_n >= 9000  # the skew knob really concentrates rows


def test_pip_large_tile_table_fallback(spark):
    """>1024 tiles switches the PIP decode from a literal array to a
    broadcast index join — must stay identical to the quadkey path."""
    from setsm_postprocessing_python_spark.operators.tiles import (
        assign_tiles_pip,
        assign_tiles_quadkey,
        fixed_depth_tiles,
    )
    from setsm_postprocessing_python_spark.sources.pages import geocoded_pages

    df = geocoded_pages(spark, "/root/testdata/sf0.001")
    tiles6 = fixed_depth_tiles(6)  # 4096 tiles
    a = {(r.url, r.tile_id)
         for r in assign_tiles_pip(df, tiles6).select("url", "tile_id").collect()}
    b = {(r.url, r.tile_id)
         for r in assign_tiles_quadkey(df, depth=6).select("url", "tile_id").collect()}
    assert a == b
