"""Connected components vs numpy flood-fill oracle; salted count vs plain."""

from __future__ import annotations

import numpy as np
import pyspark.errors
import pytest

from setsm_postprocessing_python_spark.operators.components import bwareaopen, connected_components
from setsm_postprocessing_python_spark.operators.skew import salted_count
from setsm_postprocessing_python_spark.sql import dialect as D


def _cells_df(spark, coords):
    rows = [(int(y) * D.LON_CELL_STRIDE + int(x), int(x), int(y)) for x, y in coords]
    return spark.createDataFrame(rows, "cell long, cell_x long, cell_y long")


def _numpy_components(coords):
    """Flood-fill oracle (8-connectivity), labels = min cell id."""
    cellid = {c: c[1] * D.LON_CELL_STRIDE + c[0] for c in coords}
    remaining = set(coords)
    out = {}
    while remaining:
        seed = remaining.pop()
        comp = {seed}
        frontier = [seed]
        while frontier:
            x, y = frontier.pop()
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    n = (x + dx, y + dy)
                    if n in remaining:
                        remaining.discard(n)
                        comp.add(n)
                        frontier.append(n)
        label = min(cellid[c] for c in comp)
        for c in comp:
            out[cellid[c]] = label
    return out


def test_components_match_floodfill(spark):
    rng = np.random.default_rng(42)
    coords = {(int(x), int(y)) for x, y in rng.integers(0, 30, (120, 2))}
    df = _cells_df(spark, coords)
    got = {r.cell: r.component for r in connected_components(df).collect()}
    want = _numpy_components(coords)
    assert got == want


def test_snake_component_converges_fast(spark):
    """A 4000-cell serpentine path has graph diameter ~4000; plain HashMin
    needs ~4000 rounds — pointer jumping must converge in <= 25 (O(log d))
    and label every cell with the single component minimum."""
    coords = []
    x, y = 0, 0
    direction = 1
    for _ in range(4000):
        coords.append((x, y))
        nx = x + direction
        if 0 <= nx < 200:
            x = nx
        else:
            y += 1          # u-turn: go up one row, reverse direction
            direction = -direction
    df = _cells_df(spark, coords).repartition(8)
    labels = connected_components(df, max_iter=25).collect()
    assert len(labels) == 4000
    assert len({r.component for r in labels}) == 1
    assert min(r.cell for r in labels) == labels[0].component


def test_nonconvergence_raises(spark):
    coords = [(i, 0) for i in range(40)]  # diameter 40 > 2^1 jumps
    df = _cells_df(spark, coords)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)


def test_fill_holes_matches_numpy(spark):
    """Ring with an interior hole + open notch: interior filled, notch
    (border-connected) left open — checked against a numpy border flood."""
    rng = np.random.default_rng(7)
    occ = {(int(x), int(y)) for x, y in rng.integers(0, 12, (80, 2))}
    # carve a guaranteed hole: ring around (20,20)
    ring = {(20 + dx, 20 + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if not (dx == 0 and dy == 0)}
    occ |= ring
    from setsm_postprocessing_python_spark.operators.components import fill_holes

    got = {(r.cell, r.was_hole) for r in fill_holes(_cells_df(spark, occ)).collect()}

    # numpy oracle: flood the complement from the padded border (8-conn)
    xs = [c[0] for c in occ]; ys = [c[1] for c in occ]
    x0, x1, y0, y1 = min(xs) - 1, max(xs) + 1, min(ys) - 1, max(ys) + 1
    comp = {(x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)} - occ
    frontier = [c for c in comp if c[0] in (x0, x1) or c[1] in (y0, y1)]
    reach = set(frontier)
    while frontier:
        x, y = frontier.pop()
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                n = (x + dx, y + dy)
                if n in comp and n not in reach:
                    reach.add(n)
                    frontier.append(n)
    holes = comp - reach
    want = {(y * D.LON_CELL_STRIDE + x, False) for x, y in occ} \
        | {(y * D.LON_CELL_STRIDE + x, True) for x, y in holes}
    assert got == want
    assert any(h for _, h in got)  # the carved ring produced a real hole


def test_bwareaopen_filters_small_components(spark):
    # one 5-cell line, one 2-cell pair, one isolated cell
    coords = [(0, 0), (1, 0), (2, 0), (3, 0), (4, 0),
              (10, 10), (11, 10),
              (20, 20)]
    df = _cells_df(spark, coords)
    kept = bwareaopen(df, min_size=3).collect()
    assert len(kept) == 5
    assert all(r.csize == 5 for r in kept)


def test_salted_count_equals_plain(spark):
    from setsm_postprocessing_python_spark.sources.datagen import synthetic_pages

    df = synthetic_pages(spark, 20_000, partitions=8, hot_fraction=0.3)
    plain = {r.cell: r["count"] for r in df.groupBy("cell").count().collect()}
    salted = {r.cell: r.n for r in salted_count(df, "cell").collect()}
    assert plain == salted
    # the hot cell really is hot (30% of rows)
    assert max(plain.values()) == 6000


def _clean_mask_fixture():
    """Mask with: a large blob carrying (a) a small 2-cell interior hole,
    (b) a large 5x5 interior hole, (c) a small border-touching notch; plus
    a tiny 2-cell foreground speck far away (removed by remove_pix)."""
    blob = {(x, y) for x in range(0, 14) for y in range(0, 14)}
    small_hole = {(3, 3), (4, 3)}
    big_hole = {(x, y) for x in range(7, 12) for y in range(7, 12)}
    notch = {(0, 5), (1, 5)}          # touches bbox border x=0
    speck = {(30, 30), (31, 30)}
    return (blob - small_hole - big_hole - notch) | speck


def _ref_clean_mask(coords, remove_pix, fill_pix):
    """Pure-python oracle of lib/filter_scene.py:1691-1722:
    ~bwareaopen(~bwareaopen(mask, remove_pix), fill_pix) over the
    occupied bbox (8-connectivity both passes)."""
    def comps(cells):
        remaining, out = set(cells), []
        while remaining:
            seed = remaining.pop()
            comp, frontier = {seed}, [seed]
            while frontier:
                x, y = frontier.pop()
                for dx in (-1, 0, 1):
                    for dy in (-1, 0, 1):
                        n = (x + dx, y + dy)
                        if n in remaining:
                            remaining.discard(n)
                            comp.add(n)
                            frontier.append(n)
            out.append(comp)
        return out

    kept = set().union(*(c for c in comps(coords) if len(c) >= remove_pix))
    xs = [c[0] for c in kept]; ys = [c[1] for c in kept]
    bbox = {(x, y) for x in range(min(xs), max(xs) + 1)
            for y in range(min(ys), max(ys) + 1)}
    voids = bbox - kept
    filled = set().union(set(), *(c for c in comps(voids) if len(c) < fill_pix))
    return kept | filled


def test_clean_mask_reference_semantics(spark):
    """fill_pix caps the fill: small interior hole + small border notch
    fill, the 5x5 interior hole stays open, the speck is removed."""
    from setsm_postprocessing_python_spark.operators.components import clean_mask

    coords = _clean_mask_fixture()
    out = clean_mask(_cells_df(spark, coords), remove_pix=10, fill_pix=10)
    got = {r.cell for r in out.collect()}
    want_xy = _ref_clean_mask(coords, remove_pix=10, fill_pix=10)
    want = {y * D.LON_CELL_STRIDE + x for x, y in want_xy}
    assert got == want
    # the semantics the ADVICE flagged, asserted explicitly:
    assert (3 + 3 * D.LON_CELL_STRIDE) in got            # small hole filled
    assert (5 * D.LON_CELL_STRIDE + 0) in got            # border notch filled
    assert (9 + 9 * D.LON_CELL_STRIDE) not in got        # big hole stays open
    assert (30 + 30 * D.LON_CELL_STRIDE) not in got      # speck removed


def test_fill_holes_bbox_budget_guard(spark):
    """The guard fires when the frame runs: building it fires no job."""
    from setsm_postprocessing_python_spark.operators.components import fill_holes

    df = _cells_df(spark, [(0, 0), (100_000, 100_000)])
    out = fill_holes(df, bbox_budget=1 << 20)
    with pytest.raises(pyspark.errors.SparkRuntimeException, match="budget"):
        out.collect()


def test_fill_holes_grouped_matches_global(spark):
    """Per-group variant == a BFS flood over each group's own grid:
    1-padded bbox, border-unreachable voids (uncapped), and unpadded bbox,
    voids < fill_pix (capped)."""
    from setsm_postprocessing_python_spark.operators.components import (
        fill_holes_grouped)

    ring = [(20 + dx, 20 + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if not (dx == 0 and dy == 0)]
    line = [(100 + i, 0) for i in range(5)]
    groups = {"g1": ring, "g2": line}
    df = spark.createDataFrame(
        [(g, y * D.LON_CELL_STRIDE + x, x, y)
         for g, cells in groups.items() for x, y in cells],
        "group_id string, cell long, cell_x long, cell_y long")

    def want(fill_pix):
        pad = 1 if fill_pix is None else 0
        out = set()
        for g, cells in groups.items():
            x0 = min(x for x, _ in cells) - pad
            y0 = min(y for _, y in cells) - pad
            occ = np.zeros((max(y for _, y in cells) + pad - y0 + 1,
                            max(x for x, _ in cells) + pad - x0 + 1), dtype=bool)
            for x, y in cells:
                occ[y - y0, x - x0] = True
                out.add((g, y * D.LON_CELL_STRIDE + x, False))
            for hy, hx in zip(*np.nonzero(_bfs_hole_reference(occ, fill_pix))):
                out.add((g, int(hy + y0) * D.LON_CELL_STRIDE + int(hx + x0),
                         True))
        return out

    got = {(r.group_id, r.cell, r.was_hole)
           for r in fill_holes_grouped(df).collect()}
    assert got == want(None)
    assert ("g1", 20 + 20 * D.LON_CELL_STRIDE, True) in got  # ring center

    capped = {(r.group_id, r.cell, r.was_hole)
              for r in fill_holes_grouped(df, fill_pix=2).collect()}
    assert capped == want(2)
    assert ("g1", 20 + 20 * D.LON_CELL_STRIDE, True) in capped  # 1 < fill_pix


def test_fill_holes_grouped_bbox_budget_skips(spark):
    """A group with far-apart cells (huge bbox) skips the fill instead of
    allocating the dense grid; bounded groups in the same frame still
    fill."""
    from setsm_postprocessing_python_spark.operators.components import (
        fill_holes_grouped)

    ring = [("ok", 20 + dx, 20 + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if not (dx == 0 and dy == 0)]
    scattered = [("huge", 0, 0), ("huge", 100_000, 100_000)]
    df = spark.createDataFrame(
        [(g, y * D.LON_CELL_STRIDE + x, x, y) for g, x, y in ring + scattered],
        "group_id string, cell long, cell_x long, cell_y long")
    out = fill_holes_grouped(df, bbox_budget=1 << 20).collect()
    huge = [r for r in out if r.group_id == "huge"]
    ok = [r for r in out if r.group_id == "ok"]
    assert len(huge) == 2 and all(r.fill_skipped and not r.was_hole
                                  for r in huge)
    assert any(r.was_hole for r in ok) and not any(r.fill_skipped for r in ok)


from hypothesis import given, settings
from hypothesis import strategies as st


def _bfs_hole_reference(occ, fill_pix):
    """Independent reference: BFS flood over the complement (8-conn)."""
    import numpy as np

    h, w = occ.shape
    comp = ~occ
    seen = np.zeros((h, w), dtype=bool)
    hole = np.zeros((h, w), dtype=bool)
    for sy in range(h):
        for sx in range(w):
            if not comp[sy, sx] or seen[sy, sx]:
                continue
            stack = [(sy, sx)]
            seen[sy, sx] = True
            members = []
            touches_border = False
            while stack:
                y, x = stack.pop()
                members.append((y, x))
                if y in (0, h - 1) or x in (0, w - 1):
                    touches_border = True
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        ny, nx = y + dy, x + dx
                        if (0 <= ny < h and 0 <= nx < w and comp[ny, nx]
                                and not seen[ny, nx]):
                            seen[ny, nx] = True
                            stack.append((ny, nx))
            filled = (len(members) < fill_pix if fill_pix is not None
                      else not touches_border)
            if filled:
                for y, x in members:
                    hole[y, x] = True
    return hole


@settings(max_examples=150, deadline=None)
@given(st.integers(2, 12), st.integers(2, 12), st.integers(0, 2 ** 32 - 1),
       st.sampled_from([None, 2, 4, 9]))
def test_complement_hole_mask_matches_bfs(h, w, seed, fill_pix):
    """The run-length two-pass union-find == a from-scratch BFS flood on
    random occupancy grids, for both the border-reachability (interior
    holes) and size-capped modes."""
    import numpy as np

    from setsm_postprocessing_python_spark.operators.components import (
        complement_hole_mask)

    rng = np.random.default_rng(seed)
    occ = rng.random((h, w)) < 0.55
    got = complement_hole_mask(occ, fill_pix)
    want = _bfs_hole_reference(occ, fill_pix)
    assert (got == want).all()
