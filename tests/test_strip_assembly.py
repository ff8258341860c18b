"""strip_assemble vs an independent numpy oracle on a constructed
two-strip fixture, plus the trans_guess hold (pass-2) path and the
host-pair rule on malformed and one-sided input.

The numpy oracle re-derives the WHOLE composition from scratch — md5 z
values, per-block means, the iterative 3-sigma LSQ fit, the shifted
bilinear/nearest resample, and the feather blend — sharing no code with
operators/merge.py (reference semantics: lib/scenes2strips.py:570-692).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyspark.sql.functions as F
import pytest

from setsm_postprocessing_python_spark.operators import merge as M
from setsm_postprocessing_python_spark.session import cache_scope

from .conftest import persisted_rdd_ids

BS = 1 << 12  # block shift stride (dialect BLOCK_SHIFT)


def _z(url: str) -> float:
    h = int(hashlib.md5(url.encode()).hexdigest()[16:24], 16)
    return h / 4294967296.0 * 100.0


def _mk_fixture(spark):
    """One page per block: side A blocks bx 0..5 x by 0..3, side B blocks
    bx 2..7 x by 0..3 (16 shared blocks >= the 10-point fit gate)."""
    rows = []
    i = 0
    for host, bxs in (("host0", range(0, 6)), ("host1", range(2, 8))):
        for bx in bxs:
            for by in range(4):
                url = f"https://{host}.example/p/{i}"
                rows.append((url, host, i % 8, bx * BS, by * BS))
                i += 1
    return spark.createDataFrame(
        rows, "url string, group_id string, flags int, cell_x long, cell_y long")


def _numpy_fit(rows):
    """Independent iterative 3-sigma LSQ plane fit re-derivation."""
    a = {(r[3] // BS, r[4] // BS): _z(r[0]) for r in rows if r[1] == "host0"}
    b = {(r[3] // BS, r[4] // BS): _z(r[0]) for r in rows if r[1] == "host1"}
    shared = sorted(set(a) & set(b))
    dzv = np.array([b[k] - a[k] for k in shared])
    x = np.array([k[0] for k in shared], dtype=float)
    y = np.array([k[1] for k in shared], dtype=float)
    params = np.array([np.nan, 0.0, 0.0])
    best = np.inf
    for it in range(5):
        med, sd = np.median(dzv), np.std(dzv)
        keep = np.abs(dzv - med) <= 3 * sd + 1e-12
        A = np.column_stack([np.ones(keep.sum()), x[keep], y[keep]])
        sol, *_ = np.linalg.lstsq(A, dzv[keep], rcond=None)
        rmse = float(np.sqrt(np.mean((dzv[keep] - A @ sol) ** 2)))
        if best - rmse <= 1e-3 and it > 0:
            break
        best = rmse
        params = sol
    return params[0], params[1], params[2], best


def _numpy_oracle(rows, dz, dx, dy):
    a = {(r[3] // BS, r[4] // BS): (_z(r[0]), r[2]) for r in rows
         if r[1] == "host0"}
    b = {(r[3] // BS, r[4] // BS): (_z(r[0]), r[2]) for r in rows
         if r[1] == "host1"}
    # shifted bilinear resample of B, nearest for masks
    fx, fy = int(np.floor(dx)), int(np.floor(dy))
    ax, ay = dx - fx, dy - fy
    rx, ry = int(np.floor(dx + 0.5)), int(np.floor(dy + 0.5))
    zi = {}
    for (bx, by) in {(bx - fx - i, by - fy - j)
                     for (bx, by) in b for i in (0, 1) for j in (0, 1)}:
        w = 0.0
        v = 0.0
        for i, wx in ((0, 1 - ax), (1, ax)):
            for j, wy in ((0, 1 - ay), (1, ay)):
                src = (bx + fx + i, by + fy + j)
                if src in b:
                    w += wx * wy
                    v += wx * wy * (b[src][0] - dz)
        if w >= 1.0 - 1e-9:
            zi[(bx, by)] = v
    bn = {(bx - rx, by - ry): b[(bx, by)] for (bx, by) in b}
    # feather blend over the overlap bx span
    both = sorted(set(a) & set(zi))
    s0 = min(bx for bx, _ in both)
    s1 = max(bx for bx, _ in both)
    out = {}
    for k in sorted(set(a) | set(zi) | set(bn)):
        bx, by = k
        in_a, in_zi, in_bn = k in a, k in zi, k in bn
        raw = (bx - s0) / max(s1 - s0, 1.0)
        w = min(max((raw - 0.25) / 0.3, 0.0), 1.0)
        if in_a and in_zi:
            src, zs, wv = "both", w * a[k][0] + (1 - w) * zi[k], w
        elif in_a:
            src, zs, wv = "a_only", a[k][0], None
        else:
            src, zs, wv = "b_only", zi.get(k), None
        fl = (a[k][1] if in_a else 0) | (bn[k][1] if in_bn else 0)
        n = (1 if in_a else 0) + (1 if in_bn else 0)
        out[k] = (src, wv, zs, n, in_a or in_bn, fl)
    return out


def test_coreg_fit_matches_numpy_oracle(spark):
    """The distributed cogrouped fit == the from-scratch numpy LSQ."""
    df = _mk_fixture(spark)
    rows = [(r.url, r.group_id, r.flags, r.cell_x, r.cell_y)
            for r in df.collect()]
    dz, dx, dy, rmse = _numpy_fit(rows)
    got = M.coregister_pairs(df, lambda c: F.lit("all")).collect()
    assert len(got) == 1 and got[0].status == "ok"
    assert abs(got[0].dz - dz) < 1e-9
    assert abs(got[0].dx - dx) < 1e-9
    assert abs(got[0].dy - dy) < 1e-9
    assert abs(got[0].rmse - rmse) < 1e-9


# a known small fractional translation drives the blend comparison (the
# md5-noise FIT on this fixture lands far off the overlap; the fit itself
# is pinned by test_coreg_fit_matches_numpy_oracle above)
TRANS = (5.0, 0.4, -0.3)


def test_strip_assemble_matches_numpy_oracle(spark):
    df = _mk_fixture(spark)
    rows = [(r.url, r.group_id, r.flags, r.cell_x, r.cell_y)
            for r in df.collect()]
    want = _numpy_oracle(rows, *TRANS)
    coreg = spark.createDataFrame(
        [("all", "host0", "host1", 16, 1, *TRANS, 0.5, "ok")],
        M.COREG_SCHEMA)
    got = {(r.bx, r.by): r for r in M.strip_assemble(
        df, coreg=coreg, pair_of=lambda c: F.lit("all"),
        max_rmse=100.0).collect()}
    assert set(got) == set(want)
    for k, (src, wv, zs, n, mt, fl) in want.items():
        g = got[k]
        assert g.src == src, (k, g.src, src)
        assert g.segment_break is False
        if wv is None:
            assert g.w is None
        else:
            assert abs(g.w - wv) < 1e-9
        if zs is None:
            assert g.z_strip is None
        else:
            assert abs(g.z_strip - zs) < 1e-9, (k, g.z_strip, zs)
        assert g.n_pages == n
        assert g.matchtag == mt
        assert g.flags_merged == fl


def test_strip_assemble_segment_break(spark):
    """Un-coregisterable pairs keep the mosaic side un-blended."""
    df = _mk_fixture(spark)
    out = M.strip_assemble(df, pair_of=lambda c: F.lit("all"),
                           max_rmse=1e-12).collect()
    assert out and all(r.segment_break and r.src == "a_only" for r in out)
    n_a_blocks = df.where("group_id = 'host0'") \
        .selectExpr("cell_x div 4096 as bx", "cell_y div 4096 as by") \
        .distinct().count()
    assert len(out) == n_a_blocks


def test_strip_assemble_applies_held_translation(spark):
    """HOLD_GUESS_ALL: a caller-supplied coreg table is applied as given,
    not re-fit — a deliberately wrong dz shows up in the B values."""
    df = _mk_fixture(spark)
    held = spark.createDataFrame(
        [("all", "host0", "host1", 99, 1, 123.456, 0.0, 0.0, 0.5, "ok")],
        M.COREG_SCHEMA)
    out = M.strip_assemble(df, coreg=held, pair_of=lambda c: F.lit("all"),
                           max_rmse=100.0)
    some = out.where("src = 'b_only'").limit(1).collect()
    # dz=123.456 shifts every B value negative -> proves the hold applied
    assert some and some[0].z_strip < 0


def test_strip_assemble_blend_properties(spark):
    """Structural invariants of the blend output: w in [0,1] and only on
    'both' rows; z_strip on 'both' rows lies in the convex hull of the
    two sides' contributing values is implied by the numpy-oracle test,
    so here pin the cheap global properties — presence OR, flags bit_or
    superset, n_pages additivity."""
    df = _mk_fixture(spark)
    coreg = spark.createDataFrame(
        [("all", "host0", "host1", 16, 1, *TRANS, 0.5, "ok")],
        M.COREG_SCHEMA)
    out = M.strip_assemble(df, coreg=coreg, pair_of=lambda c: F.lit("all"),
                           max_rmse=100.0).collect()
    assert out
    for r in out:
        if r.src == "both":
            assert r.w is not None and 0.0 <= r.w <= 1.0
        else:
            assert r.w is None
        assert r.matchtag in (True, False)
        assert r.n_pages >= 1 or (r.src == "b_only" and r.n_pages == 0)
        assert 0 <= r.flags_merged <= 7


def test_coregister_deterministic_under_repartition(spark):
    """Per-block zsum is an EXACT decimal sum, so the fit output is
    bit-identical under any partitioning / shuffle merge order (float
    partial sums would wobble the means at the ulp and could flip the
    3-sigma or RMSE-early-stop thresholds)."""
    rows = []
    i = 0
    for host, bxs in (("host0", range(0, 6)), ("host1", range(2, 8))):
        for bx in bxs:
            for by in range(4):
                for rep in range(5):  # several pages per block
                    url = f"https://{host}.example/p/{i}-{rep}"
                    rows.append((url, host, i % 8, bx * BS + rep, by * BS))
                    i += 1
    df = spark.createDataFrame(
        rows, "url string, group_id string, flags int, cell_x long, cell_y long")
    pair_of = lambda c: F.lit("all")  # noqa: E731
    base = [tuple(r) for r in M.coregister_pairs(df, pair_of).collect()]
    rep13 = [tuple(r) for r in
             M.coregister_pairs(df.repartition(13), pair_of).collect()]
    rep1 = [tuple(r) for r in
            M.coregister_pairs(df.coalesce(1), pair_of).collect()]
    assert base == rep13 == rep1  # unrounded doubles compared exactly


def test_strip_assemble_unknown_or_null_trans_not_dropped(spark):
    """Pairs absent from a caller-supplied coreg table (stale pass-1
    manifest while new pairs appear), or carrying NULL status/rmse, must
    take the segment-break path — NOT vanish from the output (the silent
    data-loss failure mode: a row satisfying neither `usable` nor
    `NOT usable` when the predicate is three-valued NULL)."""
    df = _mk_fixture(spark)
    pair_of = lambda c: F.lit("all")  # noqa: E731
    n_a_blocks = df.where("group_id = 'host0'") \
        .selectExpr("cell_x div 4096 as bx", "cell_y div 4096 as by") \
        .distinct().count()

    # (a) the pair is entirely missing from coreg
    stale = spark.createDataFrame(
        [("someotherpair", "hx", "hy", 16, 1, 0.0, 0.0, 0.0, 0.5, "ok")],
        M.COREG_SCHEMA)
    out = M.strip_assemble(df, coreg=stale, pair_of=pair_of).collect()
    mine = [r for r in out if r.pair == "all"]
    assert len(mine) == n_a_blocks
    assert all(r.segment_break and r.src == "a_only" for r in mine)

    # (b) the pair is present but status/rmse are NULL
    nullrow = spark.createDataFrame(
        [("all", None, None, None, None, None, None, None, None, None)],
        M.COREG_SCHEMA)
    out2 = M.strip_assemble(df, coreg=nullrow, pair_of=pair_of).collect()
    assert len(out2) == n_a_blocks
    assert all(r.segment_break and r.src == "a_only" for r in out2)


def test_strip_assemble_scope_unpersists(spark):
    """Cache lifetime: the operator's intermediates (agg, trans, blend
    join) belong to the caller's cache_scope — live while the result is
    materialized inside it, all released when it closes."""
    df = _mk_fixture(spark)
    before = persisted_rdd_ids(spark)
    with cache_scope():
        out = M.strip_assemble(df, pair_of=lambda c: F.lit("all"),
                               max_rmse=100.0)
        assert out.count() > 0
        assert len(persisted_rdd_ids(spark) - before) == 3
    assert not persisted_rdd_ids(spark) - before


def test_strip_assemble_broken_pair_incoming_side_excluded(spark):
    """Scene-not-merged semantics, pinned: a broken pair's INCOMING (B)
    side emits nothing — it is excluded from this strip and remains in
    the input table for the next segment's run (the deliberate exception
    to the every-pair-reaches-an-output-path rule; see the operator
    comment and lib/scenes2strips.py:557-568 semantics)."""
    rows = []
    for bx in range(4):  # host1 = side 1 only; no side-0 partner pages
        rows.append((f"https://host1.example/p/{bx}", "host1", 1,
                     bx * BS, 0))
    df = spark.createDataFrame(
        rows, "url string, group_id string, flags int, cell_x long, cell_y long")
    out = M.strip_assemble(df, pair_of=lambda c: F.lit("all"),
                           max_rmse=1e-12).collect()
    assert out == []  # nothing mosaic-side to ride through, B excluded


def _host_rows(spark, hosts):
    """One page per block for each group_id in `hosts`, bx 0..3."""
    rows = [(f"https://{h}.example/p/{bx}", h, 1, bx * BS, 0)
            for h in hosts for bx in range(4)]
    return spark.createDataFrame(
        rows, "url string, group_id string, flags int, cell_x long, cell_y long")


@pytest.mark.parametrize("gid", ["hostX", "h"])
def test_malformed_group_id_raises(spark, gid):
    """A group_id that is not host<N> has no host number: the pairing
    rule's cast fails loudly instead of inventing a pair or a side."""
    df = _host_rows(spark, ["host0", gid])
    for build in (lambda: M.coregister_pairs(df, M.host_pair),
                  lambda: M.feather_blend(df),
                  lambda: M.strip_assemble(df)):
        with cache_scope(), pytest.raises(Exception,
                                          match="CAST_INVALID_INPUT"):
            build().collect()


def test_one_sided_pairs(spark):
    """Pairs with only odd hosts: the fit reports one no_overlap row per
    pair with no side-A label, and nothing blends."""
    df = _host_rows(spark, ["host1", "host3"])
    got = sorted((r.pair, r.group_a, r.group_b, r.status) for r in
                 M.coregister_pairs(df, M.host_pair).collect())
    assert got == [("pair0", None, "host1", "no_overlap"),
                   ("pair1", None, "host3", "no_overlap")]
    with cache_scope():
        assert M.feather_blend(df).collect() == []
        assert M.feather_weight_field(df).collect() == []
        assert M.strip_assemble(df).collect() == []
