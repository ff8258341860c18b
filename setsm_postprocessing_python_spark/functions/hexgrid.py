"""Hexagonal cell grid (H3-style axial hex binning) in pure numpy.

The true H3 index (icosahedral aperture-7) is not reimplemented here; this
is a planar pointy-top hexagonal grid over lon/lat with the same operator
surface the engine needs from H3: deterministic cell ids at an H3-res-8
comparable scale, hex k-ring neighborhoods (6 neighbors at ring 1,
3k(k+1)+1 cells in a k-ring), and parent coarsening. Vectorized numpy
inside Arrow pandas UDFs; the square grid (sql/dialect.py) remains the
oracle-checkable primary index, S2 (functions/s2.py) the spherical one.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType

from ..operators.knn import top_k

HEX_SIZE_DEG = 0.005  # circumradius ~ H3 res-8 scale
AXIAL_OFFSET = 1 << 20  # shift axial coords non-negative for packing
AXIAL_STRIDE = 1 << 21


def _cube_round(q: np.ndarray, r: np.ndarray):
    """Round fractional axial coords to the nearest hex (cube rounding,
    standard public hex-grid math)."""
    cx, cz = np.asarray(q, dtype=np.float64), np.asarray(r, dtype=np.float64)
    cy = -cx - cz
    rx, ry, rz = np.round(cx), np.round(cy), np.round(cz)
    dx, dy, dz = np.abs(rx - cx), np.abs(ry - cy), np.abs(rz - cz)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & (dz > dy)
    rx = np.where(fix_x, -ry - rz, rx)
    rz = np.where(fix_z, -rx - ry, rz)
    return rx.astype(np.int64), rz.astype(np.int64)


def latlon_to_axial(lat: np.ndarray, lon: np.ndarray,
                    size: float = HEX_SIZE_DEG):
    """Pointy-top axial coordinates with cube rounding."""
    x = np.asarray(lon, dtype=np.float64)
    y = np.asarray(lat, dtype=np.float64)
    q = (np.sqrt(3.0) / 3.0 * x - y / 3.0) / size
    r = (2.0 / 3.0 * y) / size
    return _cube_round(q, r)


def pack_axial(q: np.ndarray, r: np.ndarray) -> np.ndarray:
    return (r + AXIAL_OFFSET) * AXIAL_STRIDE + (q + AXIAL_OFFSET)


def unpack_axial(cell: np.ndarray):
    cell = np.asarray(cell, dtype=np.int64)
    r = cell // AXIAL_STRIDE - AXIAL_OFFSET
    q = cell % AXIAL_STRIDE - AXIAL_OFFSET
    return q, r


def hex_cell(lat, lon, size: float = HEX_SIZE_DEG) -> np.ndarray:
    q, r = latlon_to_axial(lat, lon, size)
    return pack_axial(q, r)


HEX_DIRECTIONS = [(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)]


def hex_ring_offsets(k: int = 1) -> list[tuple[int, int]]:
    """All axial offsets within hex distance k (3k(k+1)+1 cells incl. 0)."""
    out = []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            out.append((dq, dr))
    return out


def hex_center(cell: np.ndarray, size: float = HEX_SIZE_DEG):
    q, r = unpack_axial(cell)
    lon = size * np.sqrt(3.0) * (q + r / 2.0)
    lat = size * 1.5 * r
    return lat, lon


def hex_parent(cell: np.ndarray, factor: int = 3) -> np.ndarray:
    """Coarsen by snapping centers to a factor-scaled grid (aperture
    factor^2 coarsening — the browse-pyramid analogue)."""
    lat, lon = hex_center(cell)
    return hex_cell(lat, lon, HEX_SIZE_DEG * factor)


def hex_parent_a7(cell: np.ndarray) -> np.ndarray:
    """TRUE aperture-7 hierarchical parent (H3's aperture, on the planar
    axial lattice): coarse centers form the index-7 sublattice spanned by
    (2,1) and (-1,3) in axial coords (det = 7 — the Gosper / generalized-
    balanced-ternary hierarchy, standard public hex math). Child (q,r)
    maps to fractional coarse coords ((3q+r)/7, (2r-q)/7), cube-rounded to
    the nearest coarse cell — every fine cell gets exactly one parent, a
    parent owns ~7 fine cells (exactly its center child plus a rounded
    Gosper-island neighborhood). Successive applications give the res-k
    pyramid. Returned in the same packed axial id space (coarse lattice
    coords)."""
    q, r = unpack_axial(cell)
    qp = (3.0 * q + r) / 7.0
    rp = (2.0 * r - q) / 7.0
    cq, cr = _cube_round(qp, rp)
    return pack_axial(cq, cr)


def hex_children_center_a7(parent: np.ndarray):
    """Axial coords of the CENTER child of an aperture-7 parent (the
    sublattice embedding: fine (q,r) = Q*(2,1) + R*(-1,3))."""
    Q, R = unpack_axial(parent)
    return pack_axial(2 * Q - R, Q + 3 * R)


def with_hex_cell(df: DataFrame, size: float = HEX_SIZE_DEG,
                  lat: str = "lat", lon: str = "lon",
                  out: str = "cell_hex") -> DataFrame:
    @F.pandas_udf(LongType())
    def hex_udf(lat_s: pd.Series, lon_s: pd.Series) -> pd.Series:
        return pd.Series(hex_cell(lat_s.to_numpy(), lon_s.to_numpy(), size))

    return df.withColumn(out, hex_udf(F.col(lat), F.col(lon)))


def hex_kring_expand(df: DataFrame, k: int = 1,
                     cell: str = "cell_hex") -> DataFrame:
    """Explode each row to its hex k-ring (adds `nbr_hex`). JVM-side
    arithmetic on the packed id: offset = dr*AXIAL_STRIDE + dq."""
    deltas = [dr * AXIAL_STRIDE + dq for dq, dr in hex_ring_offsets(k)]
    arr = F.array(*[F.lit(d) for d in deltas])
    return (df.withColumn("_d", F.explode(arr))
              .withColumn("nbr_hex", F.col(cell) + F.col("_d"))
              .drop("_d"))


def hex_knn(df: DataFrame, k_neighbors: int = 3, ring: int = 1,
            size: float = HEX_SIZE_DEG) -> DataFrame:
    """kNN over the hex grid: hex k-ring expansion + cell-local join +
    distance rank (north-star kNN formulation on the hex index)."""
    base = with_hex_cell(df, size=size)
    a = hex_kring_expand(
        base.select(F.col("url").alias("url_a"), F.col("lat").alias("lat_a"),
                    F.col("lon").alias("lon_a"), "cell_hex"), ring)
    b = base.select(F.col("url").alias("url_b"), F.col("lat").alias("lat_b"),
                    F.col("lon").alias("lon_b"),
                    F.col("cell_hex").alias("nbr_hex"))
    j = a.join(b, "nbr_hex").where(F.col("url_a") != F.col("url_b"))
    j = j.withColumn(
        "dist2",
        (F.col("lat_a") - F.col("lat_b")) * (F.col("lat_a") - F.col("lat_b"))
        + (F.col("lon_a") - F.col("lon_b")) * (F.col("lon_a") - F.col("lon_b")))
    return top_k(j, k_neighbors).select("url_a", "url_b", "rank")


# ---------------------------------------------------------------------------
# TRUE icosahedral sphere projection (H3-style): lat/lon -> nearest icosa
# face -> gnomonic plane -> the axial/aperture-7 machinery above. Closes
# round 2's "planar lattice only" gap: cells now live on 20 gnomonic face
# planes of the unit icosahedron like real H3 (Uber H3 docs; public
# construction). Ids are NOT bit-compatible with H3's (different base-cell
# numbering and in-face axes). Cross-face ring stitching is GEOMETRIC
# (h3_neighbors: re-quantize neighbor centers through the sphere), so
# rings work at face edges and around the 12 icosa vertices, where a
# corner cell sees 5 distinct neighbors (the pentagon analogue); interior
# cells get exactly their 6 same-face axial neighbors. The aperture-7
# PARENT hierarchy remains face-local (h3_parent_a7).
# ---------------------------------------------------------------------------

# mean H3 res-8 hex area is ~0.737 km^2 (published H3 resolution table);
# circumradius R of a regular hex of area A is sqrt(2A/(3*sqrt(3))), in
# plane units of Earth radii (gnomonic plane units ~ radians at center)
EARTH_R_KM = 6371.0
H3_RES8_SIZE = float(np.sqrt(2 * 0.737292 / (3 * np.sqrt(3.0))) / EARTH_R_KM)
FACE_STRIDE = AXIAL_STRIDE * AXIAL_STRIDE  # packed axial ids < 2^42


def _icosa_faces():
    """(centers (20,3), u (20,3), v (20,3)): outward face centers and a
    deterministic in-plane orthonormal basis per face. Vertices from the
    three golden rectangles; faces = vertex triples at minimal pairwise
    distance (the 20 equilateral faces)."""
    phi = (1.0 + np.sqrt(5.0)) / 2.0
    verts = []
    for a in (-1.0, 1.0):
        for b in (-phi, phi):
            verts += [(0.0, a, b), (a, b, 0.0), (b, 0.0, a)]
    verts = np.unique(np.array(verts, dtype=np.float64), axis=0)
    verts /= np.linalg.norm(verts, axis=1, keepdims=True)
    d = np.linalg.norm(verts[:, None, :] - verts[None, :, :], axis=2)
    edge = d[d > 1e-9].min()
    faces = []
    n = len(verts)
    for i in range(n):
        for j in range(i + 1, n):
            for k in range(j + 1, n):
                if (abs(d[i, j] - edge) < 1e-9 and abs(d[i, k] - edge) < 1e-9
                        and abs(d[j, k] - edge) < 1e-9):
                    faces.append((i, j, k))
    assert len(faces) == 20
    centers, us, vs = [], [], []
    for i, j, k in faces:
        c = verts[i] + verts[j] + verts[k]
        c /= np.linalg.norm(c)
        u = verts[i] - np.dot(verts[i], c) * c
        u /= np.linalg.norm(u)
        v = np.cross(c, u)
        centers.append(c)
        us.append(u)
        vs.append(v)
    centers, us, vs = map(np.array, (centers, us, vs))
    order = np.lexsort((centers[:, 2], centers[:, 1], centers[:, 0]))
    return centers[order], us[order], vs[order]


_FACE_C, _FACE_U, _FACE_V = _icosa_faces()


def _unit_vec(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    la, lo = np.radians(lat), np.radians(lon)
    return np.stack([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo),
                     np.sin(la)], axis=1)


def latlon_to_face_xy(lat: np.ndarray, lon: np.ndarray):
    """(face, x, y): nearest icosa face + gnomonic in-plane coords (unit-
    sphere radians at the face center)."""
    p = _unit_vec(np.asarray(lat, np.float64), np.asarray(lon, np.float64))
    dots = p @ _FACE_C.T                      # (n, 20)
    face = dots.argmax(axis=1)
    c = _FACE_C[face]
    q = p / dots[np.arange(len(p)), face][:, None] - c  # gnomonic offset
    x = np.einsum("ij,ij->i", q, _FACE_U[face])
    y = np.einsum("ij,ij->i", q, _FACE_V[face])
    return face.astype(np.int64), x, y


def face_xy_to_latlon(face: np.ndarray, x: np.ndarray, y: np.ndarray):
    face = np.asarray(face, np.int64)
    p = (_FACE_C[face] + x[:, None] * _FACE_U[face]
         + y[:, None] * _FACE_V[face])
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    lat = np.degrees(np.arcsin(np.clip(p[:, 2], -1, 1)))
    lon = np.degrees(np.arctan2(p[:, 1], p[:, 0]))
    return lat, lon


def h3_cell(lat, lon, size: float = H3_RES8_SIZE) -> np.ndarray:
    """Packed icosahedral hex id: face * FACE_STRIDE + packed axial (q,r)
    of the gnomonic-plane hex at `size` circumradius (default ~ real H3
    res-8 cell scale)."""
    face, x, y = latlon_to_face_xy(lat, lon)
    q = (np.sqrt(3.0) / 3.0 * x - y / 3.0) / size
    r = (2.0 / 3.0 * y) / size
    cq, cr = _cube_round(q, r)
    return face * FACE_STRIDE + pack_axial(cq, cr)


def h3_unpack(cell: np.ndarray):
    cell = np.asarray(cell, np.int64)
    face = cell // FACE_STRIDE
    q, r = unpack_axial(cell % FACE_STRIDE)
    return face, q, r


def h3_cell_center(cell: np.ndarray, size: float = H3_RES8_SIZE):
    """Cell center back on the sphere (lat, lon degrees)."""
    face, q, r = h3_unpack(cell)
    x = size * np.sqrt(3.0) * (q + r / 2.0)
    y = size * 1.5 * r
    return face_xy_to_latlon(face, x, y)


def h3_parent_a7(cell: np.ndarray) -> np.ndarray:
    """Aperture-7 parent on the same face (hierarchy is face-local, like
    H3's per-base-cell subdivision; icosa-vertex pentagons out of scope)."""
    face = np.asarray(cell, np.int64) // FACE_STRIDE
    parent_ax = hex_parent_a7(np.asarray(cell, np.int64) % FACE_STRIDE)
    return face * FACE_STRIDE + parent_ax


def h3_neighbors(cell: np.ndarray, size: float = H3_RES8_SIZE) -> np.ndarray:
    """(n, 6) CROSS-FACE-stitched neighbor ids: each cell's 6 axial
    neighbors, re-quantized THROUGH THE SPHERE. A neighbor whose center
    falls across a face edge lands on the adjacent face's lattice (the
    nearest hex there), so ring expansion works at face boundaries and
    around the 12 icosa vertices — the round-3 'face-local only' gap.

    How: neighbor center in this face's gnomonic plane -> lat/lon ->
    h3_cell() (nearest-face + cube-round), i.e. stitching is geometric
    re-projection, not id arithmetic. For interior cells this returns
    exactly the 6 same-face axial neighbors (cube_round of exact lattice
    centers). At edges the adjacent-face lattice is not aligned with this
    face's (face-local lattices, unlike real H3's shared base-cell grid),
    so cross-face adjacency is approximate: each stitched neighbor is the
    geometrically nearest cross-face hex, the relation may be asymmetric,
    and two of the 6 slots can collapse onto one cross-face cell near an
    icosa vertex (the pentagon analogue: a vertex-corner cell sees only
    5 distinct neighbors). Use np.unique per row if set semantics matter."""
    cell = np.asarray(cell, np.int64)
    face, q, r = h3_unpack(cell)
    nbrs = np.empty((len(cell), 6), dtype=np.int64)
    for i, (dq, dr) in enumerate(HEX_DIRECTIONS):
        nq, nr = q + dq, r + dr
        x = size * np.sqrt(3.0) * (nq + nr / 2.0)
        y = size * 1.5 * nr
        la, lo = face_xy_to_latlon(face, x, y)
        nbrs[:, i] = h3_cell(la, lo, size)
    return nbrs


def h3_kring_expand(df: DataFrame, size: float = H3_RES8_SIZE,
                    cell: str = "cell_h3") -> DataFrame:
    """Explode each row to its stitched 1-ring (adds `nbr_h3`; the cell
    itself plus its <=6 distinct sphere-stitched neighbors). Arrow-batched
    pandas UDF (the re-projection is numpy trig, not id arithmetic)."""
    from pyspark.sql.types import ArrayType

    @F.pandas_udf(ArrayType(LongType()))
    def ring_udf(cells: pd.Series) -> pd.Series:
        c = cells.to_numpy()
        nb = h3_neighbors(c, size)
        full = np.concatenate([c[:, None], nb], axis=1)
        return pd.Series([np.unique(row) for row in full])

    # explode_outer: plain explode's implicit size>0 filter re-runs the
    # ring UDF; the ring always contains the cell itself, so the outer
    # variant is row-identical and evaluates the UDF once
    return (df.withColumn("_ring", ring_udf(F.col(cell)))
              .withColumn("nbr_h3", F.explode_outer("_ring")).drop("_ring"))


def with_h3_ring_sum(df: DataFrame, size: float = H3_RES8_SIZE,
                     cell: str = "cell_h3",
                     out: str = "h3_ring_sum") -> DataFrame:
    """Deterministic scalar of the stitched 1-ring: self + sum of the
    DISTINCT sphere-stitched neighbors (ids < 2^47, 7-term sum fits
    bigint) — drives h3_neighbors through a hash-checkable column."""
    @F.pandas_udf(LongType())
    def ring_sum_udf(cells: pd.Series) -> pd.Series:
        c = cells.to_numpy()
        nb = h3_neighbors(c, size)
        full = np.concatenate([c[:, None], nb], axis=1)
        return pd.Series([int(np.unique(row).sum()) for row in full])

    return df.withColumn(out, ring_sum_udf(F.col(cell)))


def with_h3_cell(df: DataFrame, size: float = H3_RES8_SIZE,
                 lat: str = "lat", lon: str = "lon",
                 out: str = "cell_h3") -> DataFrame:
    @F.pandas_udf(LongType())
    def h3_udf(lat_s: pd.Series, lon_s: pd.Series) -> pd.Series:
        return pd.Series(h3_cell(lat_s.to_numpy(), lon_s.to_numpy(), size))

    return df.withColumn(out, h3_udf(F.col(lat), F.col(lon)))


def h3_knn(df: DataFrame, k_neighbors: int = 3,
           size: float = H3_RES8_SIZE) -> DataFrame:
    """kNN over the ICOSAHEDRAL index through the cross-face-stitched
    1-ring (h3_kring_expand): candidates come from the cell itself plus
    its <=6 sphere-stitched neighbors — so neighbor pairs exist ACROSS
    face boundaries and around icosa vertices, where the face-local
    planar ring finds nothing. Ranking is by squared chord distance on
    the unit sphere (pure JVM trig), total-ordered with the url
    tiebreak.

    Plan shape: one ring-UDF pass (explode_outer — see the double-eval
    note on h3_kring_expand), one equi-join on the neighbor cell id
    (co-partitioned shuffle), WindowGroupLimit top-k. Pairs are unique by
    construction (the ring ids are distinct per row and the join key is
    the candidate's single home cell)."""
    base = with_h3_cell(df, size=size)
    a = h3_kring_expand(
        base.select(F.col("url").alias("url_a"), F.col("lat").alias("lat_a"),
                    F.col("lon").alias("lon_a"), "cell_h3"), size)
    b = base.select(F.col("url").alias("url_b"), F.col("lat").alias("lat_b"),
                    F.col("lon").alias("lon_b"),
                    F.col("cell_h3").alias("nbr_h3"))
    j = a.join(b, "nbr_h3").where(F.col("url_a") != F.col("url_b"))

    def _xyz(lat_c: str, lon_c: str):
        la, lo = F.radians(F.col(lat_c)), F.radians(F.col(lon_c))
        return (F.cos(la) * F.cos(lo), F.cos(la) * F.sin(lo), F.sin(la))

    xa, ya, za = _xyz("lat_a", "lon_a")
    xb, yb, zb = _xyz("lat_b", "lon_b")
    j = j.withColumn("dist2", (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
                     + (za - zb) * (za - zb))
    return (top_k(j, k_neighbors)
            .select("url_a", "url_b", "rank", "cell_h3", "nbr_h3"))
