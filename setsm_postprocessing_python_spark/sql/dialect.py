"""Dual-dialect SQL expression kernels (Spark SQL + DuckDB).

Every deterministic scalar kernel of the engine (geocode hash, grid cell id,
flags predicates, token stats) is defined ONCE here and rendered into either
dialect. The Spark rendering is used inside DataFrame code via F.expr; the
DuckDB rendering backs the driver's oracle SQL. Because both engines evaluate
the *same* IEEE-754 double expression tree, results match bit-for-bit — the
engine analogue of the reference's twin-implementation (Python vs MATLAB)
validation strategy (reference testing/test.py).

Semantics notes (reference citations are into /root/reference):
- geocode: url -> md5 -> two 32-bit words -> (lat, lon). Deterministic
  "phase-aligned grid" — overlapping pages land on exactly identical
  coordinates, the analogue of the reference's integer-aligned raster grids
  (lib/scenes2strips.py:279-282).
- grid cell: 0.005-degree lat/lon cells (~H3 res-8 scale), row-major bigint
  id. Canonical cell ids make grid-alignment joins plain equi-joins
  (cf. lib/scenes2strips.py:350-364).
- quadkey tiles: fixed-depth quad-tree over the lat/lon plane; the digit
  sequence is the tile id, matching the engine's PIP assignment with
  closed-lower/open-upper rectangle bounds.
"""

from __future__ import annotations

SPARK = "spark"
DUCKDB = "duckdb"

# lat spans [-85, 85) to stay clear of pole degeneracies; lon [-180, 180).
LAT_SPAN = 170.0
LON_SPAN = 360.0
# 0.005 deg ~ 550 m at the equator ~ H3 res-8 cell scale.
CELLS_PER_DEG = 200.0
LON_CELL_STRIDE = 131072  # 2^17 > 360*200 lon cells; row-major cell id packing
TILE_DEPTH = 4  # fixed-depth quad-tree for the oracle-checkable tile grid
HOSTS = 50  # synthetic url host count (strip-pair-ID analogue groups)
WARC_EPOCH0 = 1704067200  # 2024-01-01T00:00:00Z


def hex8_i64(expr: str, start: int, dialect: str) -> str:
    """First/second/... 8 hex chars of md5(expr) as a bigint in [0, 2^32)."""
    sub = f"substr(md5({expr}), {start}, 8)"
    if dialect == SPARK:
        return f"cast(conv({sub}, 16, 10) as bigint)"
    return f"cast(('0x' || {sub}) as bigint)"


def _str(expr: str, dialect: str) -> str:
    t = "string" if dialect == SPARK else "varchar"
    return f"cast({expr} as {t})"


# ---------------------------------------------------------------------------
# pages derivation from the driver's `documents` table
# ---------------------------------------------------------------------------

def url_expr(dialect: str, doc_id: str = "doc_id") -> str:
    host = _str(f"{doc_id} % {HOSTS}", dialect)
    did = _str(doc_id, dialect)
    if dialect == SPARK:
        return f"concat('https://host', {host}, '.example/p/', {did})"
    return f"('https://host' || {host} || '.example/p/' || {did})"


def warc_epoch_expr(doc_id: str = "doc_id") -> str:
    # deterministic pseudo-crawl-time, seconds since WARC_EPOCH0
    return f"cast({WARC_EPOCH0} + (({doc_id} * 37) % 86400) as bigint)"


def group_id_expr(dialect: str, doc_id: str = "doc_id") -> str:
    """strip-pair-ID analogue: host group (cf. batch_scenes2strips.py:180-181)."""
    host = _str(f"{doc_id} % {HOSTS}", dialect)
    if dialect == SPARK:
        return f"concat('host', {host})"
    return f"('host' || {host})"


def pages_cte(dialect: str, documents: str = "documents") -> str:
    """Common-table expression deriving the pages table (BASELINE input_hint
    shape) deterministically from the driver's `documents` parquet table.

    html/text/lang carried through; warc_epoch kept as bigint for stable
    cross-engine hashing (the engine materializes a real timestamp too).
    """
    return f"""
    SELECT
      {url_expr(dialect)}            AS url,
      {warc_epoch_expr()}            AS warc_epoch,
      {group_id_expr(dialect)}       AS group_id,
      doc_id,
      text,
      lang,
      n_chars
    FROM {documents}
    """


# ---------------------------------------------------------------------------
# geocode + cells
# ---------------------------------------------------------------------------

def lat_expr(dialect: str, url: str = "url") -> str:
    h = hex8_i64(url, 1, dialect)
    return f"(cast({h} as double) / 4294967296.0 * {LAT_SPAN} - {LAT_SPAN / 2})"


def lon_expr(dialect: str, url: str = "url") -> str:
    h = hex8_i64(url, 9, dialect)
    return f"(cast({h} as double) / 4294967296.0 * {LON_SPAN} - {LON_SPAN / 2})"


def cell_y_expr(lat: str = "lat") -> str:
    return f"cast(floor(({lat} + 90.0) * {CELLS_PER_DEG}) as bigint)"


def cell_x_expr(lon: str = "lon") -> str:
    return f"cast(floor(({lon} + 180.0) * {CELLS_PER_DEG}) as bigint)"


def cell_id_expr(lat: str = "lat", lon: str = "lon") -> str:
    return f"({cell_y_expr(lat)} * {LON_CELL_STRIDE} + {cell_x_expr(lon)})"


def cell_id_from_xy(cell_x: str = "cell_x", cell_y: str = "cell_y") -> str:
    return f"({cell_y} * {LON_CELL_STRIDE} + {cell_x})"


# Coarse 5-degree cells for the kNN join queries: at driver scale (sf0.01,
# 500 pages) the 0.005-degree grid is so sparse that no two pages share a
# k-ring — the oracle comparison would be vacuous (0 rows == 0 rows). The
# kNN OPERATOR is resolution-agnostic (it takes any cell_x/cell_y); the
# registered query exercises it at a resolution where neighbor pairs exist.
KNN_CELLS_PER_DEG = 0.2  # 5-degree cells


def knn_cell_y_expr(lat: str = "lat") -> str:
    return f"cast(floor(({lat} + 90.0) * {KNN_CELLS_PER_DEG}) as bigint)"


def knn_cell_x_expr(lon: str = "lon") -> str:
    return f"cast(floor(({lon} + 180.0) * {KNN_CELLS_PER_DEG}) as bigint)"


# ---------------------------------------------------------------------------
# quadkey tile id (oracle form of the PIP tile assignment)
# ---------------------------------------------------------------------------

def quadkey_expr(dialect: str, lat: str = "lat", lon: str = "lon",
                 depth: int = TILE_DEPTH) -> str:
    """Tile id 'q' + depth quadrant digits. Digit at level l in 0..3 =
    2*y_bit + x_bit of the normalized coords at 2^l resolution. Matches the
    engine's rectangle PIP with closed-lower/open-upper bounds."""
    tx = f"(({lon} + 180.0) / 360.0)"
    ty = f"(({lat} + 90.0) / 180.0)"
    digits = []
    for lvl in range(1, depth + 1):
        scale = float(1 << lvl)
        d = (f"(cast(floor({ty} * {scale}) as bigint) % 2) * 2"
             f" + (cast(floor({tx} * {scale}) as bigint) % 2)")
        digits.append(_str(f"({d})", dialect))
    if dialect == SPARK:
        return "concat('q', " + ", ".join(digits) + ")"
    return "('q' || " + " || ".join(digits) + ")"


def quadkey_int_expr(lat: str = "lat", lon: str = "lon",
                     depth: int = TILE_DEPTH) -> str:
    """The quadkey PATH packed into one int64: 2 bits per level, level-1
    digit most significant (digit_l * 4^(depth-l)). Identical digit
    arithmetic to quadkey_expr, so
    concat('q', lpad(conv(qk, 10, 4), depth, '0')) reproduces the string
    key exactly (pinned in tests). The shuffle currency of the adaptive
    tiling: a depth-12 string key is 13+ bytes per row in every exchange;
    the packed key is a fixed 8 — and prefix truncation becomes a
    shiftright instead of a substring. Dialect-agnostic arithmetic.

    depth is capped at 31: 2 bits per level means depth 32+ would overflow
    the int64 weights (4**(depth-1) > 2^62) and silently alias distinct
    tiles onto one key; the string quadkey_expr has no such limit."""
    if depth > 31:
        raise ValueError(
            f"quadkey_int_expr: depth={depth} overflows int64 packing "
            "(max 31); use the string quadkey_expr for deeper tilings")
    tx = f"(({lon} + 180.0) / 360.0)"
    ty = f"(({lat} + 90.0) / 180.0)"
    terms = []
    for lvl in range(1, depth + 1):
        scale = float(1 << lvl)
        d = (f"((cast(floor({ty} * {scale}) as bigint) % 2) * 2"
             f" + (cast(floor({tx} * {scale}) as bigint) % 2))")
        terms.append(f"{d} * {4 ** (depth - lvl)}")
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# flags bit algebra (bitmask analogue, reference lib/filter_scene.py:39-48)
# ---------------------------------------------------------------------------

BIT_EDGE, BIT_WATER, BIT_CLOUD = 0, 1, 2


def tokens_expr(dialect: str, text: str = "text") -> str:
    if dialect == SPARK:
        return f"split({text}, ' ')"
    return f"string_split({text}, ' ')"


def n_tokens_expr(dialect: str, text: str = "text") -> str:
    if dialect == SPARK:
        return f"size({tokens_expr(dialect, text)})"
    return f"len({tokens_expr(dialect, text)})"


def n_unique_tokens_expr(dialect: str, text: str = "text") -> str:
    if dialect == SPARK:
        return f"size(array_distinct({tokens_expr(dialect, text)}))"
    return f"len(list_distinct({tokens_expr(dialect, text)}))"


def z_expr(dialect: str, url: str = "url") -> str:
    """Deterministic per-page scalar 'elevation' (float), the DEM value
    analogue: third md5 word of the url, scaled to [0, 100)."""
    h = hex8_i64(url, 17, dialect)
    return f"(cast({h} as double) / 4294967296.0 * 100.0)"


BLOCK_SHIFT = 12  # coarse processing blocks (the 8 m-resolution analogue)


def block_x_expr(dialect: str, cell_x: str = "cell_x") -> str:
    if dialect == SPARK:
        return f"shiftright({cell_x}, {BLOCK_SHIFT})"
    return f"({cell_x} >> {BLOCK_SHIFT})"


def block_y_expr(dialect: str, cell_y: str = "cell_y") -> str:
    if dialect == SPARK:
        return f"shiftright({cell_y}, {BLOCK_SHIFT})"
    return f"({cell_y} >> {BLOCK_SHIFT})"


def block_id_expr(dialect: str, cell_x: str = "cell_x", cell_y: str = "cell_y") -> str:
    return f"({block_y_expr(dialect, cell_y)} * 64 + {block_x_expr(dialect, cell_x)})"


def geo_ctes(dialect: str, documents: str = "documents") -> str:
    """WITH-clause body chaining pages -> geo -> cells, shared by every
    oracle query. Usage: f"WITH {geo_ctes(DUCKDB)} SELECT ... FROM cells"."""
    return f"""
    pages AS ({pages_cte(dialect, documents)}),
    geo AS (
      SELECT url, group_id, doc_id, warc_epoch, text, lang, n_chars,
             {lat_expr(dialect)} AS lat,
             {lon_expr(dialect)} AS lon
      FROM pages
    ),
    cells AS (
      SELECT *,
             {cell_x_expr()} AS cell_x,
             {cell_y_expr()} AS cell_y,
             {cell_id_expr()} AS cell
      FROM geo
    )
    """


def with_cells(body: str, extra_ctes: str = "") -> str:
    """A DuckDB oracle query over the geo CTEs (plus `extra_ctes`)."""
    extra = f", {extra_ctes}" if extra_ctes else ""
    return f"WITH {geo_ctes(DUCKDB)}{extra} {body}"


def ring_offsets_values(ring: int = 1) -> str:
    """VALUES list for the k-ring offsets CTE: offs(dx, dy)."""
    vals = ", ".join(
        f"({dx}, {dy})"
        for dy in range(-ring, ring + 1) for dx in range(-ring, ring + 1)
    )
    return f"offs(dx, dy) AS (VALUES {vals})"


def version_expr(dialect: str, doc_id: str = "doc_id") -> str:
    """Deterministic semantic version string per doc ('M.m.p' with m up to
    two digits so lexicographic and semantic order genuinely diverge —
    '0.9.x' sorts after '0.19.x' lexicographically). The VersionString
    analogue (reference lib/script_utils.py:73-213)."""
    maj = _str(f"({doc_id} % 4)", dialect)
    mino = _str(f"(({doc_id} * 7) % 25)", dialect)
    pat = _str(f"(({doc_id} * 13) % 10)", dialect)
    if dialect == SPARK:
        return f"concat({maj}, '.', {mino}, '.', {pat})"
    return f"({maj} || '.' || {mino} || '.' || {pat})"


def scene_xml_expr(dialect: str) -> str:
    """Per-page scene-metadata XML (the .xml sidecar analogue the reference
    parses with xml.etree, lib/filter_scene.py:1876-1892)."""
    did = _str("doc_id", dialect)
    nch = _str("n_chars", dialect)
    if dialect == SPARK:
        return ("concat('<scene><id>', " + did + ", '</id><lang>', lang,"
                " '</lang><n>', " + nch + ", '</n></scene>')")
    return ("('<scene><id>' || " + did + " || '</id><lang>' || lang ||"
            " '</lang><n>' || " + nch + " || '</n></scene>')")


def flags_expr(dialect: str, text: str = "text", n_chars: str = "n_chars") -> str:
    """EDGE bit0: short page; WATER bit1: low lexical diversity (entropy<thr
    analogue, lib/filter_scene.py:1349-1390); CLOUD bit2: oversized page
    (density-predicate analogue, lib/filter_scene.py:1508-1556).
    Integer-only comparisons for exact cross-engine parity."""
    nt = n_tokens_expr(dialect, text)
    nu = n_unique_tokens_expr(dialect, text)
    edge = f"(CASE WHEN {n_chars} < 200 THEN 1 ELSE 0 END)"
    water = f"(CASE WHEN {nu} * 100 < {nt} * 55 THEN 2 ELSE 0 END)"
    cloud = f"(CASE WHEN {n_chars} > 400 THEN 4 ELSE 0 END)"
    return f"cast({edge} + {water} + {cloud} as int)"
