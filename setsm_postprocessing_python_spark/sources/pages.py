"""Pages source: the engine's input table.

BASELINE input_hint shape: (url:string, warc_ts:timestamp, html:binary,
text:string, lang:string). In production this is an Iceberg table of 10^12
Common-Crawl pages partitioned by bucket(url) + days(warc_ts); in the sandbox
it is derived deterministically from the driver's `documents` parquet table so
the DuckDB oracle can derive the *same* rows (sql/dialect.py:pages_cte).

Scan-path notes for 100 TB:
- read is a plain columnar scan; Catalyst prunes columns (only `text` is
  wide) and pushes filters into the parquet reader,
- `url`/`group_id` derivation is pure JVM expression work inside
  WholeStageCodegen — no Python in the scan path,
- html is materialized lazily (only queries that need the binary column
  touch it; column pruning drops it everywhere else).
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from ..sql import dialect as D

# Bucketed-layout indirection (round 6 — the proven shuffle lever becomes
# the default execution path). When BOTH confs are set and the sf_dir
# matches, geocoded_pages serves the registered bucketed table (written by
# sources/bucketed.ensure_bucketed_pages: the same geocoded projection
# plus a materialized `block` column, bucketBy(N, block)) instead of
# re-deriving from the flat parquet. The sf_dir match is load-bearing:
# a session-global conf must never silently serve one corpus to a query
# asked about another (tests and multi-corpus sessions coexist).
BUCKETED_TABLE_CONF = "spark.setsm.pages.bucketedTable"
BUCKETED_SFDIR_CONF = "spark.setsm.pages.bucketedSfDir"


def _bucketed_table(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """The activated bucketed pages table for THIS sf_dir, or None.
    A set conf naming a missing table raises (config error, loud)."""
    name = spark.conf.get(BUCKETED_TABLE_CONF, "")
    if not name or spark.conf.get(BUCKETED_SFDIR_CONF, "") != sf_dir:
        return None
    return spark.table(name)


def bucketed_pages_active(spark: SparkSession, sf_dir: str) -> bool:
    """True when geocoded_pages(spark, sf_dir) will serve the bucketed
    layout — i.e. when callers may set use_stored_block on block-keyed
    joins (the layout contract: `block` materialized by
    sources/bucketed.block_expr at knn.BLOCK_SHIFT on the native grid)."""
    return _bucketed_table(spark, sf_dir) is not None


def read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """A parquet file or directory and its row count, both taken from the
    footers on the driver (pyarrow). The reader gets the file's own schema,
    so building the read skips Spark's schema inference and its job; the
    row count sizes operators without a count job (at Iceberg scale: the
    snapshot summary stats)."""
    p = Path(path)
    metas = [pq.read_metadata(f) for f in
             ([p] if p.is_file() else sorted(p.glob("*.parquet")))]
    schema = from_arrow_schema(metas[0].schema.to_arrow_schema(),
                               prefer_timestamp_ntz=True)
    return (spark.read.schema(schema).parquet(path),
            sum(m.num_rows for m in metas))


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/documents.parquet")[0]


def pages(spark: SparkSession, sf_dir: str, with_html: bool = False) -> DataFrame:
    """Derive the pages table (input_hint shape) from `documents`.

    Column parity with sql/dialect.py:pages_cte is exact — this is the Spark
    rendering of the same expression templates.
    """
    # ONE select (not a withColumn chain): every transformation analyzes
    # its plan eagerly on the driver, and this is the root of nearly every
    # query — keeping it a single projection keeps per-invocation plan
    # cost flat. warc_ts is the real timestamp for engine-side use
    # (windowing); oracle comparisons use warc_epoch (bigint) for stable
    # hashing.
    epoch = F.expr(D.warc_epoch_expr())
    cols = [
        F.expr(D.url_expr(D.SPARK)).alias("url"),
        epoch.alias("warc_epoch"),
        F.expr(D.group_id_expr(D.SPARK)).alias("group_id"),
        "doc_id",
        "text",
        "lang",
        "n_chars",
        F.timestamp_seconds(epoch).alias("warc_ts"),
    ]
    if with_html:
        cols.append(F.encode(
            F.concat(F.lit("<html><body>"), F.col("text"),
                     F.lit("</body></html>")),
            "utf-8").alias("html"))
    return read_documents(spark, sf_dir).select(*cols)


def geocoded_pages(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    """pages + (lat, lon, cell, cell_x, cell_y) — the geocode projection.

    Pure JVM-side expressions (md5 + arithmetic): stays inside
    WholeStageCodegen, no UDF, fully vectorized. This is the engine analogue
    of the reference's raster load + coordinate-vector derivation
    (lib/raster_io.py:441-443) — here the 'grid' is the canonical global
    0.005-degree cell space, so phase alignment is free
    (cf. lib/scenes2strips.py:279-282).

    When a bucketed layout is activated for this sf_dir (see
    sources/bucketed.activate_bucketed_pages), the registered table is
    served instead: identical rows and derivations (pinned by
    tests/test_plan_shapes.py::test_bucketed_default_rows_match_flat)
    plus the materialized `block` column, and every scan of it reports
    HashPartitioning(block, N) — block-keyed joins downstream lose their
    probe-side Exchange. Keyword variants (with_html) always take the
    flat path: the layout stores the narrow projection.
    """
    if not kw:
        tbl = _bucketed_table(spark, sf_dir)
        if tbl is not None:
            return tbl
    df = pages(spark, sf_dir, **kw)
    # single projection (see pages()): lat/lon referenced by name so the
    # cell derivations resolve against the just-aliased columns
    lat, lon = F.expr(D.lat_expr(D.SPARK)), F.expr(D.lon_expr(D.SPARK))
    cx = F.expr(D.cell_x_expr())
    cy = F.expr(D.cell_y_expr())
    return df.select(
        "*", lat.alias("lat"), lon.alias("lon"),
    ).select(
        "*", cx.alias("cell_x"), cy.alias("cell_y"),
    ).select("*", F.expr(D.cell_id_from_xy()).alias("cell"))
