"""Output checks: an order-insensitive digest of each stage's output (the
sink of every timed pass), and, outside the timed region, a DuckDB twin
(the engine's registered oracle, or the benchmark's own for knn) or the
exact answer the input makes known (ann_lsh)."""

from __future__ import annotations

from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from setsm_postprocessing_python_spark.sql import dialect as D


def digest_query(df: DataFrame) -> DataFrame:
    """The one-row query (row count, bit_xor of xxhash64 over every
    column) over `df`. Floating columns are rounded to 6 decimals first,
    so a last-bit difference from a different summation order does not
    read as a different output."""
    cols = [F.round(c, 6) if t in ("double", "float") else F.col(c)
            for c, t in df.dtypes]
    return df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("coalesce(bit_xor(h), 0)").alias("x"))


def read_digest(q: DataFrame) -> tuple[int, int]:
    """Run a digest_query and return (row count, hash)."""
    row = q.collect()[0]
    return int(row["n"]), int(row["x"])


def digest(df: DataFrame) -> tuple[int, int]:
    return read_digest(digest_query(df))


def duckdb_twin(sql: str, sf_dir: str) -> pd.DataFrame:
    """Run an engine oracle query over the generated corpus."""
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            if Path(f"{sf_dir}/{t}.parquet").exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{sf_dir}/{t}.parquet')")
        return con.execute(sql).df()
    finally:
        con.close()


# The naive ring-1 kNN over the fine 0.005-degree cells (the formulation of
# the engine's q_knn oracle, on the grid the bucketed layout blocks): the
# DuckDB twin of knn_join_blocked(k=3, ring=1), row for row.
KNN_TWIN = f"""WITH {D.geo_ctes(D.DUCKDB)}, {D.ring_offsets_values(1)},
nbr AS (
  SELECT a.url, a.lat, a.lon, a.cell,
         a.cell + o.dy * {D.LON_CELL_STRIDE} + o.dx AS nbr_cell
  FROM cells a CROSS JOIN offs o),
pairs AS (
  SELECT a.url AS url_a, b.url AS url_b, a.cell AS cell,
         (a.lat - b.lat) * (a.lat - b.lat)
         + (a.lon - b.lon) * (a.lon - b.lon) AS dist2
  FROM nbr a JOIN cells b ON b.cell = a.nbr_cell
  WHERE a.url <> b.url),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY url_a
                               ORDER BY dist2 ASC, url_b ASC) AS r
  FROM pairs)
SELECT url_a, url_b, cell, dist2, r AS "rank" FROM ranked WHERE r <= 3"""


def ann_exact(pdf: pd.DataFrame, sf_dir: str, k: int = 3) -> list[str]:
    """q_ann_lsh's exact answer when every vector has exactly k identical
    copies besides itself (duplicate groups of k + 1): k rows per vector,
    ranks 1..k, each neighbour from the vector's own group, cosine 1."""
    groups = pq.read_table(f"{sf_dir}/vector_groups.parquet").to_pandas()
    if not (groups["vec_group"].value_counts() == k + 1).all():
        return [f"input has a duplicate group not of size {k + 1}"]
    group = groups.set_index("vec_id")["vec_group"]
    bad = []
    per = pdf.groupby("vec_id")["sim_rank"].apply(sorted)
    if set(per.index) != set(group.index):
        bad.append(f"{len(set(group.index) - set(per.index))} vectors have "
                   f"no neighbours, {len(set(per.index) - set(group.index))} "
                   f"unknown vec_ids")
    if not (per.map(lambda r: r == list(range(1, k + 1)))).all():
        bad.append(f"a vector's ranks are not 1..{k}")
    if (pdf["vec_id"].map(group) != pdf["nbr_id"].map(group)).any():
        bad.append("a neighbour from another duplicate group")
    if (pdf["vec_id"] == pdf["nbr_id"]).any():
        bad.append("a vector is its own neighbour")
    if not (pdf["cosine"] == 1.0).all():
        bad.append("a duplicate's cosine is not 1")
    return bad
