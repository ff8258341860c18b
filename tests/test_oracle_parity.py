"""Every queries() entry with an oracle must match DuckDB exactly at sf0.001
(the driver runs the same comparison at sf0.01)."""

from __future__ import annotations

from pathlib import Path

import pytest

from setsm_postprocessing_python_spark.session import cache_scope
from setsm_postprocessing_python_spark.sql.dialect import HOSTS

from .conftest import SF_TINY, persisted_rdd_ids
from .oracle_compare import assert_frames_match, duckdb_run


def _cases():
    import __spark_entry__ as E

    qs, os_ = E.queries(), E.oracle_sql()
    return [(n, qs[n], os_[n]) for n in sorted(qs) if n in os_]


@pytest.mark.parametrize("name,fn,sql", _cases(), ids=[c[0] for c in _cases()])
def test_query_matches_oracle(spark, name, fn, sql):
    """The query matches DuckDB and, run inside a cache_scope, leaves no
    persisted RDD behind once the scope closes (compared by id: Spark's
    ContextCleaner may free an unrelated older RDD meanwhile, so a count
    could hide a leak)."""
    before = persisted_rdd_ids(spark)
    with cache_scope():
        assert_frames_match(fn(spark, SF_TINY), duckdb_run(sql, SF_TINY),
                            name)
    assert not persisted_rdd_ids(spark) - before, f"{name} left caches"


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0  # driver contract: entry() must produce rows
    assert len(df.columns) >= 2


def test_knn_queries_non_vacuous(spark):
    """The kNN oracle comparisons must cover real neighbor pairs — a 0-row
    match is no evidence for the engine's headline join (round-1 verdict)."""
    import __spark_entry__ as E

    qs = E.queries()
    assert qs["q_knn"](spark, SF_TINY).count() > 0
    assert qs["q_hex_knn"](spark, SF_TINY).count() > 0


# The queries that pair host groups into strips (host{2i} with
# host{2i+1}): each must agree with its twin on a corpus whose lowest host
# is absent.
HOST_GROUP_QUERIES = ["q_coregister", "q_diff_strips", "q_feather_blend",
                      "q_feather_field", "q_merge_order", "q_strip_assembly"]


@pytest.fixture(scope="module")
def host_gap_sf(tmp_path_factory):
    """sf0.001 without host0: the documents whose doc_id % HOSTS == 0
    are dropped (490 rows left), the other tables are symlinked. Every
    committed corpus has every host residue, so a label rule that holds
    only while host0 has pages (a string min picks 'host10' over
    'host2') passes on them."""
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("sf_host_gap")
    for f in Path(SF_TINY).glob("*.parquet"):
        if f.name != "documents.parquet":
            (d / f.name).symlink_to(f)
    docs = pq.read_table(Path(SF_TINY) / "documents.parquet")
    docs = docs.filter(docs["doc_id"].to_numpy() % HOSTS != 0)
    assert docs.num_rows == 490
    pq.write_table(docs, d / "documents.parquet")
    return str(d)


@pytest.mark.parametrize("name", HOST_GROUP_QUERIES)
def test_host_group_query_matches_oracle_without_host0(spark, host_gap_sf,
                                                       name):
    import __spark_entry__ as E

    with cache_scope():
        assert_frames_match(E.queries()[name](spark, host_gap_sf),
                            duckdb_run(E.oracle_sql()[name], host_gap_sf),
                            name)
