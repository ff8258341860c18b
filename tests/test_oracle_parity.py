"""Every queries() entry with an oracle must match DuckDB exactly at sf0.001
(the driver runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from setsm_postprocessing_python_spark.session import cache_scope

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
