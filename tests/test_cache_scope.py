"""The one cache owner (session.cache_scope / cached / release_caches) and
the host-fitted driver-memory default."""

from __future__ import annotations

import threading

import pytest

from setsm_postprocessing_python_spark.session import (cache_scope, cached,
                                                       default_driver_memory,
                                                       release_caches)


def _is_cached(df) -> bool:
    return df.storageLevel.useMemory


def test_cache_scope_ownership(spark):
    base = spark.range(10)

    def frame(k):  # a distinct plan per handle: no CacheManager sharing
        return base.selectExpr(f"id + {k} AS x")

    # a nested scope releases only its own handles
    with cache_scope():
        outer = cached(frame(1))
        with cache_scope():
            inner = cached(frame(2))
        assert not _is_cached(inner) and _is_cached(outer)
    assert not _is_cached(outer)

    # unscoped handles land in the default scope, which only
    # release_caches() empties
    loose = cached(frame(3))
    with cache_scope():
        pass
    assert _is_cached(loose)
    release_caches()
    assert not _is_cached(loose)

    # a scope open on another thread does not capture this thread's handles
    opened, main_done = threading.Event(), threading.Event()
    held = []

    def worker():
        with cache_scope():
            held.append(cached(frame(4)))
            opened.set()
            main_done.wait(60)

    t = threading.Thread(target=worker)
    t.start()
    assert opened.wait(60)
    mine = cached(frame(5))
    main_done.set()
    t.join(60)
    assert not t.is_alive()
    assert not _is_cached(held[0])  # the worker's scope released its own
    assert _is_cached(mine)         # ...but not the main thread's
    release_caches()
    assert not _is_cached(mine)


def test_cached_aggregate_coalesces(spark):
    """A cached plan may change its output partitioning, so AQE coalesces
    a tiny cached aggregate like any other shuffle: it holds at most
    defaultParallelism partitions, not one per shuffle partition, and a
    later read launches that many tasks."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        with cache_scope():
            agg = cached(spark.range(1000).selectExpr("id % 7 AS k")
                         .groupBy("k").count())
            assert agg.count() == 7
            assert agg.rdd.getNumPartitions() <= \
                spark.sparkContext.defaultParallelism < 32
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("meminfo,want", [
    ("MemTotal:       15728640 kB\nMemFree:  1 kB\n", "7680m"),  # 15 GiB
    ("MemTotal:       33554432 kB\n", "16g"),   # half is exactly 16 GiB
    ("MemTotal:      263840548 kB\n", "16g"),   # capped
    ("MemFree:  1 kB\n", "16g"),                # no MemTotal line
    (None, "16g"),                              # unreadable
])
def test_default_driver_memory(meminfo, want):
    assert default_driver_memory(meminfo) == want
