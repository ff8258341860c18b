"""Dedup resolution: candidate pairs -> connected components -> one kept
doc per duplicate cluster (operators/dedup.dedup_decisions/deduplicate,
over the generic edge-list CC loop components.cc_from_edges).

Cross-checks: the distributed pointer-jumping HashMin labels vs a pure-
python union-find on the same edges, and the end-to-end per-document
verdicts vs union-find over (exact groups ∪ rep near-dup pairs).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from setsm_postprocessing_python_spark.operators.components import (
    cc_from_edges,
)
from setsm_postprocessing_python_spark.operators.dedup import (
    dedup_decisions,
    deduplicate,
    exact_dedup,
    near_dup_pipeline,
)
from setsm_postprocessing_python_spark.session import cache_scope

from .conftest import persisted_rdd_ids


def _union_find(nodes, pairs):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-label canonicalization
    return {n: find(n) for n in nodes}


def test_cc_from_edges_matches_union_find(spark):
    # a 10-chain (exercises pointer jumping), a triangle, two isolated
    nodes = list(range(10)) + [20, 21, 22, 30, 31]
    undirected = [(i, i + 1) for i in range(9)] + [(20, 21), (21, 22),
                                                   (20, 22)]
    want = _union_find(nodes, undirected)
    ndf = spark.createDataFrame([(n,) for n in nodes], "cell long")
    edf = spark.createDataFrame(
        [(a, b) for a, b in undirected] + [(b, a) for a, b in undirected],
        "cell long, nbr_cell long")
    got = {r.cell: r.component for r in cc_from_edges(ndf, edf).collect()}
    assert got == want
    assert got[9] == 0 and got[22] == 20 and got[30] == 30


def test_dedup_decisions_chain_collapses_to_one_keep(spark):
    ids = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1, 2), (1, 2, 1)], "id_a long, id_b long, n_shared_bands int")
    dec = {r.doc_id: (r.canonical_id, r.keep)
           for r in dedup_decisions(pairs, ids).collect()}
    assert dec == {0: (0, True), 1: (0, False), 2: (0, False),
                   3: (3, True), 4: (4, True)}


def test_deduplicate_end_to_end_matches_union_find(spark):
    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (0, f"{base} endA"), (1, f"{base} endA"), (2, f"{base} endA"),
        (3, f"{base} endB"),           # near-dup of the A group
        (4, f"{base} endB endX"),      # near-dup of B (chain to A possible)
        (5, "p q r s t u v w x y z"),  # unrelated, kept
        (6, "p q r s t u v w x y z"),  # exact dup of 5
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # independent expectation: union-find over exact groups + rep pairs
    groups = {}
    for i, t in rows:
        groups.setdefault(t, []).append(i)
    uf_pairs = [(g[0], m) for g in groups.values() for m in g[1:]]
    rep_pairs = [(r.id_a, r.id_b) for r in near_dup_pipeline(df).collect()]
    want = _union_find([i for i, _ in rows], uf_pairs + rep_pairs)

    before = persisted_rdd_ids(spark)
    with cache_scope():
        out = deduplicate(df).collect()
        assert persisted_rdd_ids(spark) - before  # caches live in scope
    assert not persisted_rdd_ids(spark) - before  # ...released on exit
    got = {r.doc_id: r.canonical_id for r in out}
    assert got == want
    # exactly one keep per cluster, keep iff id == canonical
    assert all((r.doc_id == r.canonical_id) == r.keep for r in out)
    kept = {r.doc_id for r in out if r.keep}
    assert kept == set(want.values())
    # exact dups resolved: 1,2 -> 0 and 6 -> 5; near-dup group B joined A
    assert got[1] == got[2] == 0 and got[6] == 5
    assert got[3] == 0  # (base endB) pairs with (base endA) under LSH


def test_deduplicate_keeps_null_text_docs_as_singletons(spark):
    """One verdict row per input doc even when text is NULL: null texts
    are not 'equal' to each other (unknown content), so each stays a
    kept singleton instead of silently vanishing through a null-keyed
    equi-join."""
    base = " ".join(f"w{i}" for i in range(40))
    rows = [(0, f"{base} endA"), (1, f"{base} endA"),
            (2, None), (3, None),
            (4, "solo"), (5, "a b"), (6, "a b")]  # sub-shingle-width
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.canonical_id, r.keep)
           for r in deduplicate(df).collect()}
    assert len(out) == len(rows)
    assert out[2] == (2, True) and out[3] == (3, True)
    assert out[0] == (0, True) and out[1] == (0, False)
    # short docs: no shingles, so no LSH linking — but exact dedup still
    # folds byte-identical short texts
    assert out[4] == (4, True)
    assert out[5] == (5, True) and out[6] == (5, False)


def test_deduplicate_min_shared_bands_is_a_refinement(spark):
    """Raising the precision knob can only SPLIT clusters (edges are a
    subset), never merge new ones; expectation re-derived by union-find
    over the knob-filtered pair set."""
    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (0, f"{base} endA"), (1, f"{base} endA"),
        (2, f"{base} endB"),
        (3, "p q r s t u v w x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = {}
    for i, t in rows:
        groups.setdefault(t, []).append(i)
    uf_exact = [(g[0], m) for g in groups.values() for m in g[1:]]
    rep_pairs = [(r.id_a, r.id_b, r.n_shared_bands)
                 for r in near_dup_pipeline(df).collect()]
    loose = _union_find([i for i, _ in rows],
                        uf_exact + [(a, b) for a, b, _ in rep_pairs])
    strict = _union_find([i for i, _ in rows],
                         uf_exact + [(a, b) for a, b, n in rep_pairs
                                     if n >= 4])
    with cache_scope():
        got_loose = {r.doc_id: r.canonical_id
                     for r in deduplicate(df).collect()}
        got_strict = {r.doc_id: r.canonical_id
                      for r in deduplicate(df, min_shared_bands=4).collect()}
    assert got_loose == loose and got_strict == strict
    assert got_loose[2] == 0  # one-token variant pairs at >= 1 band
    # refinement: strict clusters partition loose ones
    for i in got_strict:
        assert got_loose[got_strict[i]] == got_loose[i]
