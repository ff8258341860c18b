"""Coregistration LSQ semantics vs numpy oracle; ANN recall vs brute force."""

from __future__ import annotations

import numpy as np
import pandas as pd

from setsm_postprocessing_python_spark.operators.merge import _coregister


def _mk(group, blocks, z, bx, by, side="a"):
    # the kernel consumes PER-BLOCK PARTIALS (zsum, n); these fixtures use
    # one value per block, so zsum = z and n = 1
    if side == "a":
        return pd.DataFrame({
            "pair": ["p0"] * len(blocks), "group_id": [group] * len(blocks),
            "zsum": z, "n": [1] * len(blocks),
            "bx": bx, "by": by, "block": blocks,
        })
    # right cogroup side carries renamed columns (see operators/merge.py)
    return pd.DataFrame({
        "pair": ["p0"] * len(blocks), "group_id_b": [group] * len(blocks),
        "zsum_b": z, "n_b": [1] * len(blocks), "block_b": blocks,
    })


def test_coreg_recovers_planar_offset():
    rng = np.random.default_rng(7)
    n = 40
    bx = rng.integers(0, 18, n).astype(float)
    by = rng.integers(0, 9, n).astype(float)
    blocks = (by * 64 + bx).astype(int)
    # ensure unique blocks (per-block mean in the kernel)
    _, idx = np.unique(blocks, return_index=True)
    bx, by, blocks = bx[idx], by[idx], blocks[idx]
    za = rng.normal(50, 5, len(blocks))
    true = (2.5, 0.3, -0.2)  # dz + dx*x + dy*y
    zb = za + true[0] + true[1] * bx + true[2] * by
    a = _mk("host0", blocks, za, bx, by)
    b = _mk("host1", blocks, zb, bx, by, side="b")
    out = _coregister(("p0",), a, b).iloc[0]
    assert out["status"] == "ok"
    assert abs(out["dz"] - true[0]) < 1e-6
    assert abs(out["dx"] - true[1]) < 1e-6
    assert abs(out["dy"] - true[2]) < 1e-6
    assert out["rmse"] < 1e-9


def test_coreg_outlier_gate():
    rng = np.random.default_rng(8)
    n = 60
    bx = np.arange(n, dtype=float) % 18
    by = np.arange(n, dtype=float) // 18
    blocks = (by * 64 + bx).astype(int)
    _, idx = np.unique(blocks, return_index=True)
    bx, by, blocks = bx[idx], by[idx], blocks[idx]
    za = rng.normal(50, 1, len(blocks))
    zb = za + 3.0
    zb[0] += 500.0  # gross outlier, must be rejected by the 3-sigma gate
    a = _mk("host0", blocks, za, bx, by)
    b = _mk("host1", blocks, zb, bx, by, side="b")
    out = _coregister(("p0",), a, b).iloc[0]
    assert out["status"] == "ok"
    assert abs(out["dz"] - 3.0) < 0.5


def test_coreg_too_few_points():
    a = _mk("host0", [1, 2], [1.0, 2.0], [1.0, 2.0], [0.0, 0.0])
    b = _mk("host1", [1, 2], [1.0, 2.0], [1.0, 2.0], [0.0, 0.0], side="b")
    out = _coregister(("p0",), a, b).iloc[0]
    assert out["status"] == "no_overlap"
    assert np.isnan(out["dz"])


def test_lsh_recall_vs_bruteforce(spark):
    """LSH top-k must recover most of the true top-k (multiprobe, 8 planes)."""
    from setsm_postprocessing_python_spark.operators.similarity import (
        brute_force_topk, lsh_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.vec_id, r.nbr_id)
             for r in brute_force_topk(emb, k=3).collect()}
    approx = {(r.vec_id, r.nbr_id)
              for r in lsh_topk(emb, dim=64, k=3).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall too low: {recall:.2f}"


def test_ivf_recall_vs_bruteforce(spark):
    from setsm_postprocessing_python_spark.operators.similarity import (
        brute_force_topk, ivf_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.vec_id, r.nbr_id)
             for r in brute_force_topk(emb, k=3).collect()}
    approx = {(r.vec_id, r.nbr_id)
              for r in ivf_topk(emb, dim=64, k=3).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"


def test_lsh_recall_clustered(spark):
    """On CLUSTERED vectors (the realistic embedding regime) LSH must
    reach recall >= 0.8 — the round-1 gate of 0.6 on uniform-random
    vectors measured the data, not the index."""
    from setsm_postprocessing_python_spark.operators.similarity import (
        brute_force_topk, lsh_topk)
    from setsm_postprocessing_python_spark.sources.datagen import (
        clustered_embeddings)

    emb = clustered_embeddings(spark, n=1500, dim=64, n_clusters=25).cache()
    exact = {(r.vec_id, r.nbr_id) for r in brute_force_topk(emb, k=3).collect()}
    approx = {(r.vec_id, r.nbr_id)
              for r in lsh_topk(emb, dim=64, k=3, n_hint=1500).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH clustered recall too low: {recall:.2f}"


def test_ivf_recall_clustered(spark):
    from setsm_postprocessing_python_spark.operators.similarity import (
        brute_force_topk, ivf_topk)
    from setsm_postprocessing_python_spark.sources.datagen import (
        clustered_embeddings)

    emb = clustered_embeddings(spark, n=1500, dim=64, n_clusters=25).cache()
    exact = {(r.vec_id, r.nbr_id) for r in brute_force_topk(emb, k=3).collect()}
    approx = {(r.vec_id, r.nbr_id)
              for r in ivf_topk(emb, dim=64, k=3, n_lists=16,
                                n_probe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF clustered recall too low: {recall:.2f}"


def test_ivf_deterministic_under_repartition(spark):
    """ADVICE r2: bare limit() made IVF centroids partition-layout-
    dependent. The seeded hash-filtered, id-ordered sample must give
    IDENTICAL output (ids, ranks, cosines) under any physical layout."""
    from setsm_postprocessing_python_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = {(r.vec_id, r.nbr_id, r.sim_rank, round(r.cosine, 9))
            for r in ivf_topk(emb, dim=64, k=3).collect()}
    shuffled = {(r.vec_id, r.nbr_id, r.sim_rank, round(r.cosine, 9))
                for r in ivf_topk(emb.repartition(17), dim=64, k=3).collect()}
    coalesced = {(r.vec_id, r.nbr_id, r.sim_rank, round(r.cosine, 9))
                 for r in ivf_topk(emb.coalesce(1), dim=64, k=3).collect()}
    assert base == shuffled == coalesced


def test_embedding_near_dup_lsh_vs_brute(spark):
    """embedding_near_dup(method='lsh') — the scale path for the
    embedding-cosine near-dup dedup mode — must (a) emit ONLY true pairs
    (every pair it reports appears in the exact brute-force set with the
    same a < b orientation), and (b) reach recall >= 0.8 on clustered
    vectors at the 0.6-cosine threshold (the clustered fixture's top-1
    cosines run ~0.60-0.73, so 0.6 selects the genuinely-similar tail)."""
    from setsm_postprocessing_python_spark.operators.similarity import (
        embedding_near_dup)
    from setsm_postprocessing_python_spark.sources.datagen import (
        clustered_embeddings)

    emb = clustered_embeddings(spark, n=1500, dim=64, n_clusters=25).cache()
    exact = {(r.id_a, r.id_b) for r in embedding_near_dup(
        emb, threshold=0.6, method="brute").collect()}
    approx = {(r.id_a, r.id_b) for r in embedding_near_dup(
        emb, threshold=0.6, method="lsh", dim=64, n_hint=1500).collect()}
    assert exact, "fixture produced no near-dup pairs at 0.6"
    assert approx <= exact, "LSH path emitted a pair brute force rejects"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"near-dup LSH recall too low: {recall:.2f}"


def test_lsh_topk_row_grain_equivalence(spark):
    """lsh_topk collapses identical vectors, searches the representatives
    and expands to rows. On a corpus replicated r times (copy ids shifted
    by n) each row must rank its own copies first (smallest ids first),
    and every other row must be the expansion of the rep-grain result —
    the same search over the distinct vectors with the same planes — at
    the same cosine after the query's 6-digit round."""
    import pyspark.sql.functions as F

    from setsm_postprocessing_python_spark.operators.similarity import (
        lsh_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    k = 3

    def rounded(df):
        return {(r.vec_id, r.sim_rank): (r.nbr_id, r.cosine) for r in
                df.select("vec_id", "nbr_id", "sim_rank",
                          F.round("cosine", 6).alias("cosine")).collect()}

    for r in (3, 8):
        copies = spark.range(r).select(F.col("id").alias("copy"))
        dup = emb.crossJoin(copies).select(
            (F.col("vec_id") + F.col("copy") * n).alias("vec_id"),
            "embedding")
        got = rounded(lsh_topk(dup, dim=64, k=k, n_hint=r * n))
        rep = rounded(lsh_topk(emb, dim=64, k=k, n_hint=r * n))
        assert rep
        for i in range(n):
            # the rep-grain neighbours expanded to rows: each group's
            # members in id order (vec_id + copy * n)
            nbrs = [(j + c * n, cos)
                    for j, cos in (rep[(i, q)] for q in range(1, k + 1)
                                   if (i, q) in rep)
                    for c in range(r)]
            for c in range(r):
                own = [(i + o * n, 1.0) for o in range(r) if o != c]
                want = (own + nbrs)[:k]
                assert [got[(i + c * n, q)] for q in range(1, k + 1)] == want


def test_ann_dedup_collapse_semantics(spark):
    """On a duplicated input, ann_dedup_topk must equal lsh_topk over the
    distinct vectors (representative = min id per identical-vector group)
    with the correct group sizes attached."""
    import pyspark.sql.functions as F

    from setsm_postprocessing_python_spark.operators.similarity import (
        ann_dedup_topk, lsh_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    # 3x replication: copies get ids shifted by n and 2n, so min-id
    # representatives are exactly the original ids
    reps = spark.range(3).select(F.col("id").alias("rep"))
    dup = (emb.crossJoin(reps)
              .select((F.col("vec_id") + F.col("rep") * n).alias("vec_id"),
                      "embedding"))
    got = {(r.vec_id, r.nbr_id, r.sim_rank, r.size_a, r.size_b)
           for r in ann_dedup_topk(dup, dim=64, k=3).collect()}
    # ann_dedup_topk sizes planes from the DISTINCT count (n) — the raw
    # path must be given the same n for like-for-like plane counts
    want = {(r.vec_id, r.nbr_id, r.sim_rank, 3, 3)
            for r in lsh_topk(emb, dim=64, k=3, n_hint=n).collect()}
    assert got == want
    assert len(got) > 0
