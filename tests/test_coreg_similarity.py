"""Coregistration LSQ semantics vs numpy oracle; ANN recall vs brute force."""

from __future__ import annotations

import numpy as np
import pandas as pd

from setsm_postprocessing_python_spark.operators.merge import _coregister


def _mk(host, blocks, z, bx, by, side="a"):
    # the kernel consumes PER-BLOCK PARTIALS (zsum, n) and the side's host
    # number; these fixtures use one value per block, so zsum = z, n = 1
    if side == "a":
        return pd.DataFrame({
            "pair": ["p0"] * len(blocks), "host_n": [host] * len(blocks),
            "zsum": z, "n": [1] * len(blocks),
            "bx": bx, "by": by, "block": blocks,
        })
    # right cogroup side carries renamed columns (see operators/merge.py)
    return pd.DataFrame({
        "pair": ["p0"] * len(blocks), "host_n_b": [host] * len(blocks),
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
    a = _mk(0, blocks, za, bx, by)
    b = _mk(1, blocks, zb, bx, by, side="b")
    out = _coregister(("p0",), a, b).iloc[0]
    assert out["status"] == "ok"
    assert (out["group_a"], out["group_b"]) == ("host0", "host1")
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
    a = _mk(0, blocks, za, bx, by)
    b = _mk(1, blocks, zb, bx, by, side="b")
    out = _coregister(("p0",), a, b).iloc[0]
    assert out["status"] == "ok"
    assert abs(out["dz"] - 3.0) < 0.5


def test_coreg_too_few_points():
    a = _mk(0, [1, 2], [1.0, 2.0], [1.0, 2.0], [0.0, 0.0])
    b = _mk(1, [1, 2], [1.0, 2.0], [1.0, 2.0], [0.0, 0.0], side="b")
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


# ---------------------------------------------------------------------------
# re-rank edge cases: empty and tiny inputs, a hot bucket, probe-only
# partitions, the partition count, duplicate rows and duplicate ids
# ---------------------------------------------------------------------------

EMB_SCHEMA = "vec_id bigint, embedding array<float>"


def _near(n, seed=7, eps=1e-2):
    """n float32 vectors within eps of one random direction, so they share
    their LSH buckets."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal(64)
    return (base + eps * rng.standard_normal((n, 64))).astype(np.float32)


def _emb(spark, ids, vecs):
    return spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in zip(ids, vecs)], EMB_SCHEMA)


def _rows(df):
    return sorted((r.vec_id, r.nbr_id, r.sim_rank, r.cosine)
                  for r in df.collect())


def test_ann_empty_and_single_vector(spark):
    from setsm_postprocessing_python_spark.operators.similarity import (
        ann_dedup_topk, lsh_topk)

    empty = spark.createDataFrame([], EMB_SCHEMA)
    one = _emb(spark, [1], _near(1))
    for topk in (lsh_topk, ann_dedup_topk):
        assert topk(empty, dim=64, k=3).count() == 0
        assert topk(one, dim=64, k=3).collect() == []


def test_lsh_topk_hot_bucket_matches_numpy(spark):
    """200 near-identical vectors share every home bucket, so one bucket's
    200 x 200 pairs exceed the kernel's pair chunk (1 << 13). Every pair
    is a candidate, so the result is the exact top-k, with the bits of
    the kernel's float64 einsum."""
    from setsm_postprocessing_python_spark.operators.similarity import (
        lsh_topk)

    n, k = 200, 3
    vecs = _near(n, eps=1e-4)
    mat = vecs.astype(np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    a, b = np.divmod(np.arange(n * n), n)
    a, b = a[a != b], b[a != b]
    cos = np.einsum("ij,ij->i", mat[a], mat[b]) / (norms[a] * norms[b])
    want = []
    for i in range(n):
        mine = np.flatnonzero(a == i)
        best = mine[np.lexsort((b[mine], -cos[mine]))][:k]
        want += [(i, int(b[p]), r + 1, float(cos[p]))
                 for r, p in enumerate(best)]
    assert _rows(lsh_topk(_emb(spark, range(n), vecs), dim=64, k=k)) \
        == sorted(want)


def test_rerank_kernel_probe_only_partition():
    """A partition whose entries are all probes (no home entry) yields no
    row; in a mixed partition a probe-only bucket adds no pair, and each
    home vector gets its self row."""
    import pyarrow as pa

    from setsm_postprocessing_python_spark.operators.similarity import (
        _partition_topk)

    def batch(ids, vecs, bkts, home):
        return pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64()),
             pa.array(vecs, pa.list_(pa.float32())),
             pa.array(bkts, pa.int64()), pa.array(home)],
            names=["vec_id", "v", "bkt", "is_b"])

    def run(*batches):
        out = pa.Table.from_batches(list(_partition_topk(3)(iter(batches))),
                                    schema=pa.schema(
                                        [("vec_id", pa.int64()),
                                         ("nbr_id", pa.int64()),
                                         ("cosine", pa.float64())]))
        return sorted(zip(*(out[c].to_pylist() for c in out.column_names)))

    assert run() == []
    assert run(batch([1, 2], [[1, 0], [0, 1]], [7, 7], [False, False])) == []
    mixed = batch([1, 2, 1, 3], [[1, 0], [0, 1], [1, 0], [3, 4]],
                  [7, 7, 9, 9], [False, False, True, True])
    assert run(mixed) == [(1, 1, 1.0), (1, 3, 0.6), (3, 1, 0.6),
                          (3, 3, 1.0)]


def test_ann_same_rows_at_1_and_64_partitions(spark):
    """Buckets are hash-partitioned whole, so the partition count changes
    which buckets share a kernel call, never the rows."""
    from setsm_postprocessing_python_spark.operators.similarity import (
        ivf_topk, lsh_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    old = {key: spark.conf.get(key) for key in keys}
    rows = {}
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for parts in ("1", "64"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            rows[parts] = (_rows(lsh_topk(emb, dim=64, k=3)),
                           _rows(ivf_topk(emb, dim=64, k=3)))
    finally:
        for key, value in old.items():
            spark.conf.set(key, value)
    assert rows["1"][0] and rows["1"][1]
    assert rows["1"] == rows["64"]


def test_lsh_topk_exact_duplicate_rows(spark):
    """A repeated row (same id, same vector) counts once: the result is
    the one over the distinct rows."""
    from setsm_postprocessing_python_spark.operators.similarity import (
        lsh_topk)

    vecs = _near(6)
    ids = [1, 2, 3, 4, 5, 6]
    dup = _emb(spark, ids + [1, 4], np.concatenate([vecs, vecs[[0, 3]]]))
    got = _rows(lsh_topk(dup, dim=64, k=3))
    assert got == _rows(lsh_topk(_emb(spark, ids, vecs), dim=64, k=3))
    assert [r[:3] for r in got] == [
        (1, 2, 2), (1, 4, 1), (1, 5, 3), (2, 1, 1), (2, 5, 2), (2, 6, 3),
        (3, 4, 1), (3, 5, 3), (3, 6, 2), (4, 1, 1), (4, 3, 3), (4, 5, 2),
        (5, 2, 3), (5, 4, 2), (5, 6, 1), (6, 2, 3), (6, 3, 2), (6, 5, 1)]


def test_lsh_topk_duplicate_id_raises(spark):
    """One id bound to two different vectors raises instead of returning
    wrong rows: whether another vector meets the id at two cosines, or the
    two vectors' neighbourhoods are disjoint."""
    import pytest

    from pyspark.errors import PySparkException

    from setsm_postprocessing_python_spark.operators.similarity import (
        lsh_topk)

    near = _near(4)
    far = np.concatenate([_near(2, seed=1), -_near(2, seed=1)])
    for ids, vecs in (([1, 1, 2, 3], near), ([1, 2, 1, 3], far)):
        with pytest.raises(PySparkException, match="two different vectors"):
            lsh_topk(_emb(spark, ids, vecs), dim=64, k=3).collect()
