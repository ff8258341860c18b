"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k. The small side (query set) is
  broadcast; the dot product stays JVM-side (zip_with + aggregate over
  doubles) so results are deterministic and oracle-checkable. For
  all-pairs on one table this is the O(n^2) baseline — correct at any
  scale but quadratic; use an ANN path beyond ~10^5 vectors.
- lsh_topk: random-hyperplane LSH bucketing (deterministic planes from a
  seeded RNG, broadcast as a numpy matrix): vectors are bucketed by sign
  signature, candidates searched within bucket (+ multi-probe neighbor
  buckets), exact cosine re-rank. Sub-quadratic: cost ~ n * bucket_size.
  The numpy matmul runs in an Arrow-batched pandas UDF (vectorized,
  no per-row Python). Identical vectors are collapsed first and the
  result expanded to rows, so duplication costs linearly.
- ann_dedup_topk: the same search answered at representative grain,
  with group sizes.
- ivf_topk: k-means coarse-quantizer lists with nprobe search.

Both candidate generators (LSH buckets, IVF lists) feed the one exact
re-rank (_rerank: a grouped float64 einsum kernel with an in-group
partial top-k) and the one ranking (_ranked).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import ArrayType, DoubleType, LongType

from ..session import cached
from .dedup import collapse_exact, expand


def _cos_expr(a: str, b: str) -> str:
    """Deterministic cosine: double-cast elements, sequential fold — the
    same expression shape the DuckDB oracle uses (list_dot_product on
    double lists), so values match bit-for-bit."""
    da = f"transform({a}, x -> cast(x as double))"
    db = f"transform({b}, x -> cast(x as double))"
    dot = (f"aggregate(zip_with({da}, {db}, (x, y) -> x * y), "
           f"cast(0.0 as double), (acc, x) -> acc + x)")
    na = (f"sqrt(aggregate(transform({da}, x -> x * x), "
          f"cast(0.0 as double), (acc, x) -> acc + x))")
    nb = (f"sqrt(aggregate(transform({db}, x -> x * x), "
          f"cast(0.0 as double), (acc, x) -> acc + x))")
    return f"({dot} / ({na} * {nb}))"


def brute_force_topk(df: DataFrame, k: int = 3,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact all-pairs cosine top-k. Output (vec_id, nbr_id, cosine, rank)."""
    a = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("vb"))
    j = a.crossJoin(F.broadcast(b)).where(F.col("vec_id") != F.col("nbr_id"))
    j = j.withColumn("cosine", F.expr(_cos_expr("va", "vb")))
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("nbr_id").asc())
    return (j.withColumn("sim_rank", F.row_number().over(w))
             .where(F.col("sim_rank") <= k)
             .select(F.col("vec_id").cast("bigint"), F.col("nbr_id").cast("bigint"),
                     "cosine", "sim_rank"))


def ann_dedup_topk(df: DataFrame, dim: int, k: int = 3,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   seed: int = 42) -> DataFrame:
    """LSH top-k at REPRESENTATIVE grain: collapse_exact over the vector,
    the shared rep-grain top-k (the same path lsh_topk runs before it
    expands to rows), group sizes re-attached — the similarity analogue
    of dedup.near_dup_pipeline (reference analogue: redundancy gates skip
    known-covered work before expensive steps, lib/scenes2strips.py:
    271-274). Output (vec_id, nbr_id, cosine, sim_rank, size_a, size_b):
    vec_id is the min id of an identical-vector group, size_* the group
    sizes — the searchable index entry plus its multiplicity, which is
    what a dedup-aware retrieval pipeline stores; lsh_topk is the same
    search answered per row.

    Sizing: the planes per table are derived from the DISTINCT-group count,
    not the raw row count — at high duplication a raw count over-sizes
    the plane count by ~log2(n_raw/n_distinct) bits, shrinking buckets
    and costing recall headroom. The groups are persisted, so the
    distinct count is one cheap action over work the search and both
    size joins reuse."""
    groups = cached(collapse_exact(df, vec_col, id_col)
                    .withColumnRenamed(id_col, "vec_id"))
    n_distinct = groups.count()
    topk = _rep_topk(groups, dim, k, n_distinct, vec_col, seed)
    sizes = groups.select("vec_id", F.col("n").alias("size_a"))
    return (topk
            .join(sizes, "vec_id")
            .join(groups.select(F.col("vec_id").alias("nbr_id"),
                                F.col("n").alias("size_b")),
                  "nbr_id")
            .select("vec_id", "nbr_id", "cosine", "sim_rank",
                    "size_a", "size_b"))



# ---------------------------------------------------------------------------
# candidate generators (LSH buckets, IVF lists) -> one exact re-rank
# ---------------------------------------------------------------------------

N_TABLES = 8    # independent LSH tables
PROBE_BITS = 2  # query-side multiprobe: lowest-margin bit flips per table


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_planes)).astype(np.float64)


def _super_group_topk(k: int):
    """The one exact re-rank kernel. One pandas invocation handles MANY
    candidate groups (rows: vec_id, v, bkt, is_b; `bkt` is an LSH bucket
    or an IVF list): stack the vectors once, take each row's norm once,
    enumerate every bucket's (a-probe x b-home) pairs over a stable bucket
    sort, then run ONE chunked float64 gather + einsum over the
    concatenated pairs. A row's norm does not depend on which gather it
    sits in, so the cosines are bit-identical to a per-pair kernel
    (golden-pinned by q_ann_lsh/q_ann_dedup/q_ann_ivf).

    IN-UDF partial top-k: keep each vec's k best candidates WITHIN the
    group (dedup + lexsort by (vec, -cosine, nbr) — the same total order
    _ranked ranks by). The global top-k per vec is a subset of the union
    of per-group top-ks (a pair's in-group rank among its vec's
    candidates is <= its global rank), so the final result is identical,
    but the shuffle out of the re-rank carries <= k rows per (vec, group)
    instead of the full candidate stream."""
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_id": pd.Series([], dtype="int64"),
                              "nbr_id": pd.Series([], dtype="int64"),
                              "cosine": pd.Series([], dtype="float64")})
        if not len(pdf):
            return empty
        bkt = pdf["bkt"].to_numpy()
        order = np.argsort(bkt, kind="stable")
        bkt = bkt[order]
        ids = pdf["vec_id"].to_numpy()[order]
        isb = pdf["is_b"].to_numpy()[order]
        mat = np.stack(pdf["v"].to_numpy())[order].astype(np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        starts = np.flatnonzero(np.r_[True, bkt[1:] != bkt[:-1]])
        ends = np.r_[starts[1:], len(bkt)]
        pa_parts, pb_parts = [], []
        for s, e in zip(starts, ends):
            ib = s + np.flatnonzero(isb[s:e])
            if not len(ib):
                continue
            ia = np.arange(s, e)
            pa = np.repeat(ia, len(ib))
            pb = np.tile(ib, len(ia))
            keep = ids[pa] != ids[pb]
            if keep.any():
                pa_parts.append(pa[keep])
                pb_parts.append(pb[keep])
        if not pa_parts:
            return empty
        pa = np.concatenate(pa_parts)
        pb = np.concatenate(pb_parts)
        chunk = 1 << 20  # bound the gathered pair matrices, not more pairs
        cos_parts = []
        for lo in range(0, len(pa), chunk):
            ca, cb = pa[lo:lo + chunk], pb[lo:lo + chunk]
            dots = np.einsum("ij,ij->i", mat[ca], mat[cb])
            cos_parts.append(dots / (norms[ca] * norms[cb]))
        out = pd.DataFrame({
            "vec_id": ids[pa].astype(np.int64),
            "nbr_id": ids[pb].astype(np.int64),
            "cosine": np.concatenate(cos_parts)})
        out = out.drop_duplicates(["vec_id", "nbr_id"])
        order = np.lexsort((out["nbr_id"].to_numpy(),
                            -out["cosine"].to_numpy(),
                            out["vec_id"].to_numpy()))
        out = out.iloc[order]
        return out.groupby("vec_id", sort=False).head(k)
    return fn


def _rerank(entries: DataFrame, by: str, k: int) -> DataFrame:
    """Exact re-rank of candidate entries (vec_id, v, bkt, is_b) grouped
    by `by`, then the top-k ranking. Every vector moves once per entry,
    never once per candidate pair: the group shuffle co-locates them."""
    return _ranked(entries.groupBy(by).applyInPandas(
        _super_group_topk(k), "vec_id bigint, nbr_id bigint, cosine double"),
        k)


def with_lsh_buckets(df: DataFrame, dim: int, bits: int,
                     vec_col: str = "embedding", seed: int = 42) -> DataFrame:
    """Multi-table random-hyperplane LSH with query-side multiprobe: adds
    `probe_buckets`, an array of (table << 32 | signature) keys. The first
    N_TABLES entries are the home buckets (one per table, `bits` sign
    bits each); then, per table, the PROBE_BITS perturbed buckets that
    flip the sign bits with the SMALLEST projection margin (the classic
    multi-probe heuristic), which buys recall without more tables. One
    batched numpy matmul per Arrow batch computes all tables at once."""
    planes = _hyperplanes(dim, N_TABLES * bits, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def buckets_of(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy())                       # (batch, dim)
        proj = mat.astype(np.float64) @ planes             # (batch, T*P)
        signs = (proj > 0).reshape(len(mat), N_TABLES, bits)
        weights = (1 << np.arange(bits)).astype(np.int64)
        sig = signs @ weights                              # (batch, T)
        tbl = np.arange(N_TABLES, dtype=np.int64) << 32
        keys = tbl | sig                                   # (batch, T)
        margins = np.abs(proj).reshape(len(mat), N_TABLES, bits)
        # per (row, table): indices of the PROBE_BITS lowest margins
        flip = np.argsort(margins, axis=2)[:, :, :PROBE_BITS]
        probes = [keys] + [tbl | (sig ^ (1 << flip[:, :, j]))
                           for j in range(PROBE_BITS)]
        return pd.Series(list(np.concatenate(probes, axis=1)))

    return df.withColumn("probe_buckets", buckets_of(F.col(vec_col)))


def ivf_topk(df: DataFrame, dim: int, k: int = 3, n_lists: int = 16,
             n_probe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding", seed: int = 42) -> DataFrame:
    """IVF-style ANN: a k-means coarse quantizer (trained driver-side on a
    bounded sample with Lloyd iterations — the sample and the centroids
    are tiny regardless of table size) assigns each vector to its nearest
    list; queries probe their n_probe nearest lists; exact cosine re-rank
    within candidates.

    Scale shape: centroids are driver-side tiny and broadcast; list
    assignment is one batched numpy matmul per Arrow batch (one pass —
    the home list is the first entry of the probe output); the exact-
    cosine re-rank is the one LSH also runs, grouped per list (the list id
    is the bucket). Probing >1 list recovers recall lost at list
    boundaries (the IVF nprobe knob). Size n_lists ~ sqrt(n) at scale:
    per-list work is (n*n_probe/n_lists) x (n/n_lists) pairs and list
    groups are the unit of re-rank parallelism. A pair (a, b) meets only
    in b's home list, so the stream carries no repeats."""
    rng = np.random.default_rng(seed)
    # Deterministic bounded training sample: bare limit() is partition-
    # layout-dependent (repartitioning the input would move the centroids
    # and silently change results). A seeded hash filter + id-ordered
    # limit is reproducible under any physical layout; the orderBy is a
    # TakeOrdered over the hash-filtered subset, not a full sort.
    ids_vecs = df.select(F.col(id_col).alias("_sid"), F.col(vec_col))
    sample_rows = (ids_vecs
                   .where(F.pmod(F.xxhash64(F.col("_sid"), F.lit(seed)), F.lit(4)) == 0)
                   .orderBy("_sid").limit(10_000).collect())
    if len(sample_rows) < n_lists:
        # tiny-table fallback: the 1/4 hash filter can undershoot n_lists
        # on inputs with < ~4*n_lists rows; the unfiltered id-ordered
        # sample is equally deterministic and still bounded
        sample_rows = ids_vecs.orderBy("_sid").limit(10_000).collect()
    if len(sample_rows) < n_lists:
        raise ValueError(
            f"ivf_topk needs >= n_lists={n_lists} vectors to train the "
            f"quantizer, got {len(sample_rows)}")
    sample = np.stack([r[1] for r in sample_rows]).astype(np.float64)
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    cents = sample[rng.choice(len(sample), n_lists, replace=False)]
    for _ in range(10):  # spherical k-means Lloyd iterations
        assign = (sample @ cents.T).argmax(axis=1)
        for c in range(n_lists):
            members = sample[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cents[c] = m / (np.linalg.norm(m) + 1e-12)

    @F.pandas_udf(ArrayType(LongType()))
    def probe_lists(v: pd.Series, n: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ cents.T                       # (batch, n_lists)
        order = np.argsort(-sims, axis=1)
        return pd.Series([row[:int(c)].astype(np.int64)
                          for row, c in zip(order, n.to_numpy())])

    # ONE probe-UDF pass: the home list is the first (best) entry of the
    # n_probe output, a position flag, not a second UDF invocation.
    base = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    entries = base.select(
        "vec_id", "v",
        F.posexplode_outer(probe_lists(F.col("v"), F.lit(n_probe)))
        .alias("pos", "bkt")).select(
        "vec_id", "v", "bkt", (F.col("pos") == 0).alias("is_b"))
    return _rerank(entries, "bkt", k)


def lsh_topk(df: DataFrame, dim: int, k: int = 3, id_col: str = "vec_id",
             vec_col: str = "embedding", seed: int = 42,
             n_hint: int | None = None) -> DataFrame:
    """Approximate per-row top-k: candidates collide in >=1 of N_TABLES
    LSH tables; exact cosine re-rank within candidates. Collision
    probability for angle theta: 1 - (1 - (1-theta/pi)^P)^T — with T=8,
    P=4 a 60-degree neighbor is caught with p ~ 0.8. Ids must be unique.

    Collapse first, expand to rows: identical vectors share every bucket,
    so a raw search pays dup_group_size^2 uninformative pairs (34.6x wall
    at 10x data, 8x -> 80x replication; BENCH/SCALE_PROBE.md).
    - The rep-grain top-k runs over collapse_exact's representatives
      (min id per identical-vector group), planes sized from the RAW row
      count, so buckets — and a row's candidate set, its group's — are
      the raw path's.
    - Each row then ranks its group's other members at the group's
      self-cosine (the kernel's float64 einsum, so the bits match) and
      the members of its group's top-k neighbour groups, each truncated
      to its k+1 smallest ids (a row's top-k from one group lies among
      them: the expansion is linear in rows). A group ranked ahead of H
      puts its representative ahead of every member of H, so the result
      equals the raw row-level top-k bit for bit; without duplicates the
      expansion is the identity.

    Pass n_hint (table stats / parquet footer row count) to avoid the
    sizing count job."""
    if n_hint is None:
        n_hint = df.select(id_col).count()
    rows = df.select(F.col(id_col).cast("bigint").alias("vec_id"), vec_col)
    groups = collapse_exact(rows, vec_col, "vec_id")
    reps = _rep_topk(groups, dim, k, n_hint, vec_col, seed)

    @F.pandas_udf(DoubleType())
    def self_cosine(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", mat, mat)
        norms = np.sqrt(dots)
        return pd.Series(dots / (norms * norms))

    # (rep_id, nbr_rep, cosine): each group's top-k neighbour groups
    # plus the group itself at its self-cosine
    cand_groups = reps.select(
        F.col("vec_id").alias("rep_id"), F.col("nbr_id").alias("nbr_rep"),
        "cosine").unionByName(groups.select(
            F.col("vec_id").alias("rep_id"), F.col("vec_id").alias("nbr_rep"),
            self_cosine(F.col(vec_col)).alias("cosine")))
    members = expand(rows, groups.select(vec_col, "vec_id"), vec_col,
                     "vec_id").select("vec_id", "rep_id")
    by_id = Window.partitionBy("rep_id").orderBy("vec_id")
    smallest = (members.withColumn("_r", F.row_number().over(by_id))
                .where(F.col("_r") <= k + 1)
                .select(F.col("rep_id").alias("nbr_rep"),
                        F.col("vec_id").alias("nbr_id")))
    j = (members.join(cand_groups, "rep_id").join(smallest, "nbr_rep")
         .where(F.col("vec_id") != F.col("nbr_id")))
    return _ranked(j, k)


def _rep_topk(groups: DataFrame, dim: int, k: int, n: int,
              vec_col: str = "embedding", seed: int = 42) -> DataFrame:
    """The one LSH top-k, over distinct vectors (vec_id, vec_col), sized
    for n rows. Shared by lsh_topk (which expands it to rows) and
    ann_dedup_topk.

    Planes per table: log2(n / 64) clamped to >=4, so the average bucket
    holds ~64 vectors regardless of n and the candidate count stays
    ~64*T per query vector instead of growing linearly with n. Multiprobe
    visits (1 + PROBE_BITS) buckets per table, so buckets are sized
    smaller by the same factor."""
    bits = max(4, int(math.ceil(math.log2(max(n, 2) / (64.0 / (1 + PROBE_BITS))))))
    # ONE posexplode of the probe list: position < N_TABLES marks the
    # home-bucket (index-side) entries, a flag, not a second explode.
    # Within a table the home bucket and its single-bit flips are pairwise
    # distinct and tables carry distinct key prefixes, so each vector
    # lands in a bkt group at most once — in-group pairs are unique by
    # construction. posexplode_outer, not posexplode: the plain generator
    # adds an implicit size>0 filter whose condition re-evaluates the
    # hyperplane pandas UDF (measured: 2 ArrowEvalPython nodes, the
    # matmul paid twice per row). The probe array is never empty, so the
    # outer variant is row-identical and runs the UDF once.
    entries = with_lsh_buckets(groups, dim, bits, vec_col, seed).select(
        "vec_id", F.col(vec_col).alias("v"),
        F.posexplode_outer("probe_buckets").alias("pos", "bkt")).select(
        "vec_id", "v", "bkt", (F.col("pos") < N_TABLES).alias("is_b"))
    # SUPER-GROUPS: grouping directly on bkt makes one pandas call per
    # bucket, and pandas per-group overhead (~0.1-0.3 ms) dominates at
    # scale. Hash buckets into n_super coalesced groups sized for ~2^16
    # entries each (~17 MB of vectors per group task); the kernel
    # enumerates pairs per bucket inside. Floor 256 (round 7, was 64):
    # with few groups a handful of hot buckets hash together into one
    # jumbo task and the stage rides on that straggler (measured on the
    # bench corpus: floor 64 gave 2.1-10.7 s swings, floor 256 a stable
    # ~1.7 s). The per-vec top-k is grouping-invariant, so results are
    # identical. A pair colliding in several buckets may repeat across
    # groups with an identical cosine; _ranked drops the repeats.
    n_entries = n * (1 + PROBE_BITS) * N_TABLES
    n_super = int(max(256, min(1 << 20, n_entries >> 16)))
    return _rerank(entries.withColumn(
        "sg", F.pmod(F.xxhash64("bkt"), F.lit(n_super))), "sg", k)


def _ranked(j: DataFrame, k: int) -> DataFrame:
    """Top-k per vec_id by (cosine desc, nbr_id asc). Repeats of a pair
    (the LSH stream's cross-group duplicates) carry identical cosines, so
    they sort adjacently and a lag(nbr_id) check drops them inside the
    ranking window, with no exchange of their own (guide §2.4)."""
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("nbr_id").asc())
    j = (j.withColumn("_dup", F.coalesce(
            F.lag("nbr_id").over(w) == F.col("nbr_id"), F.lit(False)))
         .where(~F.col("_dup")).drop("_dup"))
    return (j.withColumn("sim_rank", F.row_number().over(w))
             .where(F.col("sim_rank") <= k)
             .select(F.col("vec_id").cast("bigint"), F.col("nbr_id").cast("bigint"),
                     "cosine", "sim_rank"))
