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
  The numpy matmul runs in an Arrow UDF over a zero-copy view of the
  vector buffer (vectorized, no per-row Python). Identical vectors are
  collapsed first and the result expanded to rows from the collapse's
  id lists, so duplication costs linearly.
- ann_dedup_topk: the same search answered at representative grain,
  with group sizes.
- ivf_topk: k-means coarse-quantizer lists with nprobe search.

Both candidate generators (LSH buckets, IVF lists) feed the one exact
re-rank (_rerank: the entries hash-partitioned by bucket, one float64
einsum kernel call per partition through mapInArrow, with an in-kernel
partial top-k) and the one ranking (_ranked).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import ArrayType, LongType

from ..session import cached
from .dedup import collapse_exact


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
    return (topk.where(F.col("sim_rank") > 0)
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


def _matrix(v: pa.Array) -> np.ndarray:
    """Zero-copy (n, dim) view of an Arrow list<float> column."""
    return v.flatten().to_numpy().reshape(len(v), -1)


def _lists(m: np.ndarray) -> pa.Array:
    """An (n, w) int64 matrix as an Arrow list<int64> column."""
    return pa.ListArray.from_arrays(
        np.arange(0, m.size + 1, m.shape[1], dtype=np.int32), m.reshape(-1))


def _new_run(*keys: np.ndarray) -> np.ndarray:
    """True where a row's keys differ from the previous row's."""
    new = np.ones(len(keys[0]), bool)
    new[1:] = np.any([c[1:] != c[:-1] for c in keys], axis=0)
    return new


def _partition_topk(k: int):
    """The one exact re-rank kernel, once per partition of candidate
    entries (vec_id, v, bkt, is_b; `bkt` an LSH bucket or IVF list, `is_b`
    a home, index-side, entry): every bucket's (entry x home entry) pairs,
    enumerated over a stable bucket sort, scored by ONE chunked float64
    gather + einsum with each entry's norm taken once. A row's dot product
    does not depend on its gather, so the cosines are bit-identical to a
    per-pair kernel (golden-pinned by q_ann_lsh/q_ann_dedup/q_ann_ivf).

    In-kernel partial top-k: each vec keeps its k best candidates by
    (vec, -cosine, nbr), _ranked's total order. A pair's rank in one
    partition is <= its global rank, so the result is the same under any
    partitioning. Each home vector also emits its self row (nbr_id ==
    vec_id at its self-cosine, the same einsum), which no top-k cuts."""
    def fn(batches):
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        bkt = t["bkt"].to_numpy()
        order = np.argsort(bkt, kind="stable")
        bkt = bkt[order]
        ids = t["vec_id"].to_numpy()[order]
        home = np.flatnonzero(t["is_b"].to_numpy()[order])
        mat = _matrix(t["v"].combine_chunks())[order].astype(np.float64)
        sq = np.einsum("ij,ij->i", mat, mat)
        norms = np.sqrt(sq)
        # every (entry, home entry) pair of a bucket, vectorised: home
        # entry h meets the n[h] entries from its bucket's start s[h]
        starts = np.flatnonzero(_new_run(bkt))
        sizes = np.diff(np.r_[starts, len(bkt)])
        of = np.repeat(np.arange(len(starts)), sizes)[home]
        s, n = starts[of], sizes[of]
        ib = np.repeat(home, n)
        ia = np.arange(len(ib)) + np.repeat(s - (np.cumsum(n) - n), n)
        keep = ids[ia] != ids[ib]
        ia, ib = ia[keep], ib[keep]
        cos = np.empty(len(ia))
        chunk = 1 << 13  # bounds each gathered pair matrix to 8 MB
        for lo in range(0, len(ia), chunk):
            ca, cb = ia[lo:lo + chunk], ib[lo:lo + chunk]
            cos[lo:lo + chunk] = (np.einsum("ij,ij->i", mat[ca], mat[cb])
                                  / (norms[ca] * norms[cb]))
        vec, nbr = ids[ia], ids[ib]
        o = np.lexsort((nbr, -cos, vec))
        vec, nbr, cos = vec[o], nbr[o], cos[o]
        new = _new_run(vec, nbr)  # drop repeats of a pair
        vec, nbr, cos = vec[new], nbr[new], cos[new]
        at = np.arange(len(vec))
        top = at - np.maximum.accumulate(np.where(_new_run(vec), at, 0)) < k
        own = home[np.unique(ids[home], return_index=True)[1]]
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.r_[ids[own], vec[top]], pa.int64()),
             pa.array(np.r_[ids[own], nbr[top]], pa.int64()),
             pa.array(np.r_[sq[own] / (norms[own] * norms[own]), cos[top]])],
            names=["vec_id", "nbr_id", "cosine"])
    return fn


def _rerank(entries: DataFrame, k: int) -> DataFrame:
    """Exact re-rank of candidate entries (vec_id, v, bkt, is_b), ranked:
    each vector's self row at sim_rank 0, its top-k at 1..k. A bucket is
    never split by the bkt hash partitioning (AQE coalesces whole
    partitions); a vector moves once per entry, not once per pair."""
    return _ranked(entries.repartition("bkt").mapInArrow(
        _partition_topk(k), "vec_id bigint, nbr_id bigint, cosine double"), k)


def with_lsh_buckets(df: DataFrame, dim: int, bits: int,
                     vec_col: str = "embedding", seed: int = 42) -> DataFrame:
    """Multi-table random-hyperplane LSH with query-side multiprobe: adds
    `probe_buckets`, an array of (table << 32 | signature) keys. The first
    N_TABLES entries are the home buckets (one per table, `bits` sign
    bits each); then, per table, the PROBE_BITS perturbed buckets that
    flip the sign bits with the SMALLEST projection margin (the classic
    multi-probe heuristic), which buys recall without more tables. One
    batched numpy matmul per Arrow batch computes all tables at once."""
    planes = np.random.default_rng(seed).standard_normal((dim, N_TABLES * bits))

    @F.arrow_udf(ArrayType(LongType()))
    def buckets_of(v: pa.Array) -> pa.Array:
        mat = _matrix(v)                                   # (batch, dim)
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
        return _lists(np.concatenate(probes, axis=1))

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
    cosine re-rank is the one LSH also runs (the list id is the bucket).
    Probing >1 list recovers recall lost at list boundaries (the IVF
    nprobe knob). Size n_lists ~ sqrt(n) at scale: per-list work is
    (n*n_probe/n_lists) x (n/n_lists) pairs. A pair (a, b) meets only in
    b's home list, so the stream carries no repeats."""
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

    @F.arrow_udf(ArrayType(LongType()))
    def probe_lists(v: pa.Array) -> pa.Array:
        mat = _matrix(v).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ cents.T                       # (batch, n_lists)
        return _lists(np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int64))

    # ONE probe-UDF pass: the home list is the first (best) entry of the
    # n_probe output, a position flag, not a second UDF invocation.
    base = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    entries = base.select(
        "vec_id", "v",
        F.posexplode_outer(probe_lists(F.col("v")))
        .alias("pos", "bkt")).select(
        "vec_id", "v", "bkt", (F.col("pos") == 0).alias("is_b"))
    return _rerank(entries, k).where(F.col("sim_rank") > 0)


def lsh_topk(df: DataFrame, dim: int, k: int = 3, id_col: str = "vec_id",
             vec_col: str = "embedding", seed: int = 42,
             n_hint: int | None = None) -> DataFrame:
    """Approximate per-row top-k: candidates collide in >=1 of N_TABLES
    LSH tables; exact cosine re-rank within candidates. Collision
    probability for angle theta: 1 - (1 - (1-theta/pi)^P)^T — with T=8,
    P=4 a 60-degree neighbor is caught with p ~ 0.8. Ids must be unique
    per vector (an id bound to two vectors raises); a repeated row (same
    id, same vector) counts once.

    Collapse first, expand to rows: identical vectors share every bucket,
    so a raw search pays dup_group_size^2 uninformative pairs (34.6x wall
    at 10x data, 8x -> 80x replication; BENCH/SCALE_PROBE.md).
    - One aggregate collapses identical vectors and keeps each group's
      sorted ids; the head (min id) is the representative. The rep-grain
      top-k runs over the representatives, planes sized from the RAW row
      count, so a row's candidate set (its group's) is the raw path's.
    - Each row, exploded from its group's id list, ranks its group's
      other members at the group's self-cosine (the re-rank's rank-0 row)
      and the members of its group's top-k neighbour groups, each a slice
      of the k+1 smallest ids (a row's top-k from one group lies among
      them: the expansion is linear in rows). A group ranked ahead of H
      puts its representative ahead of every member of H, so the result
      equals the raw row-level top-k bit for bit.

    Pass n_hint (table stats / parquet footer row count) to avoid the
    sizing count job."""
    if n_hint is None:
        n_hint = df.select(id_col).count()
    # the collapse keeps each group's ids, sorted: the head is the
    # representative (the min id), the list is what the expansion reads
    groups = (df.select(F.col(id_col).cast("bigint").alias("vec_id"), vec_col)
              .groupBy(vec_col)
              .agg(F.array_sort(F.collect_list("vec_id")).alias("ids"))
              .select(vec_col, "ids", F.get("ids", 0).alias("vec_id")))
    # (rep_id, nbr_rep, cosine): the group itself and its top-k neighbours
    cand_groups = _rep_topk(groups, dim, k, n_hint, vec_col, seed).select(
        F.col("vec_id").alias("rep_id"), F.col("nbr_id").alias("nbr_rep"),
        "cosine")
    # _grp tells two groups apart even if they share a min id
    members = groups.select(F.explode("ids").alias("vec_id"),
                            F.col("vec_id").alias("rep_id"),
                            F.xxhash64(vec_col).alias("_grp"))
    smallest = groups.select(F.col("vec_id").alias("nbr_rep"),
                             F.explode(F.slice("ids", 1, k + 1))
                             .alias("nbr_id"))
    j = (members.join(cand_groups, "rep_id").join(smallest, "nbr_rep")
         .where(F.col("vec_id") != F.col("nbr_id")))
    return _ranked(j, k, group="_grp")


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
    # home-bucket entries. A vector lands in a bucket at most once (a home
    # bucket and its single-bit flips differ; tables differ in the key
    # prefix). posexplode_outer: the plain generator's implicit size>0
    # filter re-evaluates the hyperplane UDF (2 ArrowEvalPython nodes);
    # the probe array is never empty, so the rows are the same.
    entries = with_lsh_buckets(groups, dim, bits, vec_col, seed).select(
        "vec_id", F.col(vec_col).alias("v"),
        F.posexplode_outer("probe_buckets").alias("pos", "bkt")).select(
        "vec_id", "v", "bkt", (F.col("pos") < N_TABLES).alias("is_b"))
    return _rerank(entries, k)


def _ranked(j: DataFrame, k: int, group: str | None = None) -> DataFrame:
    """Top-k per vec_id by (self row first, cosine desc, nbr_id asc): the
    self row (nbr_id == vec_id, from the re-rank) ranks 0, neighbours
    1..k. Repeats of a pair carry identical cosines, so they sort
    adjacently and a lag check drops them, in the ranking window's own
    exchange (guide §2.4). One nbr_id at two cosines, or rows from two
    `group` values (constant per identical-vector group), mean one id
    names two vectors: raise_error, checked in the same window."""
    self_row = F.col("nbr_id") == F.col("vec_id")
    w = Window.partitionBy("vec_id").orderBy(
        self_row.desc(), F.col("cosine").desc(), F.col("nbr_id").asc())
    whole = w.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    clash = (F.size(F.collect_set("nbr_id").over(whole))
             != F.size(F.collect_set(F.struct("nbr_id", "cosine"))
                       .over(whole)))
    if group:
        clash = clash | (F.min(group).over(whole) != F.max(group).over(whole))
    dup = F.coalesce(F.lag("nbr_id").over(w) == F.col("nbr_id"), F.lit(False))
    j = (j.withColumn("_dup", F.when(clash, F.raise_error(F.lit(
            "similarity: one vec_id names two different vectors")))
            .otherwise(dup))
         .where(~F.col("_dup")).drop("_dup"))
    rank = F.row_number().over(w) - F.first(self_row).over(w).cast("int")
    return (j.withColumn("sim_rank", rank)
             .where(F.col("sim_rank") <= k)
             .select(F.col("vec_id").cast("bigint"), F.col("nbr_id").cast("bigint"),
                     "cosine", "sim_rank"))
