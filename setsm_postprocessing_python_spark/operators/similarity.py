"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k. The small side (query set) is
  broadcast; the dot product stays JVM-side (zip_with + aggregate over
  doubles) so results are deterministic and oracle-checkable. For
  all-pairs on one table this is the O(n^2) baseline — correct at any
  scale but quadratic; use the LSH path beyond ~10^5 vectors.
- lsh_topk: random-hyperplane LSH bucketing (deterministic planes from a
  seeded RNG, broadcast as a numpy matrix): vectors are bucketed by sign
  signature, candidates searched within bucket (+ multi-probe neighbor
  buckets), exact cosine re-rank. Sub-quadratic: cost ~ n * bucket_size.
  The numpy matmul runs in an Arrow-batched pandas UDF (vectorized,
  no per-row Python).
- embedding_near_dup: pairs above a cosine threshold (near-duplicate
  detection for training data) via the same machinery.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import LongType

from ..session import cached


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


def embedding_near_dup(df: DataFrame, threshold: float = 0.9,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       method: str = "brute", dim: int | None = None,
                       n_hint: int | None = None, seed: int = 42) -> DataFrame:
    """Near-duplicate pairs (a < b) with cosine >= threshold.

    method='brute': exact O(n^2) broadcast crossJoin — the bounded-n
    oracle baseline (JVM zip_with expression, bit-matches the DuckDB
    formulation). method='lsh': the scale path — candidate pairs from the
    multi-table multiprobe LSH machinery (lsh_candidate_cosines, per-
    bucket cogrouped re-rank), orientation-normalized to a < b and
    thresholded. Approximate (recall-gated in tests on clustered
    vectors); cosine values for pairs found are exact and identical to
    the brute path up to float64 expression order (the LSH path computes
    einsum on float64, the brute path the sequential-fold JVM expression
    — round before hashing across the two). Requires dim for the
    hyperplanes; pass n_hint (table stats) to skip the sizing count."""
    if method == "lsh":
        assert dim is not None, "method='lsh' needs the embedding dim"
        cands = lsh_candidate_cosines(df, dim, id_col=id_col,
                                      vec_col=vec_col, seed=seed,
                                      n_hint=n_hint)
        sym = cands.select(
            F.least("vec_id", "nbr_id").alias("id_a"),
            F.greatest("vec_id", "nbr_id").alias("id_b"),
            "cosine").distinct()
        return (sym.where(F.col("cosine") >= threshold)
                   .select(F.col("id_a").cast("bigint"),
                           F.col("id_b").cast("bigint"), "cosine"))
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    j = a.crossJoin(F.broadcast(b)).where(F.col("id_a") < F.col("id_b"))
    j = j.withColumn("cosine", F.expr(_cos_expr("va", "vb")))
    return (j.where(F.col("cosine") >= threshold)
             .select(F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"),
                     "cosine"))


def ann_dedup_topk(df: DataFrame, dim: int, k: int = 3,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   seed: int = 42) -> DataFrame:
    """The production ANN composition: EXACT-DUP PRE-COLLAPSE, then LSH
    top-k over the distinct vectors only, group sizes re-attached — the
    similarity analogue of dedup.near_dup_pipeline (reference analogue:
    redundancy gates skip known-covered work before expensive steps,
    lib/scenes2strips.py:271-274).

    Why: on duplicate-heavy corpora (mirrors/reposts; the 8x-replicated
    bench input) every LSH bucket holds all copies of each duplicated
    vector, so raw candidate volume grows with dup_group_size^2 while the
    extra pairs carry zero information (cosine 1.0 against copies).
    Collapsing first makes candidate volume a function of DISTINCT
    content. Output is at representative grain (vec_id = min id of each
    identical-vector group) with size_a/size_b attached — the searchable
    index entry plus its multiplicity, which is what a dedup-aware
    retrieval pipeline stores.

    Sizing: planes_per_table is derived from the DISTINCT-group count,
    not the raw row count — at high duplication a raw n_hint over-sizes
    the plane count by ~log2(n_raw/n_distinct) bits, shrinking buckets
    and costing recall headroom. The collapse groupBy is persisted, so
    the distinct count is one cheap action over work the pipeline reuses
    anyway (reps + both size joins read the same cached table)."""
    groups = cached(df.groupBy(vec_col)
                    .agg(F.min(F.col(id_col).cast("bigint")).alias("vec_id"),
                         F.count(F.lit(1)).alias("group_size")))
    n_distinct = groups.count()
    reps = groups.select("vec_id", vec_col)
    # dup_guard=None: reps are distinct BY CONSTRUCTION (one row per
    # identical-vector group), so the duplication probe would be a
    # wasted aggregate job here
    topk = lsh_topk(reps, dim, k=k, id_col="vec_id", vec_col=vec_col,
                    seed=seed, n_hint=n_distinct, dup_guard=None)
    sizes = groups.select("vec_id", "group_size")
    return (topk
            .join(sizes.withColumnRenamed("group_size", "size_a"), "vec_id")
            .join(sizes.select(F.col("vec_id").alias("nbr_id"),
                               F.col("group_size").alias("size_b")),
                  "nbr_id")
            .select("vec_id", "nbr_id", "cosine", "sim_rank",
                    "size_a", "size_b"))


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path)
# ---------------------------------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_planes)).astype(np.float64)


def _cogroup_pair_cos(pdf: pd.DataFrame) -> pd.DataFrame:
    """Shared cogrouped re-rank kernel (LSH buckets and IVF lists): all
    rows of one candidate group, columns (vec_id, v, is_b). Emits the
    a-probe x b-home pair cosines (chunked gather + float64 einsum — the
    same expression the pair-join path computes, bit-identical). A jumbo
    group costs more chunks, never more than ~1M pair rows of memory."""
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    ib = np.flatnonzero(pdf["is_b"].to_numpy())
    ia = np.arange(len(ids))
    out_id, out_nbr, out_cos = [], [], []
    chunk = max(1, (1 << 20) // max(len(ib), 1))
    for lo in range(0, len(ia), chunk):
        pa = np.repeat(ia[lo:lo + chunk], len(ib))
        pb = np.tile(ib, min(chunk, len(ia) - lo))
        keep = ids[pa] != ids[pb]
        pa, pb = pa[keep], pb[keep]
        if not len(pa):
            continue
        ma, mb = mat[pa], mat[pb]
        dots = np.einsum("ij,ij->i", ma, mb)
        na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
        nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
        out_id.append(ids[pa])
        out_nbr.append(ids[pb])
        out_cos.append(dots / (na * nb))
    if not out_id:
        return pd.DataFrame({"vec_id": pd.Series([], dtype="int64"),
                             "nbr_id": pd.Series([], dtype="int64"),
                             "cosine": pd.Series([], dtype="float64")})
    return pd.DataFrame({
        "vec_id": np.concatenate(out_id).astype(np.int64),
        "nbr_id": np.concatenate(out_nbr).astype(np.int64),
        "cosine": np.concatenate(out_cos)})


def _super_group_pair_cos(pdf: pd.DataFrame) -> pd.DataFrame:
    """Super-group kernel: one pandas invocation handles MANY
    hash-coalesced buckets. Fully vectorized (round 7 — the previous
    shape ran a pandas sub-frame + _cogroup_pair_cos per bucket, i.e.
    hundreds of tiny stack/einsum calls per task, and recomputed each
    row's norm once PER PAIR): stack the group's vectors once, take each
    row's norm once, enumerate the per-bucket (a-probe x b-home) pair
    index arrays over a stable bucket sort, then run ONE chunked float64
    gather + einsum over the concatenated pairs. The dot products are the
    same einsum over the same float64 rows and the norm of a row does not
    depend on which gather it sits in, so cosines are bit-identical to
    the per-bucket kernel (golden-pinned by q_ann_lsh/q_ann_dedup)."""
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
    return pd.DataFrame({
        "vec_id": ids[pa].astype(np.int64),
        "nbr_id": ids[pb].astype(np.int64),
        "cosine": np.concatenate(cos_parts)})


def _cogroup_topk(k: int):
    """Per-group kernel with the in-UDF partial top-k (IVF lists: one
    group = one list, pairs already unique within it — no dedup needed;
    cross-list duplicates fall to the downstream distinct)."""
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out = _cogroup_pair_cos(pdf)
        if not len(out):
            return out
        order = np.lexsort((out["nbr_id"].to_numpy(),
                            -out["cosine"].to_numpy(),
                            out["vec_id"].to_numpy()))
        out = out.iloc[order]
        return out.groupby("vec_id", sort=False).head(k)
    return fn


def _super_group_topk(k: int):
    """Super-group kernel with an IN-UDF partial top-k: after the
    per-bucket pair cosines, keep each vec's k best candidates WITHIN the
    group (dedup + lexsort by (vec, -cosine, nbr) — the same total order
    the final window ranks by). The global top-k per vec is a subset of
    the union of per-group top-ks (a pair's in-group rank among its vec's
    candidates is <= its global rank), so the final result is identical —
    but the shuffle out of the re-rank carries <= k rows per (vec, group)
    instead of the full ~64*T-per-vec candidate stream. The pre-reduction
    sort costs O(pairs log pairs) IN the task, where the pairs already
    live; it replaces shuffling + distinct-ing them."""
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out = _super_group_pair_cos(pdf)
        if not len(out):
            return out
        out = out.drop_duplicates(["vec_id", "nbr_id"])
        order = np.lexsort((out["nbr_id"].to_numpy(),
                            -out["cosine"].to_numpy(),
                            out["vec_id"].to_numpy()))
        out = out.iloc[order]
        return out.groupby("vec_id", sort=False).head(k)
    return fn


def with_lsh_buckets(df: DataFrame, dim: int, n_tables: int = 8,
                     planes_per_table: int = 4, vec_col: str = "embedding",
                     seed: int = 42, probe_bits: int = 0,
                     out: str = "buckets") -> DataFrame:
    """Standard multi-table random-hyperplane LSH: n_tables independent
    signatures of planes_per_table sign bits each. Adds `out`: array of
    (table << 32 | signature) keys. One batched numpy matmul per Arrow
    batch computes all tables at once.

    probe_bits > 0 enables MULTIPROBE on this side: besides the home
    bucket, emit the probe_bits nearest perturbed buckets per table — the
    perturbations flip the sign bits with the SMALLEST projection margin
    (the classic multi-probe LSH heuristic), which buys recall without
    more tables. Probe the query side only; the index side stays at one
    bucket per table so state does not grow."""
    planes = _hyperplanes(dim, n_tables * planes_per_table, seed)
    from pyspark.sql.types import ArrayType

    @F.pandas_udf(ArrayType(LongType()))
    def buckets_of(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy())                       # (batch, dim)
        proj = mat.astype(np.float64) @ planes             # (batch, T*P)
        signs = (proj > 0).reshape(len(mat), n_tables, planes_per_table)
        weights = (1 << np.arange(planes_per_table)).astype(np.int64)
        sig = signs @ weights                              # (batch, T)
        tbl = np.arange(n_tables, dtype=np.int64) << 32
        keys = tbl | sig                                   # (batch, T)
        if probe_bits:
            margins = np.abs(proj).reshape(len(mat), n_tables,
                                           planes_per_table)
            # per (row, table): indices of the probe_bits lowest margins
            flip = np.argsort(margins, axis=2)[:, :, :probe_bits]
            probes = [keys]
            for j in range(probe_bits):
                probes.append(tbl | (sig ^ (1 << flip[:, :, j])))
            keys = np.concatenate(probes, axis=1)
        return pd.Series(list(keys))

    return df.withColumn(out, buckets_of(F.col(vec_col)))


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
    cosine re-rank runs cogrouped per list on vectors the probe shuffle
    already co-located (shared _cogroup_pair_cos kernel — each vector
    moves once per probe entry, never once per candidate pair). Probing
    >1 list recovers recall lost at list boundaries (the IVF nprobe
    knob). Size n_lists ~ sqrt(n) at scale: per-list work is
    (n*n_probe/n_lists) x (n/n_lists) pairs and list groups are the unit
    of re-rank parallelism."""
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

    from pyspark.sql.types import ArrayType

    @F.pandas_udf(ArrayType(LongType()))
    def probe_lists(v: pd.Series, n: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ cents.T                       # (batch, n_lists)
        order = np.argsort(-sims, axis=1)
        return pd.Series([row[:int(c)].astype(np.int64)
                          for row, c in zip(order, n.to_numpy())])

    # ONE probe-UDF pass: the home list is the first (best) entry of the
    # n_probe output, a position flag, not a second UDF invocation. The
    # exact-cosine re-rank then runs cogrouped PER LIST, where the probe
    # shuffle already co-located the candidate vectors — each vector moves
    # once per probe entry, never once per candidate pair (the same shape
    # as lsh_topk's bucket re-rank; shared _cogroup_pair_cos kernel).
    base = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    entries = base.select(
        "vec_id", "v",
        F.posexplode_outer(probe_lists(F.col("v"), F.lit(n_probe)))
        .alias("pos", "lst")).select(
        "vec_id", "v", "lst", (F.col("pos") == 0).alias("is_b"))
    j = (entries.groupBy("lst")
         .applyInPandas(_cogroup_topk(k),
                        "vec_id bigint, nbr_id bigint, cosine double")
         .distinct())
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("nbr_id").asc())
    return (j.withColumn("sim_rank", F.row_number().over(w))
             .where(F.col("sim_rank") <= k)
             .select(F.col("vec_id").cast("bigint"), F.col("nbr_id").cast("bigint"),
                     "cosine", "sim_rank"))


DUP_GUARD_DEFAULT = 4.0


def lsh_topk(df: DataFrame, dim: int, k: int = 3, n_tables: int = 8,
             planes_per_table: int | None = None, id_col: str = "vec_id",
             vec_col: str = "embedding", seed: int = 42,
             n_hint: int | None = None, probe_bits: int = 2,
             dup_guard: float | None = DUP_GUARD_DEFAULT) -> DataFrame:
    """Approximate top-k: candidates collide in >=1 of n_tables LSH
    tables; exact cosine re-rank within candidates. Collision probability
    for angle theta: 1 - (1 - (1-theta/pi)^P)^T — with T=8, P=4 a
    60-degree neighbor is caught with p ~ 0.8.

    dup_guard (default 4.0): the raw LSH path is QUADRATIC in duplicate-
    group size — every bucket holds all copies of each duplicated vector,
    so candidate pairs grow with dup_group_size^2 while carrying zero
    information (measured: 34.6x wall at 10x data when replication rose
    8x -> 80x; BENCH/SCALE_PROBE.md). Before bucketing, one cheap
    aggregate (count + EXACT count_distinct over xxhash64(vec) — exact so
    the gate is deterministic: approx_count_distinct's ~5% rsd would make
    a near-threshold corpus crash or pass depending on the sketch) probes
    the duplication ratio; above the bound this raises and points the
    caller at ann_dedup_topk — the production composition whose collapse
    makes candidate volume a function of DISTINCT content (measured flat,
    1.1x at 10x data). Pass dup_guard=None ONLY for input that is known
    distinct (ann_dedup_topk's representatives) or for the deliberate
    bounded-duplication oracle/bench role. The probe's exact count also
    serves as n_hint, so the guarded path costs no extra job when n_hint
    was not supplied.

    Re-rank: cosine is computed PER BUCKET, where the
    candidate vectors are already co-located by the bucket shuffle — one
    applyInPandas over bucket groups gathers the (a-probe x b-home) pair
    matrix and runs the batched einsum in-group, emitting the NARROW
    (vec_id, nbr_id, cosine) stream. Each vector moves once per probe
    entry (~(1+probe_bits)*T rows of 256 B), never once per candidate
    pair — on the 16k-vector bench stage that is ~100 MB shuffled vs
    ~4 GB for the per-pair re-attach path (measured: re-attach joins
    34.6 s + pair-UDF 23 s -> bucket re-rank runs the same FLOPs on
    co-located data). Cross-table duplicate pairs are removed inside the
    ranking window (cosine is bit-deterministic per pair — same float64
    gather + einsum — so duplicates sort adjacently and a lag(nbr_id)
    check drops them without a dedicated distinct exchange). No
    broadcast, no driver collect: the shape holds
    at any n. Hot-bucket skew is bounded by the planes_per_table sizing
    below; in-UDF pair enumeration is chunked so a jumbo bucket degrades
    to more chunks, not more memory.

    planes_per_table defaults to log2(n / 64) clamped to >=4: average
    bucket size ~64 regardless of n, so candidate count stays ~64*T per
    query vector instead of growing linearly with n. Pass n_hint (table
    stats / parquet footer row count — e.g. pyarrow metadata.num_rows, or
    the Iceberg snapshot summary at scale) to avoid the sizing count job;
    the count fallback prunes to the id column only."""
    if dup_guard is not None:
        stats = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.xxhash64(F.col(vec_col))).alias("nd"),
        ).first()
        ratio = stats["n"] / max(stats["nd"], 1)
        if ratio > dup_guard:
            raise ValueError(
                f"lsh_topk: input duplication ratio {ratio:.1f} exceeds "
                f"dup_guard={dup_guard} ({stats['n']} rows, "
                f"{stats['nd']} distinct vectors). Raw LSH candidate "
                "volume grows with dup_group_size^2 (measured 34.6x wall "
                "at 10x data); use ann_dedup_topk (exact-dup collapse -> "
                "LSH over distinct vectors, measured flat), or pass "
                "dup_guard=None to run the raw path deliberately.")
        if n_hint is None:
            n_hint = stats["n"]
    j = lsh_candidate_cosines(df, dim, n_tables, planes_per_table, id_col,
                              vec_col, seed, n_hint, probe_bits,
                              group_topk=k)
    # cross-group duplicate pairs are removed INSIDE the ranking window
    # (round 7): cosine is a deterministic function of the id pair, so
    # duplicates of a pair sort adjacently under (cosine DESC, nbr_id)
    # and a lag(nbr_id) comparison drops them — one Exchange + Sort
    # carries dedup AND rank, where the former standalone .distinct()
    # paid its own full exchange of the candidate stream before the
    # window's (guide §2.4: two operations keyed compatibly share one
    # exchange).
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("nbr_id").asc())
    j = (j.withColumn("_dup", F.coalesce(
            F.lag("nbr_id").over(w) == F.col("nbr_id"), F.lit(False)))
         .where(~F.col("_dup")).drop("_dup"))
    return (j.withColumn("sim_rank", F.row_number().over(w))
             .where(F.col("sim_rank") <= k)
             .select(F.col("vec_id").cast("bigint"), F.col("nbr_id").cast("bigint"),
                     "cosine", "sim_rank"))


def lsh_candidate_cosines(df: DataFrame, dim: int, n_tables: int = 8,
                          planes_per_table: int | None = None,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          seed: int = 42, n_hint: int | None = None,
                          probe_bits: int = 2,
                          group_topk: int | None = None) -> DataFrame:
    """The LSH candidate stream shared by lsh_topk (-> window top-k) and
    embedding_near_dup(method='lsh') (-> symmetric threshold filter):
    (vec_id, nbr_id, cosine) for every a-probe x b-home bucket collision,
    cosine exact (float64 gather + einsum). A pair colliding in several
    groups may appear multiple times WITH IDENTICAL cosine — consumers
    dedup inside a shuffle they already pay (see lsh_topk /
    embedding_near_dup). Directed: vec_id's probe buckets against
    nbr_id's home buckets.

    group_topk (top-k callers only — NEVER the threshold path, which
    needs EVERY above-threshold pair): keep each vec's k best candidates
    per super group inside the re-rank UDF, shrinking the post-re-rank
    shuffle from the full candidate stream to <= k rows per (vec, group);
    result-identical for the final per-vec top-k (see _super_group_topk)."""
    n = n_hint
    if planes_per_table is None:
        import math

        if n is None:
            n = df.select(id_col).count()
        # multiprobe visits ~(1 + probe_bits) buckets per table, so size
        # buckets smaller by the same factor — candidate volume stays
        # ~64*T per query while multiprobe recovers the recall
        target = 64.0 / (1 + min(probe_bits, 3))
        planes_per_table = max(4, int(math.ceil(math.log2(max(n, 2) / target))))
    # query side multiprobes (home + lowest-margin bit flips); index side
    # keeps one bucket per table — recall rises without growing the index.
    # ONE hyperplane-matmul UDF pass: the multiprobe output's first
    # n_tables entries ARE the home buckets (flagged below).
    base = with_lsh_buckets(df, dim, n_tables, planes_per_table, vec_col,
                            seed, probe_bits=min(probe_bits, planes_per_table),
                            out="probe_buckets")
    # ONE posexplode of the probe list: position < n_tables marks the
    # home-bucket (index-side) entries — home buckets are the first
    # n_tables entries of the multiprobe output, so the index side is
    # a flag, not a second explode. Within a table the home bucket and
    # its single-bit flips are pairwise distinct and tables carry
    # distinct key prefixes, so each vector lands in a bkt group at
    # most once — in-group pairs are unique by construction.
    # posexplode_outer, not posexplode: the plain generator adds an
    # implicit size>0 filter whose condition re-evaluates the
    # hyperplane pandas UDF (measured: 2 ArrowEvalPython nodes, the
    # matmul paid twice per row). The probe array is never empty by
    # construction, so the outer variant is row-identical and runs
    # the UDF once.
    entries = base.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
        F.posexplode_outer("probe_buckets").alias("pos", "bkt")).select(
        "vec_id", "v", "bkt", (F.col("pos") < n_tables).alias("is_b"))
    # SUPER-GROUPS: grouping directly on bkt makes one pandas call
    # per bucket — with ~21-entry buckets that is n*T/21 groups, and
    # pandas per-group overhead (~0.1-0.3 ms) dominates at scale
    # (millions of groups for 10^8+ vectors). Instead hash buckets
    # into n_super coalesced groups sized for ~2^16 entries each
    # (~17 MB of vectors per group task) and run the per-bucket pair
    # kernel via an in-UDF groupby — same pairs, same cosines, ~32x
    # fewer pandas invocations here. Derived from n (known: sizing
    # already needed it), so no extra job.
    # floor 256 (round 7, was 64): with few groups a handful of hot
    # buckets hash together into one jumbo kernel task and the stage
    # rides on that straggler (measured on the bench corpus: floor 64
    # gave 2.1-10.7 s swings, floor 256 a stable ~1.7 s — §2.6 of the
    # optimization guide). At scale the n_entries>>16 term dominates
    # and the floor is inert; the per-vec top-k is grouping-invariant
    # (see _super_group_topk), so results are identical.
    if n is not None:
        n_entries = n * (1 + min(probe_bits, planes_per_table)) * n_tables
        n_super = int(max(256, min(1 << 20, n_entries >> 16)))
    else:  # explicit planes, no n_hint: skip the sizing job entirely
        n_super = 4096
    kernel = (_super_group_topk(group_topk) if group_topk
              else _super_group_pair_cos)
    # NB: the stream may carry CROSS-group duplicates of a pair
    # (identical cosine — the kernel is deterministic); consumers
    # dedup where they already shuffle (lsh_topk inside its ranking
    # window, embedding_near_dup in its orientation distinct) instead
    # of paying a dedicated distinct exchange here (round 7)
    return (entries.withColumn(
                "sg", F.pmod(F.xxhash64("bkt"), F.lit(n_super)))
            .groupBy("sg")
            .applyInPandas(kernel,
                           "vec_id bigint, nbr_id bigint, cosine double"))
