"""Deduplication family over the documents/pages tables.

Large-scale training-data pipeline operators, all Spark-first:
- exact dedup: collapse_exact, the engine's one exact collapse (hash
  groupBy, one shuffle on the key, map-side combine) and its inverse
  expand,
- n-gram Jaccard: shingle explode -> self-join on shingle -> count algebra
  (|A ∩ B| from the join, |A ∪ B| = |A|+|B|-|A∩B|) — no pairwise text compare,
- MinHash + LSH: shingle -> m permuted min-hashes -> b bands -> bucket join
  (candidate pairs only where a full band collides),
- SimHash: 32-bit sign-of-weighted-sum signature; near-dup candidates via
  the pigeonhole chunk trick (hamming<=3 over 4 chunks => >=1 chunk equal),
  so the join is an equi-join on (chunk_idx, chunk_value), never O(n^2).

Every hash is md5-derived so the DuckDB oracle computes identical values
(sql/dialect.py:hex8_i64). MinHash permutation constants are generated from
a fixed seed and inlined into both dialects.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..session import cached
from ..sql import dialect as D

MERSENNE31 = 2147483647  # 2^31 - 1
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
SHINGLE_N = 3
SIMHASH_BITS = 32
SIMHASH_CHUNKS = 4  # 8 bits each; hamming<=3 -> >=1 equal chunk


def _minhash_params(seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
            for _ in range(N_HASHES)]


MINHASH_PARAMS = _minhash_params()


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------

def shingles_expr() -> str:
    """DuckDB array of the word SHINGLE_N-gram strings of `text`; EMPTY
    for docs shorter than SHINGLE_N tokens (NULL text included). The
    oracle twin of shingle_rows."""
    toks, n = D.tokens_expr(D.DUCKDB), SHINGLE_N
    return (f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1), "
            f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))")


def shingle_rows(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) for every word SHINGLE_N-gram of each doc's `text`,
    duplicates kept; none for shorter docs (NULL text included).

    The text is split once and the n-grams zip n shifted slices of the
    tokens: no lambda, so the projection is codegen'd (the former
    transform(sequence(..), i -> ..) re-split the text per shingle in an
    interpreted function). The size guard is explicit: slice() rejects a
    negative length, and Spark's sequence(1, 0) DESCENDS ([1, 0]), which
    once gave short docs bogus shingles (NULL text then shared one
    all-NULL signature). DuckDB's range(1, 1) is empty, so the guard
    keeps sub-n-token docs equal across dialects."""
    n = SHINGLE_N
    toks = df.select(id_col, F.split("text", " ").alias("_t"))
    width = F.size("_t") - (n - 1)
    grams = F.arrays_zip(*[F.slice("_t", i, width).alias(f"w{i}")
                           for i in range(1, n + 1)])
    return toks.select(id_col, F.inline(F.when(width >= 1, grams))).select(
        id_col, F.concat_ws(" ", *[f"w{i}" for i in range(1, n + 1)])
        .alias("shingle"))


def exploded_shingles(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) distinct pairs. The explode happens AFTER column
    pruning (only text + id read); distinct is one shuffle keyed by
    (id, shingle) with map-side combine."""
    return shingle_rows(df, id_col).distinct()


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def collapse_exact(df: DataFrame, key: str, id_col: str = "doc_id",
                   keep=()) -> DataFrame:
    """The engine's one exact collapse: (key, id_col, *keep, n), one row
    per distinct key — id_col is the group's min id as bigint (the
    representative), each kept column its first() value (keep only
    columns constant within a group) and n the group size. NULL keys
    form one group, as in SQL. Lazy: no job, no persist; a caller that
    reads the result twice caches it itself."""
    return df.groupBy(key).agg(
        F.min(id_col).cast("bigint").alias(id_col),
        *[F.first(c).alias(c) for c in keep],
        F.count(F.lit(1)).alias("n"))


def expand(df: DataFrame, groups: DataFrame, key: str,
           id_col: str = "doc_id") -> DataFrame:
    """Inverse of collapse_exact: each row of `df` joined to its group
    on `key`, with the representative id as `rep_id` and any other group
    column alongside. An inner equi-join (a NULL key matches no group);
    lazy, like collapse_exact."""
    return df.join(groups.withColumnRenamed(id_col, "rep_id"), key)


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text: str = "text") -> DataFrame:
    """Canonical representative per identical text."""
    keyed = df.select(F.md5(text).alias("text_md5"), id_col)
    return collapse_exact(keyed, "text_md5", id_col).select(
        "text_md5", F.col(id_col).alias("keep_id"),
        F.col("n").alias("n_dups"))


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def jaccard_pairs(df: DataFrame, threshold_pct: int = 50,
                  id_col: str = "doc_id",
                  max_df: int | None = None) -> DataFrame:
    """Pairs (a < b) with Jaccard(shingles) >= threshold_pct/100.
    jaccard = inter / (na + nb - inter); comparison kept in integer
    arithmetic (inter * 100 >= thr * union) for exact oracle parity.

    max_df: the 100 TB knob — drop shingles that appear in more than
    max_df documents BEFORE the self-join (stop-shingle filtering).
    A shingle hitting k docs contributes k^2 join rows; web-scale boiler-
    plate shingles ('all rights reserved ...') otherwise dominate the
    shuffle. Sizes (|A|, |B|) are still measured on the UNfiltered shingle
    sets, so the Jaccard denominator is exact and the result is a strict
    SUBSET relation: dropped pairs could only have matched via ubiquitous
    shingles. None = exact all-shingle join (the oracle-checked form)."""
    sh = exploded_shingles(df, id_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    join_sh = sh
    if max_df is not None:
        rare = (sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") <= max_df)
                .select("shingle"))
        join_sh = sh.join(rare, "shingle")
    a = join_sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = join_sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (a.join(b, "shingle").where(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    j = inter.join(sa, "id_a").join(sb, "id_b")
    return (j.where(F.col("inter") * 100 >=
                    F.lit(threshold_pct) * (F.col("na") + F.col("nb") - F.col("inter")))
             .select(F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"),
                     "inter", "na", "nb"))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_wide(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, m0..m15): one row per doc, all permutation minima as columns:
    m_i = min over shingles of (a_i*h + b_i) mod M31, h the md5-derived
    32-bit shingle hash. All 16 minima are parallel MIN aggregates in
    one pass, so only the map-side-combined partials shuffle. a*h stays
    under 2^63: a < 2^31-1, h < 2^32 (guarded by ANSI mode).

    No shingle DISTINCT: min() is duplicate-insensitive, so the multiset
    of shingles gives the identical signature as the set — skipping the
    distinct deletes a whole (id, shingle) shuffle (jaccard keeps its
    distinct because intersection COUNTS are duplicate-sensitive)."""
    sh = shingle_rows(df, id_col).withColumn(
        "h", F.expr(D.hex8_i64("shingle", 1, D.SPARK)))
    return sh.groupBy(id_col).agg(*[
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE31).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)])


def band_signatures(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, band_sig): the LSH banding state of a corpus — N_BANDS
    rows per document, assembled DIRECTLY from the wide per-doc minhash
    row (no long-form shuffle, no collect_list aggregation).

    This is the table an incremental dedup pipeline PERSISTS between
    snapshots: probing a new batch against it costs O(|batch|) signature
    work plus an equi-join — corpus text is never re-read (see
    incremental_lsh_pairs). The signature string is byte-identical to
    the oracle's array_sort(collect_list('idx:min')) form: element order
    within a band is the LEXICOGRAPHIC order of the 'idx:' prefixes, a
    compile-time constant per band. Because every band's signature
    embeds its own hash indexes ('0:..' vs '4:..'), signatures from
    different bands can never collide — band_sig ALONE is a sufficient
    join (and layout-bucketing) key; `band` is kept for bookkeeping."""
    mins = _minhash_wide(df, id_col)
    band_structs = []
    for band in range(N_BANDS):
        # sort by the 'idx:'-prefixed key, exactly what the oracle's
        # array_sort sees — plain key=str would break when an index is a
        # string-prefix of another in the same band (e.g. '1' vs '10')
        idxs = sorted(range(band * ROWS_PER_BAND, (band + 1) * ROWS_PER_BAND),
                      key=lambda i: f"{i}:")
        sig = F.concat_ws(",", *[
            F.concat_ws(":", F.lit(str(i)), F.col(f"m{i}")) for i in idxs])
        band_structs.append(F.struct(F.lit(band).alias("band"),
                                     sig.alias("band_sig")))
    return (mins.select(id_col, F.explode(F.array(*band_structs)).alias("b"))
            .select(F.col(id_col).cast("bigint").alias(id_col),
                    F.col("b.band").alias("band"),
                    F.col("b.band_sig").alias("band_sig")))


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """LSH banding: docs sharing at least one full band of minhashes.
    Band signature = concat of the band's minhashes; candidates = equi-join
    on (band, signature). Output (id_a < id_b, n_shared_bands). The only
    shuffles are the per-doc min-agg and the band equi-join (see
    band_signatures for the signature layout)."""
    return _band_pairs(band_signatures(df, id_col), id_col)


def _band_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """(id_a < id_b, n_shared_bands): the band self-join over a
    band_signatures frame."""
    a = bands.select(F.col(id_col).alias("id_a"), "band", "band_sig")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    return (a.join(b, ["band", "band_sig"]).where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_shared_bands")))


def near_dup_pipeline(df: DataFrame, id_col: str = "doc_id",
                      text: str = "text") -> DataFrame:
    """Production composition: EXACT dedup first, MinHash-LSH on the
    representatives only. At web scale most duplication is byte-identical
    (mirrors, boilerplate reposts); collapsing it first removes the
    quadratic blowup inside LSH buckets (k identical docs share every
    band -> k^2/2 candidate pairs, all with trivially-known similarity).

    Plan shape (round 7): the representatives come from ONE aggregation
    — collapse_exact keyed by md5(text), carrying the group's text —
    instead of re-joining the full corpus against its own groupBy to
    recover the rep rows (that join shuffled the full text column a
    second time; guide §2.3 "aggregate before you shuffle"). Texts
    within a group are byte-identical by key construction, so first()
    is deterministic. The band-signature table is persisted (tiny: 4
    short rows per distinct text) because BOTH sides of the candidate
    self-join read it and no exchange reuse fires across the aliased
    sides — without it the whole shingle+minhash pipeline ran twice.

    Output: (id_a < id_b, n_shared_bands, n_docs_a, n_docs_b) — candidate
    pairs between exact-duplicate GROUPS, weighted by group sizes so
    downstream dedup policies can score by affected document mass."""
    # reps is read three times (signature build + both size joins) and
    # bands twice (the self-join sides) — both are per-distinct-text tiny,
    # so persist them rather than re-running the full-text aggregation /
    # the shingle+minhash pipeline per reference
    reps = cached(collapse_exact(df.withColumn("_md5", F.md5(text)),
                                 "_md5", id_col, keep=[text]).drop("_md5"))
    pairs = _band_pairs(cached(band_signatures(reps, id_col)), id_col)
    sz_a = reps.select(F.col(id_col).alias("id_a"),
                       F.col("n").alias("n_docs_a"))
    sz_b = reps.select(F.col(id_col).alias("id_b"),
                       F.col("n").alias("n_docs_b"))
    return pairs.join(sz_a, "id_a").join(sz_b, "id_b")


# ---------------------------------------------------------------------------
# incremental (snapshot-over-snapshot) dedup
# ---------------------------------------------------------------------------
# The 100 TB production shape: a crawl corpus grows by batches (e.g. one
# Common-Crawl snapshot per month), and each batch must dedup against ALL
# history without re-reading or re-hashing history. The persisted state
# is the band_signatures table, stored bucketed by band_sig
# (ensure_signature_layout) so the corpus side of every probe join is
# Exchange-free, and appended per batch via the same kill-safe
# exactly-once ingest as the pages layout
# (sources/bucketed.ensure_bucketed_ingest; reference analogue: the
# checkfile/`.fin` dedup that keeps re-run batches from redoing finished
# strips, batch_scenes2strips.py:1518-1533). The cost per batch is
# ∝ |batch|.


def incremental_lsh_pairs(batch_sigs: DataFrame, corpus_sigs: DataFrame,
                          id_col: str = "doc_id") -> DataFrame:
    """Candidate near-dup pairs INTRODUCED by a new batch: batch-vs-corpus
    plus batch-vs-batch (corpus-vs-corpus pairs were emitted by earlier
    snapshots by construction). Both inputs are (id, band, band_sig) rows
    (band_signatures). Output (id_a < id_b, n_shared_bands) — exactly the
    subset of lsh_candidate_pairs(corpus ∪ batch) touching >= 1 batch doc
    (pytest-pinned), so running it per batch over a growing corpus yields
    the same pair set as ever re-running the full join.

    Scale shape: the join key is band_sig ALONE (sufficient — the band's
    hash indexes are embedded in the string). Small batches broadcast
    against the corpus scan (corpus-side shuffle-free in ANY layout —
    measured neutral-to-slightly-negative for the bucketed table,
    BENCH/INCREMENTAL.md flat A/B); the bucketed layout is the
    guarantee for batches too large to broadcast (backfills,
    snapshot-vs-snapshot joins), where it keeps the corpus side
    Exchange-free under the shuffle join (plan-pinned).

    Overlap safety (the probe-after-crash replay: a batch whose
    signatures were ALREADY ingested re-probes the table): self-pairs
    are dropped by the id_new != id_old guard, and n_shared_bands counts
    DISTINCT bands — a pair reachable both within-batch and via the
    ingested copies still reports the true band count, never a
    double/triple count (pytest-pinned)."""
    new = batch_sigs.select(F.col(id_col).alias("id_new"), "band",
                            "band_sig")
    old = corpus_sigs.select(F.col(id_col).alias("id_old"), "band_sig")
    cross = (new.join(old, "band_sig")
             .where(F.col("id_new") != F.col("id_old"))
             .select(F.least("id_new", "id_old").alias("id_a"),
                     F.greatest("id_new", "id_old").alias("id_b"),
                     "band"))
    new2 = batch_sigs.select(F.col(id_col).alias("id_new2"), "band_sig")
    within = (new.join(new2, "band_sig")
              .where(F.col("id_new") < F.col("id_new2"))
              .select(F.col("id_new").alias("id_a"),
                      F.col("id_new2").alias("id_b"),
                      "band"))
    return (cross.unionByName(within)
            .groupBy("id_a", "id_b")
            .agg(F.countDistinct("band").alias("n_shared_bands")))


def ensure_signature_layout(spark, path: str, table: str, build,
                            meta: dict, n_buckets: int = 8,
                            id_col: str = "doc_id"):
    """Materialize a corpus's band-signature state table bucketed by
    band_sig (kill-safe, idempotent — sources/bucketed.ensure_bucketed):
    the once-per-snapshot job whose cost every later batch probe
    amortizes. `build()` returns the corpus documents frame; `meta`
    identifies the snapshot. Returns (table_df, did_write)."""
    from ..sources.bucketed import ensure_bucketed

    return ensure_bucketed(
        spark, path, table,
        build=lambda: band_signatures(build(), id_col),
        meta={**meta, **_signature_meta()},
        n_buckets=n_buckets, key="band_sig")


def _signature_meta() -> dict:
    """Every constant that changes signature VALUES, recorded in the
    layout marker: a persisted state table built under different
    constants must read as STALE and be rewritten, not silently joined
    against (3-gram corpus sigs vs 4-gram batch sigs would drop recall
    to ~0 with no error). params_crc folds the seed-derived permutation
    constants, so a seed change invalidates too."""
    import zlib

    return {"op": "minhash_band_sigs", "n_hashes": N_HASHES,
            "n_bands": N_BANDS, "shingle_n": SHINGLE_N,
            "params_crc": zlib.crc32(repr(MINHASH_PARAMS).encode())}


# ---------------------------------------------------------------------------
# dedup resolution: pairs -> components -> keep/drop decisions
# ---------------------------------------------------------------------------


def dedup_decisions(pairs: DataFrame, ids: DataFrame,
                    id_col: str = "doc_id",
                    max_iter: int = 25) -> DataFrame:
    """Resolve a candidate-pair graph into per-doc keep/drop decisions:
    connected components over the (id_a, id_b) edges (the shared
    pointer-jumping HashMin loop, operators/components.cc_from_edges —
    O(log component-diameter) rounds, so near-dup CHAINS a-b-c collapse
    to ONE kept doc even when a~c was never a candidate pair), canonical
    = min id per component. `ids` lists every doc under consideration —
    docs with no pair form singleton components and keep themselves.
    Output (id, canonical_id, keep)."""
    from .components import cc_from_edges

    nodes = ids.select(F.col(id_col).cast("bigint").alias("cell")).distinct()
    fwd = pairs.select(F.col("id_a").alias("cell"),
                       F.col("id_b").alias("nbr_cell"))
    rev = pairs.select(F.col("id_b").alias("cell"),
                       F.col("id_a").alias("nbr_cell"))
    labels = cc_from_edges(nodes, cached(fwd.unionByName(rev)), max_iter)
    return labels.select(
        F.col("cell").alias(id_col),
        F.col("component").alias("canonical_id"),
        (F.col("cell") == F.col("component")).alias("keep"))


def deduplicate(df: DataFrame, id_col: str = "doc_id",
                text: str = "text", max_iter: int = 25,
                min_shared_bands: int = 1) -> DataFrame:
    """End-to-end near-dup removal — the full production composition:
    exact collapse -> LSH over representatives -> component resolution
    -> per-DOCUMENT verdicts. Output one row per input doc:
    (id, canonical_id, keep) where canonical_id is the min doc id of the
    doc's duplicate cluster (exact group unioned with its rep's near-dup
    component) and keep is true for exactly one doc per cluster.
    Filtering the corpus on `keep` yields the deduplicated dataset.

    min_shared_bands is the precision knob: 1 (default) links any band
    collision (recall-leaning, the usual web-dedup posture); raising it
    toward N_BANDS demands near-identical signatures before two docs
    merge, shrinking clusters.

    NULL-text docs are kept as SINGLETONS (unknown content is not "equal"
    to other unknown content, and a null-keyed equi-join would silently
    drop the rows — output is pinned to one row per input doc). Ids must
    cast to bigint losslessly.

    Every step is a bounded equi-join or the log-rounds CC loop — no
    step is quadratic in duplication (the raw-LSH pathology measured in
    BENCH/SCALE_PROBE.md is avoided by construction)."""
    # the NULL-singleton key (a deliberate difference from exact_dedup's
    # SQL GROUP BY semantics, which q_dedup_exact pins against the
    # oracle) is passed AS the key, so the collapse needs no NULL option
    md5e = F.coalesce(
        F.md5(text),
        F.concat(F.lit("__null__:"), F.col(id_col).cast("string")))
    keyed = df.select(F.col(id_col).cast("bigint").alias(id_col),
                      md5e.alias("_md5"), text)
    # read three times: rep docs, the LSH node list and the doc->rep map
    groups = cached(collapse_exact(keyed, "_md5", id_col, keep=[text]))
    pairs = lsh_candidate_pairs(groups, id_col).where(
        F.col("n_shared_bands") >= min_shared_bands)
    dec = dedup_decisions(pairs, groups, id_col, max_iter)
    # doc-level verdict: canonical(doc) = canonical(rep(exact group));
    # keep iff the doc IS that canonical (one per cluster by min-id
    # transitivity: canonical_id is itself a rep, and a rep's group
    # rep_id == its own id)
    rep_dec = dec.select(F.col(id_col).alias("rep_id"), "canonical_id")
    return (expand(keyed.select(id_col, "_md5"),
                   groups.select("_md5", id_col), "_md5", id_col)
            .join(rep_dec, "rep_id")
            .select(id_col, "canonical_id",
                    (F.col(id_col) == F.col("canonical_id")).alias("keep")))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash over tokens (with multiplicity): bit j of the
    signature is 1 iff sum over tokens of (+1 if tokenhash bit j else -1)
    is > 0.

    Single-pass wide aggregation — the same trick as the 16-way minhash
    agg: ONE groupBy over the (id, token) rows with 32 sum expressions
    (one per bit), assembled into the signature JVM-side. The previous
    form exploded every token x 32 bits before aggregating (32x the
    shuffle input and two shuffles); exposed when the merged benched
    fingerprint stage hit 46 s on the 40x-amplified corpus vs ~2 s for
    this form. Same integers either way (sum of +-1 per bit, then
    threshold)."""
    toks = df.select(
        id_col, F.explode(F.expr(D.tokens_expr(D.SPARK))).alias("tok"))
    toks = toks.withColumn("h", F.expr(D.hex8_i64("tok", 1, D.SPARK)))
    return simhash_agg(toks, id_col)


def simhash_agg(toks: DataFrame, key: str, *extra: Column) -> DataFrame:
    """(key, *extra, simhash) from (key, h) token-hash rows: ONE groupBy
    computing the `extra` aggregates and the 32 per-bit +-1 sums, then the
    signature assembled from the sums' signs."""
    sums = toks.groupBy(key).agg(*extra, *[
        F.sum(F.expr(f"CASE WHEN (shiftright(h, {j}) & 1) = 1 "
                     f"THEN 1 ELSE -1 END")).alias(f"s{j}")
        for j in range(SIMHASH_BITS)])
    sig = " + ".join(
        f"CASE WHEN s{j} > 0 THEN shiftleft(cast(1 as bigint), {j}) "
        f"ELSE cast(0 as bigint) END" for j in range(SIMHASH_BITS))
    return sums.select(*sums.columns[:1 + len(extra)],
                       F.expr(sig).cast("bigint").alias("simhash"))


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3,
                       id_col: str = "doc_id") -> DataFrame:
    """Near-dup candidates by pigeonhole: split the 32-bit signature into 4
    8-bit chunks; hamming<=3 implies at least one chunk matches exactly, so
    candidates come from an equi-join on (chunk_idx, chunk_value). Exact
    hamming (bit_count of xor) filters the candidates."""
    sig = simhash(df, id_col)
    chunks = sig.withColumn("ci", F.explode(F.array(*[F.lit(i) for i in range(SIMHASH_CHUNKS)])))
    chunks = chunks.withColumn(
        "cv", F.expr("shiftright(simhash, ci * 8) & 255"))
    a = chunks.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"),
                      "ci", "cv")
    b = chunks.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
                      "ci", "cv")
    cand = (a.join(b, ["ci", "cv"]).where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "sh_a", "sh_b").distinct())
    return (cand.withColumn(
                "hamming",
                F.expr("bit_count(sh_a ^ sh_b)"))
            .where(F.col("hamming") <= max_hamming)
            .select(F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"),
                    "hamming"))
