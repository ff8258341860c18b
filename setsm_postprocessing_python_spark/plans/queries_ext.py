"""Query registry #2: training-data pipeline + strip-assembly queries.

Same twin-implementation contract as plans/queries.py: each Spark
DataFrame query paired with a DuckDB oracle where SQL-expressible;
procedural operators (greedy merge order, iterative coregistration,
LSH ANN) are rows-only checked by the driver and oracle-tested against
pure-numpy implementations in tests/.
"""

from __future__ import annotations

import atexit
import functools
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions import text as T
from ..operators import dedup as DD
from ..operators import merge as M
from ..operators import similarity as SIM
from ..operators.flags import with_flags
from ..session import cached, release_caches  # noqa: F401 (re-export)
from ..sources import pages as P
from ..sql import dialect as D

_DD = D.DUCKDB
M31 = DD.MERSENNE31


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish runs), quality scoring
    (length/diversity/stopword bands), Gopher-style document filters
    (word-count band, mean-word-length band, symbol-ratio cap) and
    language-ID (stopword-profile argmax + char-bigram n-gram heuristic)
    in one oracle-checked output — all pure JVM expressions over the same
    scan (merged with the former q_langid: identical input, identical
    plan shape, one registry slot)."""
    df = T.with_langid_ngram(T.with_langid(T.with_gopher(T.with_quality(
        T.with_token_stats(P.pages(spark, sf_dir))))))
    return df.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                     "n_tokens", "n_unique", "n_bpe", "ttr_x1000",
                     "len_score", "div_score", "sw_score", "quality",
                     "mean_tok_len_x100", "n_symbols", "gopher_ok",
                     "lang_pred", "lang_pred_ngram")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc signature family in one slot: rolling-hash fingerprint +
    32-bit SimHash (merged with the former q_simhash — same scan, same
    per-doc grain; slot freed for q_ann_dedup). q_simhash_pairs keeps the
    pigeonhole pair semantics separately."""
    df = P.pages(spark, sf_dir)
    # identical texts get identical signatures, so compute both over the
    # DISTINCT texts (collapse_exact keyed by md5) and expand back — the
    # q_near_dup pre-collapse trick applied to the signature family.
    # Bit-identical per-doc output (the oracle recomputes per doc);
    # on the 40x-duplicated bench corpus this divides the tokenize +
    # aggregate work by the duplication factor.
    docs = df.select("doc_id", F.md5("text").alias("k"), "text")
    uniq = DD.collapse_exact(docs, "k", keep=["text"])
    # ONE token explode + ONE groupBy computes the rolling-hash
    # fingerprint AND all 32 SimHash bit-sums (guide §2.3/§2.4: the
    # former shape tokenized + exploded + aggregated the distinct texts
    # TWICE — separate fingerprint and simhash subtrees — and joined the
    # two 1:1 results back; no exchange reuse fired, so the whole
    # distinct-text pipeline ran twice). Exact integer arithmetic is
    # unchanged term-for-term, so values are bit-identical.
    m31 = T.MERSENNE31
    powers = ", ".join(str(p) for p in T.FP_BASE_POWERS)
    toks = (uniq.select(
        "k", F.posexplode(F.expr(D.tokens_expr(D.SPARK))).alias("pos", "tok"))
        .withColumn("h", F.expr(D.hex8_i64("tok", 1, D.SPARK))))
    fp_term = (f"(h % {m31}) * element_at(array({powers}), "
               f"cast(pos % 8 + 1 as int)) % {m31}")
    fpsh = DD.simhash_agg(toks, "k", F.expr(
        f"CAST(sum({fp_term}) % {m31} AS BIGINT)").alias("fingerprint"))
    return (DD.expand(docs.select("doc_id", "k"), fpsh, "k")
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "fingerprint", "simhash"))


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input_hint invariant: html -> extract_text is byte-identical to
    the stored text per url. Output carries the md5 of both sides plus the
    equality flag so the oracle check IS the invariant check."""
    from ..functions.text import extract_text

    df = P.pages(spark, sf_dir, with_html=True)
    ext = df.withColumn("extracted", extract_text(F.col("html")))
    return ext.select(
        "url",
        F.md5("extracted").alias("extracted_md5"),
        F.md5("text").alias("text_md5"),
        (F.col("extracted") == F.col("text")).alias("byte_identical"))


def q_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elevation percentile spread per group: p80(z) - p20(z) with the
    adaptive-threshold select (lib/filter_scene.py:1526-1544): spread
    bucketed to the reference's threshold ladder."""
    df = P.geocoded_pages(spark, sf_dir).withColumn("z", F.expr(D.z_expr(D.SPARK)))
    agg = df.groupBy("group_id").agg(
        F.expr("percentile(z, 0.8) - percentile(z, 0.2)").alias("spread"))
    thresh = F.expr(
        "CASE WHEN spread < 40 THEN 10.5 WHEN spread < 50 THEN 15.0 "
        "WHEN spread < 75 THEN 19.0 WHEN spread < 90 THEN 27.0 "
        "ELSE 50.0 END")
    return agg.select("group_id", F.round("spread", 6).alias("spread"),
                      thresh.alias("stdev_thresh"))


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.jaccard_pairs(P.pages(spark, sf_dir), threshold_pct=50)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.lsh_candidate_pairs(P.pages(spark, sf_dir))


def q_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup composition: exact-dup pre-collapse, then
    MinHash-LSH candidates over the representatives only, pairs weighted
    by exact-group sizes. On duplicate-heavy web data raw LSH is quadratic
    in duplicate-group size (k identical docs share every band -> k^2/2
    trivially-known pairs); collapsing first removes that blowup —
    reference analogue: redundancy gates skip known-covered work before
    expensive steps (lib/scenes2strips.py:271-274). q_minhash_lsh keeps
    the raw path as the band-algebra oracle."""
    return DD.near_dup_pipeline(P.pages(spark, sf_dir))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash_near_pairs(P.pages(spark, sf_dir), max_hamming=3)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k (brute-force oracle anchor — bounded-n baseline
    only; lsh_topk/ivf_topk are the scale path) with the near-duplicate
    threshold flag folded in (embedding near-dup at cosine >= 0.5)."""
    emb = P.read_parquet(spark, f"{sf_dir}/embeddings.parquet")[0]
    out = SIM.brute_force_topk(emb, k=3)
    return out.withColumn("is_near_dup", F.col("cosine") >= 0.5)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN. Approximate by design but DETERMINISTIC given the
    fixed seed (hyperplanes, footer-count bucket sizing, total tie-breaks),
    so the driver check is a committed golden parquet keyed by embedding
    content; recall vs brute force is independently asserted in
    tests/test_coreg_similarity.py. Bucket sizing comes from the parquet
    footer row count — no pre-job (at Iceberg scale: snapshot summary
    stats). Cosine rounded for cross-round hash stability (BLAS ulp)."""
    emb, n = P.read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    out = SIM.lsh_topk(emb, dim=64, k=3, n_hint=n)
    return out.select("vec_id", "nbr_id", F.round("cosine", 6).alias("cosine"),
                      "sim_rank")


def q_ann_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware ANN at representative grain (similarity analogue of
    q_near_dup): collapse_exact over the vector -> the rep-grain LSH
    top-k that q_ann_lsh also runs -> group sizes re-attached; q_ann_lsh
    answers the same search per row. Deterministic given seeds ->
    golden-checked like q_ann_lsh. At driver scale the embeddings table
    has no duplicate vectors, so the collapse is an identity pass
    (size=1 rows) and output equals q_ann_lsh plus size columns; the
    8x-replicated bench input exercises the real collapse."""
    emb = P.read_parquet(spark, f"{sf_dir}/embeddings.parquet")[0]
    out = SIM.ann_dedup_topk(emb, dim=64, k=3)
    return out.select("vec_id", "nbr_id", F.round("cosine", 6).alias("cosine"),
                      "sim_rank", "size_a", "size_b")


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantizer lists + nprobe search. Deterministic
    (seeded hash-filtered training sample, seeded Lloyd init), golden-
    checked like q_ann_lsh; recall asserted in tests."""
    emb = P.read_parquet(spark, f"{sf_dir}/embeddings.parquet")[0]
    out = SIM.ivf_topk(emb, dim=64, k=3)
    return out.select("vec_id", "nbr_id", F.round("cosine", 6).alias("cosine"),
                      "sim_rank")


# ---------------------------------------------------------------------------
# strip assembly (merge order / coreg / feather)
# ---------------------------------------------------------------------------

def q_merge_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = M.with_footprint(P.geocoded_pages(spark, sf_dir))
    return M.merge_order(df)


def q_coregister(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nuth-Kaab-style coregistration fit vs a LIVE closed-form SQL oracle
    (golden retired in round 5). Two pairing grains in one output:
    - 'host': the strip-pair grain (host2i vs host2i+1) — exercises the
      no_overlap gate (<10 shared blocks at these sfs);
    - 'super': even vs odd hosts as ONE pair — >=10 shared blocks, so the
      3-sigma gate + LSQ fit + rmse genuinely run.

    The oracle exploits the closed form of the fit: dz (the per-block
    offset vector) is iteration-invariant in this operator (no resample
    between iterations — the reference's per-iteration re-interpolation,
    lib/scenes2strips.py:760-812, happens once at the block grain here),
    so the 3-sigma gate and the [1,x,y] LSQ are the same every pass and
    the loop provably exits at iters=2 with the first solution. One
    normal-equations solve (3x3 Cramer) in SQL therefore reproduces the
    numpy lstsq bit-for-bit at the rounded grain."""
    df = P.geocoded_pages(spark, sf_dir)
    host = (M.coregister_pairs(df, M.host_pair)
            .withColumn("grain", F.lit("host")))
    sup = (M.coregister_pairs(df, lambda c: F.lit("all"))
           .withColumn("grain", F.lit("super")))
    out = host.unionByName(sup)
    # round the LSQ floats for stable cross-run hashing (inputs are sorted
    # deterministically inside the cogrouped UDF; rounding guards the ulp)
    return out.select("grain", "group_a", "group_b", "n_points", "iters",
                      F.round("dz", 6).alias("dz"),
                      F.round("dx", 6).alias("dx"),
                      F.round("dy", 6).alias("dy"),
                      F.round("rmse", 6).alias("rmse"), "status")


def q_feather_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = with_flags(P.geocoded_pages(spark, sf_dir))
    fb = M.feather_blend(df)
    # round the float blend for cross-engine hashing (sum order inside
    # groupBy partials is partitioning-dependent at the last ulp)
    return fb.select("pair", "block", F.round("w", 6).alias("w"),
                     F.round("z_blend", 6).alias("z_blend"),
                     "n_pages", "flags_merged")


def q_strip_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL scenes2strips assembly composition
    (lib/scenes2strips.py:570-692): coregister -> apply the fitted
    (dz,dx,dy) via shifted bilinear/nearest resample on side B -> feather
    blend + OR/bit_or combine. Two pairing grains in one output:
    - 'super': even vs odd hosts as one pair, so the >=10-shared-block
      fit gate passes at driver scale (coarse-kNN rationale) and the
      blend path is exercised (both/a_only/b_only rows);
    - 'host': host{2i}/host{2i+1} pairs, which legitimately segment-break
      at driver scale (no pair shares 10 blocks) and hash-lock the
      segment-break path.
    LIVE SQL oracle (round 5 — golden retired): the coreg fit rides the
    closed-form coreg_fin CTEs (see q_coregister) and the shift/blend is
    re-derived in SQL on top — 4-corner bilinear scatter with the
    weight-sum support gate (HAVING), nearest re-key, feather span window,
    OR/bit_or combine, segment-break union. The blend algebra is
    additionally pinned against a from-scratch numpy oracle in
    tests/test_strip_assembly.py."""
    # both variants consume the same projection; prune to the 5 needed
    # columns (dropping text — the flags tokenization is the expensive
    # part). Round 7: the two grains run as ONE strip_assemble pass —
    # their pair-key spaces are disjoint ('all' vs 'pairN'), so exploding
    # each row into its two variant labels and pairing by variant yields
    # the identical per-pair groups while every stage (aggregate, cogroup
    # fit, blend) runs once over the union instead of twice over the
    # table + a plan-level union (halves the scans/shuffles AND the
    # driver-side plan work of the formerly-duplicated operator tree).
    df = cached(with_flags(P.geocoded_pages(spark, sf_dir))
                .select("group_id", "url", "flags", "cell_x", "cell_y",
                        F.explode(F.array(F.lit("super"), F.lit("host")))
                        .alias("_variant")))
    pair_of = lambda c: F.when(F.col("_variant") == "super",  # noqa: E731
                               F.lit("all")).otherwise(M.host_pair(c))
    out = M.strip_assemble(df, pair_of=pair_of,
                           max_rmse=M.SYNTHETIC_Z_MAX_RMSE)
    return out.select(
        F.when(F.col("pair") == "all", F.lit("super"))
         .otherwise(F.lit("host")).alias("variant"),
        "pair", "block", "src",
        F.round("w", 6).alias("w"),
        F.round("z_strip", 6).alias("z_strip"),
        F.col("n_pages").cast("bigint").alias("n_pages"),
        "matchtag", "flags_merged", "segment_break")


# ---------------------------------------------------------------------------
# geospatial extras
# ---------------------------------------------------------------------------

def q_cell_indexes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real S2 level-13 cell ids (pure-numpy Hilbert encode, Arrow UDF),
    planar hex axial ids, AND true icosahedral-gnomonic hex ids at H3
    res-8 scale (20 sphere faces, gnomonic axial grid) in one output,
    plus h3_ring_sum — the checksum of each cell's CROSS-FACE-stitched
    1-ring (h3_neighbors re-quantizes neighbor centers through the
    sphere), driver-hash-checking the stitching every round.
    Not SQL-expressible: the oracle is a committed golden parquet fixture,
    regenerated by scripts/make_goldens.py; cell-math invariants are
    independently tested in tests/test_s2.py and tests/test_hexgrid.py
    (icosa roundtrip, containment, ring/parent invariants)."""
    from ..functions.hexgrid import (with_h3_cell, with_h3_ring_sum,
                                     with_hex_cell)
    from ..functions.s2 import with_s2_cell

    df = with_h3_ring_sum(with_h3_cell(with_hex_cell(with_s2_cell(
        P.geocoded_pages(spark, sf_dir)))))
    return df.select("url", "cell_s2", "cell_hex", "cell_h3", "h3_ring_sum")


def q_ring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ring mean/std of the page z-score (local-stdev analogue,
    lib/filter_scene.py:1517-1524) joined with the k-ring Shannon entropy
    of lang (entropyfilt analogue, lib/raster_array_tools.py:2541-2750) —
    merged with the former q_ring_entropy (same input, same per-occupied-
    cell output grain, one registry slot)."""
    from ..operators.neighborhood import ring_entropy, ring_stat

    df = P.geocoded_pages(spark, sf_dir).withColumn("z", F.expr(D.z_expr(D.SPARK)))
    stats = ring_stat(df, "z", ring=1)
    ent = ring_entropy(df, "lang", ring=1)
    return (stats.join(ent, "cell")
            .select("cell", F.col("n_in_ring").cast("bigint").alias("n_in_ring"),
                    F.round("ring_mean", 6).alias("ring_mean"),
                    F.round("ring_std", 6).alias("ring_std"),
                    F.round("ring_entropy", 6).alias("ring_entropy")))


@functools.cache
def _remove_at_exit(path: str) -> None:
    atexit.register(shutil.rmtree, path, ignore_errors=True)


def q_pipeline_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pipeline (the run_s2s analogue,
    batch_scenes2strips.py:962-1565): runs all six stages of
    plans/pipeline.run_pipeline — geocode+flags, tile assign, merge order,
    coregister, strip assembly, per-tile rollup — each committed through
    plans/manifest.run_stage (partitioned parquet, fingerprint lineage,
    .fin-style commit record), although only the rollup, which reads tile
    assign alone, is returned; running just the stages a target needs is
    ROADMAP item 4. Returns the FINAL stage read back from its committed
    files, so the driver hash-checks the whole write/read path; the
    oracle recomputes the rollup straight off the pages CTE.
    A fixed per-(process, sf_dir) workdir, cleared on entry, keeps
    repeated driver/bench rounds hermetic (resume-after-kill semantics
    are pinned by tests/test_manifest_resume and test_pipeline); the
    returned frame reads it, so it is removed only at process exit."""
    import hashlib
    import os
    import tempfile

    from .manifest import read_stage
    from .pipeline import run_pipeline

    # keyed by PID (not id(spark): heap addresses coincide across
    # processes and a collision would rmtree another process's run)
    tag = hashlib.md5(f"{os.getpid()}:{sf_dir}".encode()).hexdigest()[:12]
    workdir = f"{tempfile.gettempdir()}/spark_graft_pipe_{tag}"
    shutil.rmtree(workdir, ignore_errors=True)
    _remove_at_exit(workdir)
    run_pipeline(spark, sf_dir, workdir)
    out = read_stage(spark, f"{workdir}/out", "tile_rollup")
    return out.select(F.col("unit").alias("tile_id"),
                      F.col("n_pages").cast("bigint").alias("n_pages"),
                      F.col("n_flagged").cast("bigint").alias("n_flagged"),
                      F.col("flags_merged").cast("int").alias("flags_merged"))


ADAPTIVE_MAX_PAGES = 50
ADAPTIVE_MAX_DEPTH = 8


def q_adaptive_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quad-tree assignment (split while subtree count >
    max_pages, depth-capped), fully distributed: pages join the
    adaptive_leaf_map output on their max-depth quadkey — zero
    driver-side collection at any input size. The oracle recomputes the
    equivalent shortest-fitting-prefix rule in SQL."""
    from ..operators.tiles import assign_tiles_adaptive

    df = P.geocoded_pages(spark, sf_dir)
    return assign_tiles_adaptive(
        df, max_pages=ADAPTIVE_MAX_PAGES,
        max_depth=ADAPTIVE_MAX_DEPTH).select("url", "tile_id")


# coarse gnomonic hex size for the stitched variant: ~6 degrees of arc,
# so 500 driver-scale pages land several-per-cell and face-edge cells
# produce genuine CROSS-FACE neighbor pairs
H3_KNN_COARSE_SIZE = 0.1


def hex_knn_stitched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stitched part of q_hex_knn (golden-checked; also the partial-
    golden generator target in scripts/make_goldens.py)."""
    from ..functions.hexgrid import h3_knn

    out = h3_knn(P.geocoded_pages(spark, sf_dir), k_neighbors=3,
                 size=H3_KNN_COARSE_SIZE)
    return out.select(F.lit("stitched").alias("variant"), "url_a", "url_b",
                      F.col("rank").alias("knn_rank"))


def q_hex_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN over the hex index, TWO variants in one output:
    - 'planar': hex k-ring expansion + cell-local join on coarse
      5-degree planar axial hexes — INDEPENDENT SQL oracle (the axial
      transform + cube rounding re-derived in DuckDB; round_even(x, 0)
      reproduces np.round's banker's rounding bit-for-bit);
    - 'stitched': kNN through the CROSS-FACE-stitched icosahedral 1-ring
      (functions/hexgrid.h3_knn) at a coarse gnomonic size, where
      face-edge cells yield genuine cross-face neighbor pairs — golden
      oracle (icosa projection is non-SQL), non-vacuity pinned in
      tests/test_hexgrid.py.
    The oracle UNIONs the planar SQL with the stitched partial golden."""
    from ..functions.hexgrid import hex_knn

    planar = hex_knn(P.geocoded_pages(spark, sf_dir), k_neighbors=3, ring=1,
                     size=5.0)
    planar = planar.select(F.lit("planar").alias("variant"), "url_a",
                           "url_b", F.col("rank").alias("knn_rank"))
    return planar.unionByName(hex_knn_stitched(spark, sf_dir))


def q_feather_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D feather weight field (cogrouped distance-BFS UDF) vs a LIVE
    SQL oracle (golden retired in round 5): the BFS runs on the fully
    dense pair rectangle, so its chessboard distance equals the minimum
    Chebyshev distance to the seed set — a plain min-join in SQL.
    Monotone-gradient semantics additionally tested in
    tests/test_feather_field.py."""
    fw = M.feather_weight_field(P.geocoded_pages(spark, sf_dir))
    return fw.select("pair", "block", F.round("w", 6).alias("w"))


def q_footprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footprint polygons at two grains (getFPvertices / concave_hull_image
    / DecimatePoly / rectFootprint analogues; golden oracle, properties
    tested in tests/test_footprint.py):
    - per host group: pages hash-scatter globally, so group cells form
      many 4-connected regions -> the documented convex fallback rows;
    - per connected component of occupied coarse blocks: contiguous by
      construction -> real concave boundary-trace rows (is_concave=true),
      so the driver hash-locks the trace + decimation path every round."""
    from ..operators.components import connected_components
    from ..operators.footprint import group_footprints
    from .queries_ref import _blocks

    fp = group_footprints(P.geocoded_pages(spark, sf_dir))
    blocks = _blocks(spark, sf_dir)
    labels = connected_components(blocks)
    blk = (blocks.join(labels, "cell")
           .select(F.concat(F.lit("blk"), F.col("component").cast("string"))
                   .alias("group_id"), "cell_x", "cell_y"))
    # block grid is cell>>12 -> 4096 cells per block = 20.48 deg
    fp_blk = group_footprints(blk, cells_per_deg=D.CELLS_PER_DEG / 4096.0)
    return fp.unionByName(fp_blk).select(
        "group_id", "n_cells", "n_vertices",
        F.round("hull_area", 6).alias("hull_area"),
        F.round("convex_area", 6).alias("convex_area"), "is_concave", "wkt")


def q_bwareaopen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component size filter over occupied coarse blocks
    (bwareaopen analogue; rows-only — iterative label propagation)."""
    from ..operators.components import bwareaopen

    df = P.geocoded_pages(spark, sf_dir)
    blocks = (df.select(
        F.expr(D.block_x_expr(D.SPARK)).alias("cell_x"),
        F.expr(D.block_y_expr(D.SPARK)).alias("cell_y"))
        .distinct()
        .withColumn("cell", F.expr(D.cell_id_from_xy())))
    return bwareaopen(blocks, min_size=3).select("cell", "component", "csize")


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

def _shingles_cte() -> str:
    return (f"sh AS (SELECT DISTINCT doc_id, unnest({DD.shingles_expr()}) "
            f"AS shingle FROM cells)")


def _minhash_params_values() -> str:
    vals = ", ".join(f"({i}, {a}, {b})"
                     for i, (a, b) in enumerate(DD.MINHASH_PARAMS))
    return f"params(i, a, b) AS (VALUES {vals})"


ORACLES: dict[str, str] = {
    "q_text_metrics": D.with_cells(
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        + ", ".join(f"{e} AS {n}" for n, e in T.token_stats_exprs(_DD).items())
        + ", "
        + ", ".join(f"{e} AS {n}" for n, e in T.quality_exprs(_DD).items())
        + ", "
        + ", ".join(f"{e} AS {n}" for n, e in T.gopher_exprs(_DD).items())
        + f", {T.langid_expr(_DD)} AS lang_pred"
        + f", {T.langid_ngram_expr(_DD)} AS lang_pred_ngram"
        + " FROM cells"),
    "q_fingerprint": D.with_cells(
        "SELECT f.doc_id, f.fingerprint, s.simhash FROM ("
        + T.fingerprint_sql(_DD, "cells").replace(
            "SELECT doc_id,", "SELECT CAST(doc_id AS BIGINT) AS doc_id,")
        + """) f JOIN (
           SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  CAST(sum(bitval) AS BIGINT) AS simhash FROM bitsum
           GROUP BY doc_id) s ON f.doc_id = s.doc_id""",
        extra_ctes=f"""
        toks AS (SELECT doc_id, unnest({D.tokens_expr(_DD)}) AS tok FROM cells),
        contrib AS (
          SELECT doc_id, j.j,
                 sum(CASE WHEN (({D.hex8_i64('tok', 1, _DD)} >> j.j) & 1) = 1
                     THEN 1 ELSE -1 END) AS s
          FROM toks CROSS JOIN (SELECT unnest(range(0, {DD.SIMHASH_BITS})) AS j) j
          GROUP BY doc_id, j.j
        ),
        bitsum AS (
          SELECT doc_id,
                 CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS bitval
          FROM contrib
        )"""),
    "q_jaccard_pairs": D.with_cells(
        f"""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
                   inter, na, nb
            FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(count(*) AS BIGINT) AS inter,
                     any_value(sa.n_sh) AS na, any_value(sb.n_sh) AS nb
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              JOIN sizes sa ON sa.doc_id = a.doc_id
              JOIN sizes sb ON sb.doc_id = b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ) WHERE inter * 100 >= 50 * (na + nb - inter)""",
        extra_ctes=_shingles_cte()
        + ", sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh "
          "FROM sh GROUP BY doc_id)"),
    "q_minhash_lsh": D.with_cells(
        f"""SELECT CAST(a.doc_id AS BIGINT) AS id_a,
                   CAST(b.doc_id AS BIGINT) AS id_b,
                   CAST(count(*) AS BIGINT) AS n_shared_bands
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id""",
        extra_ctes=_shingles_cte() + f""",
        {_minhash_params_values()},
        minh AS (
          SELECT doc_id, p.i AS hash_idx,
                 min((p.a * {D.hex8_i64('shingle', 1, _DD)} + p.b) % {M31}) AS minhash
          FROM sh CROSS JOIN params p GROUP BY doc_id, p.i
        ),
        bands AS (
          -- NB: DuckDB int '/' yields DOUBLE and double->int CAST rounds
          -- (Spark truncates); floor() makes both dialects agree
          SELECT doc_id, CAST(floor(hash_idx / {DD.ROWS_PER_BAND}) AS INT) AS band,
                 string_agg(hash_idx || ':' || minhash, ','
                            ORDER BY hash_idx || ':' || minhash) AS band_sig
          FROM minh GROUP BY doc_id, CAST(floor(hash_idx / {DD.ROWS_PER_BAND}) AS INT)
        )"""),
    # exact-dup pre-collapse + LSH over representatives: the same band
    # algebra as q_minhash_lsh, but the shingle CTE reads the per-md5
    # representatives and pairs carry exact-group sizes
    "q_hex_knn": D.with_cells(
        """SELECT 'planar' AS variant, url_a, url_b, knn_rank FROM (
             SELECT a.url AS url_a, b.url AS url_b,
                    row_number() OVER (PARTITION BY a.url ORDER BY
                      (a.lat - b.lat) * (a.lat - b.lat)
                      + (a.lon - b.lon) * (a.lon - b.lon) ASC,
                      b.url ASC) AS knn_rank
             FROM hexc a CROSS JOIN ringd d
             JOIN hexc b ON a.cell + d.delta = b.cell
             WHERE a.url <> b.url
           ) WHERE knn_rank <= 3
           UNION ALL
           SELECT variant, url_a, url_b, CAST(knn_rank AS INT) AS knn_rank
           FROM read_parquet(
             '/root/repo/tests/fixtures/goldens/q_hex_knn_stitched_*.parquet')
           WHERE sf_key = (SELECT sum(n_chars) FROM documents)""",
        extra_ctes="""ax0 AS (SELECT url, lat, lon,
             (sqrt(3.0)/3.0 * lon - lat/3.0)/5.0 AS fq,
             (2.0/3.0*lat)/5.0 AS fr FROM cells),
           -- cube rounding (hexgrid._cube_round): round_even = np.round
           -- (banker's); fix the axis with the largest rounding error
           ax1 AS (SELECT url, lat, lon, fq, fr, -fq - fr AS fy,
             round_even(fq, 0) AS rx, round_even(-fq - fr, 0) AS ry,
             round_even(fr, 0) AS rz FROM ax0),
           ax2 AS (SELECT *, abs(rx - fq) AS dx, abs(ry - fy) AS dy,
             abs(rz - fr) AS dz FROM ax1),
           ax3 AS (SELECT url, lat, lon,
             CAST(CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END
                  AS BIGINT) AS cq,
             CAST(CASE WHEN NOT (dx > dy AND dx > dz) AND dz > dy
                  THEN -rx - ry ELSE rz END AS BIGINT) AS cr FROM ax2),
           hexc AS (SELECT url, lat, lon,
             (cr + 1048576) * 2097152 + (cq + 1048576) AS cell FROM ax3),
           ringd(delta) AS (VALUES (-1), (2097151), (-2097152), (0),
                                   (2097152), (-2097151), (1))"""),
    "q_near_dup": D.with_cells(
        f"""SELECT CAST(a.doc_id AS BIGINT) AS id_a,
                   CAST(b.doc_id AS BIGINT) AS id_b,
                   CAST(count(*) AS BIGINT) AS n_shared_bands,
                   any_value(ra.n_dups) AS n_docs_a,
                   any_value(rb.n_dups) AS n_docs_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id
            JOIN reps ra ON ra.doc_id = a.doc_id
            JOIN reps rb ON rb.doc_id = b.doc_id
            GROUP BY a.doc_id, b.doc_id""",
        extra_ctes=f"""
        reps AS (
          SELECT doc_id, text, n_dups FROM (
            SELECT doc_id, text,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
                   CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
                     AS n_dups
            FROM cells) WHERE doc_id = keep_id
        ),
        rsh AS (SELECT DISTINCT doc_id, unnest({DD.shingles_expr()})
                AS shingle FROM reps),
        {_minhash_params_values()},
        minh AS (
          SELECT doc_id, p.i AS hash_idx,
                 min((p.a * {D.hex8_i64('shingle', 1, _DD)} + p.b) % {M31})
                   AS minhash
          FROM rsh CROSS JOIN params p GROUP BY doc_id, p.i
        ),
        bands AS (
          SELECT doc_id, CAST(floor(hash_idx / {DD.ROWS_PER_BAND}) AS INT)
                   AS band,
                 string_agg(hash_idx || ':' || minhash, ','
                            ORDER BY hash_idx || ':' || minhash) AS band_sig
          FROM minh
          GROUP BY doc_id, CAST(floor(hash_idx / {DD.ROWS_PER_BAND}) AS INT)
        )"""),
    "q_simhash_pairs": D.with_cells(
        f"""SELECT CAST(a.doc_id AS BIGINT) AS id_a,
                   CAST(b.doc_id AS BIGINT) AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
        extra_ctes=f"""
        toks AS (SELECT doc_id, unnest({D.tokens_expr(_DD)}) AS tok FROM cells),
        contrib AS (
          SELECT doc_id, j.j,
                 sum(CASE WHEN (({D.hex8_i64('tok', 1, _DD)} >> j.j) & 1) = 1
                     THEN 1 ELSE -1 END) AS s
          FROM toks CROSS JOIN (SELECT unnest(range(0, {DD.SIMHASH_BITS})) AS j) j
          GROUP BY doc_id, j.j
        ),
        sig AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                          ELSE 0 END) AS BIGINT) AS simhash
          FROM contrib GROUP BY doc_id
        )"""),
    "q_cosine_topk": f"""
        WITH d AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        pairs AS (
          SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
                 list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                 AS cosine
          FROM d a JOIN d b ON a.vec_id <> b.vec_id
        )
        SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(nbr_id AS BIGINT) AS nbr_id,
               cosine, CAST(sim_rank AS INT) AS sim_rank,
               (cosine >= 0.5) AS is_near_dup FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
                     ORDER BY cosine DESC, nbr_id ASC) AS sim_rank
          FROM pairs
        ) WHERE sim_rank <= 3""",
    "q_feather_blend": D.with_cells(
        f"""SELECT pair, block, round(w, 6) AS w, round(z_blend, 6) AS z_blend,
                   n_pages, flags_merged FROM (
              SELECT j.pair, j.block,
                     least(greatest((CAST(j.bx - mn.bx0 AS DOUBLE)
                       / greatest(CAST(mn.bx1 - mn.bx0 AS DOUBLE), 1.0)
                       - 0.25) / (0.55 - 0.25), 0.0), 1.0) AS w,
                     least(greatest((CAST(j.bx - mn.bx0 AS DOUBLE)
                       / greatest(CAST(mn.bx1 - mn.bx0 AS DOUBLE), 1.0)
                       - 0.25) / (0.55 - 0.25), 0.0), 1.0) * (j.sza / j.na)
                     + (1.0 - least(greatest((CAST(j.bx - mn.bx0 AS DOUBLE)
                       / greatest(CAST(mn.bx1 - mn.bx0 AS DOUBLE), 1.0)
                       - 0.25) / (0.55 - 0.25), 0.0), 1.0)) * (j.szb / j.nb)
                       AS z_blend,
                     j.na + j.nb AS n_pages,
                     CAST(j.fla | j.flb AS INT) AS flags_merged
              FROM j JOIN mn ON j.pair = mn.pair
            )""",
        extra_ctes=f"""
        base AS (
          SELECT *, {D.z_expr(_DD)} AS z,
                 {D.block_x_expr(_DD)} AS bx,
                 {D.block_id_expr(_DD)} AS block,
                 CAST(substring(group_id, 5) AS INT) AS hostnum,
                 CAST(floor(CAST(substring(group_id, 5) AS INT) / 2) AS BIGINT) AS pair,
                 {D.flags_expr(_DD)} AS flags
          FROM cells
        ),
        agg AS (
          SELECT pair, block, bx, hostnum % 2 AS side,
                 sum(z) AS sz, CAST(count(*) AS BIGINT) AS n, bit_or(flags) AS fl
          FROM base GROUP BY pair, block, bx, hostnum % 2
        ),
        j AS (
          SELECT a.pair, a.block, a.bx, a.sz AS sza, a.n AS na, a.fl AS fla,
                 b.sz AS szb, b.n AS nb, b.fl AS flb
          FROM (SELECT * FROM agg WHERE side = 0) a
          JOIN (SELECT * FROM agg WHERE side = 1) b
            ON a.pair = b.pair AND a.block = b.block
        ),
        mn AS (
          SELECT pair, min(bx) AS bx0, max(bx) AS bx1
          FROM (SELECT pair, block, bx FROM j) GROUP BY pair
        )"""),
}


ORACLES["q_extract_text"] = D.with_cells(
    """SELECT url, md5(extracted) AS extracted_md5, md5(text) AS text_md5,
              (extracted = text) AS byte_identical
       FROM (SELECT url, text,
                    regexp_replace(regexp_replace(
                      decode(encode('<html><body>' || text || '</body></html>')),
                      '^<html><body>', ''), '</body></html>$', '') AS extracted
             FROM cells)""")

ORACLES["q_percentile_gate"] = D.with_cells(
    f"""SELECT group_id, round(spread, 6) AS spread,
          CASE WHEN spread < 40 THEN 10.5 WHEN spread < 50 THEN 15.0
               WHEN spread < 75 THEN 19.0 WHEN spread < 90 THEN 27.0
               ELSE 50.0 END AS stdev_thresh
        FROM (SELECT group_id,
                     quantile_cont(z, 0.8) - quantile_cont(z, 0.2) AS spread
              FROM (SELECT group_id, {D.z_expr(_DD)} AS z FROM cells)
              GROUP BY group_id)""")

ORACLES["q_ring_stats"] = D.with_cells(
    """SELECT s.cell, s.n_in_ring, s.ring_mean, s.ring_std, e.ring_entropy
       FROM (
         SELECT o.target_cell AS cell, CAST(o.n AS BIGINT) AS n_in_ring,
                round(o.s / o.n, 6) AS ring_mean,
                round(sqrt(greatest(o.ss / o.n - (o.s / o.n) * (o.s / o.n), 0.0)), 6)
                  AS ring_std
         FROM (
           SELECT (p.cell_y + f.dy) * 131072 + (p.cell_x + f.dx) AS target_cell,
                  sum(p.s) AS s, sum(p.ss) AS ss, sum(p.n) AS n
           FROM (SELECT cell_x, cell_y, sum(z) AS s, sum(z * z) AS ss,
                        count(*) AS n
                 FROM zc GROUP BY cell_x, cell_y) p
           CROSS JOIN offs f GROUP BY 1
         ) o
         JOIN (SELECT DISTINCT cell FROM cells) c ON o.target_cell = c.cell
       ) s JOIN (
         SELECT e.target_cell AS cell,
                round(log2(CAST(e.N AS DOUBLE)) - e.nlogn / e.N, 6) AS ring_entropy
         FROM (
           SELECT target_cell, sum(n) AS N,
                  sum(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE))) AS nlogn
           FROM (
             SELECT (p.cell_y + f.dy) * 131072 + (p.cell_x + f.dx) AS target_cell,
                    p.lang, sum(p.n) AS n
             FROM (SELECT cell_x, cell_y, lang, count(*) AS n
                   FROM cells GROUP BY cell_x, cell_y, lang) p
             CROSS JOIN offs f GROUP BY 1, 2
           ) GROUP BY target_cell
         ) e
         JOIN (SELECT DISTINCT cell FROM cells) c ON e.target_cell = c.cell
       ) e ON s.cell = e.cell""",
    extra_ctes=D.ring_offsets_values(1)
    + f", zc AS (SELECT *, {D.z_expr(_DD)} AS z FROM cells)")

# pipeline rollup oracle: the same per-tile census straight off the pages
# CTE — if any stage of the committed stage chain drops/dups rows or
# mangles flags, the hash diverges
ORACLES["q_pipeline_rollup"] = D.with_cells(
    f"""SELECT tile_id, CAST(count(*) AS BIGINT) AS n_pages,
               CAST(sum(CASE WHEN flags > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_flagged,
               CAST(bit_or(flags) AS INT) AS flags_merged
        FROM (SELECT {D.quadkey_expr(_DD)} AS tile_id,
                     {D.flags_expr(_DD)} AS flags FROM cells)
        GROUP BY tile_id""")


# adaptive quad-tree oracle: the split-while-too-big tree is equivalent to
# "leaf = shortest prefix whose subtree count <= max_pages" (counts are
# monotone non-increasing with depth), which IS single-statement SQL
_ADAPT_CNTS = " UNION ALL ".join(
    f"SELECT {lvl} AS lvl, substr(qk, 1, {lvl + 1}) AS pfx, "
    f"CAST(count(*) AS BIGINT) AS n FROM deep GROUP BY 2"
    for lvl in range(0, 9))

ORACLES["q_adaptive_tiles"] = D.with_cells(
    f"""SELECT d.url, substr(d.qk, 1, l.ll + 1) AS tile_id
        FROM deep d JOIN (
          SELECT k.qk,
                 coalesce(min(CASE WHEN c.n <= 50 THEN c.lvl END), 8) AS ll
          FROM (SELECT DISTINCT qk FROM deep) k
          JOIN cnts c ON c.pfx = substr(k.qk, 1, c.lvl + 1)
          GROUP BY k.qk
        ) l ON d.qk = l.qk""",
    extra_ctes=f"deep AS (SELECT url, {D.quadkey_expr(_DD, depth=8)} AS qk "
    f"FROM cells), cnts AS ({_ADAPT_CNTS})")

# bwareaopen oracle: transitive-closure CC over coarse blocks via a
# recursive CTE (independent of the engine's pointer-jumping HashMin)
ORACLES["q_bwareaopen"] = f"""
WITH RECURSIVE {D.geo_ctes(_DD)},
blocks AS (SELECT DISTINCT (cell_x >> 12) AS bx, (cell_y >> 12) AS by
           FROM cells),
e AS (SELECT a.by * 131072 + a.bx AS u, b.by * 131072 + b.bx AS v
      FROM blocks a JOIN blocks b
        ON abs(a.bx - b.bx) <= 1 AND abs(a.by - b.by) <= 1),
reach AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
),
lab AS (SELECT u AS cell, min(v) AS component FROM reach GROUP BY u),
sz AS (SELECT component, CAST(count(*) AS BIGINT) AS csize
       FROM lab GROUP BY component)
SELECT l.cell, l.component, s.csize
FROM lab l JOIN sz s ON l.component = s.component
WHERE s.csize >= 3
"""


def golden_oracle(name: str, cols: str) -> str:
    """Fixture-backed oracle for procedural operators (greedy folds,
    iterative LSQ, numpy cell encodes): the committed golden parquet under
    tests/fixtures/goldens/, keyed by input size so the same SQL works at
    sf0.001 and sf0.01. Regenerate with scripts/make_goldens.py; the
    operators' SEMANTICS are validated by independent numpy
    cross-implementations in tests/ — the golden freezes those validated
    outputs so the driver can hash-compare them per round."""
    # key on sum(n_chars): sf0.001 and sf0.01 have the same row COUNT but
    # different content, so the fixture is keyed by a content-derived scalar
    return (f"SELECT {cols} FROM "
            f"read_parquet('/root/repo/tests/fixtures/goldens/{name}_*.parquet') "
            f"WHERE sf_key = (SELECT sum(n_chars) FROM documents)")


# embeddings-keyed goldens: the ANN queries are approximate by design but
# deterministic given their seeds, so the driver can hash-compare a frozen
# run; recall gates in tests/test_coreg_similarity.py pin the semantics.
# Key = content-derived scalar of the EMBEDDINGS table (sf0.001 and sf0.01
# share the 500-row count, so count is not a valid key — same rationale as
# the documents sf_key).
EMB_KEY_SQL_DUCK = ("SELECT sum(CAST(floor(CAST(embedding[1] AS DOUBLE)"
                    " * 1000000) AS BIGINT)) FROM embeddings")
EMB_KEY_EXPR_SPARK = ("sum(CAST(floor(CAST(embedding[0] AS DOUBLE)"
                      " * 1000000) AS BIGINT))")


def golden_oracle_emb(name: str, cols: str) -> str:
    return (f"SELECT {cols} FROM "
            f"read_parquet('/root/repo/tests/fixtures/goldens/{name}_*.parquet') "
            f"WHERE sf_key = ({EMB_KEY_SQL_DUCK})")


EMB_GOLDEN_COLS = {
    "q_ann_lsh": "vec_id, nbr_id, cosine, sim_rank",
    "q_ann_ivf": "vec_id, nbr_id, cosine, sim_rank",
    "q_ann_dedup": "vec_id, nbr_id, cosine, sim_rank, size_a, size_b",
}
for _n, _c in EMB_GOLDEN_COLS.items():
    ORACLES[_n] = golden_oracle_emb(_n, _c)


GOLDEN_COLS = {
    "q_cell_indexes": "url, cell_s2, cell_hex, cell_h3, h3_ring_sum",
    "q_footprints": ("group_id, n_cells, n_vertices, hull_area, "
                     "convex_area, is_concave, wkt"),
}
for _n, _c in GOLDEN_COLS.items():
    ORACLES[_n] = golden_oracle(_n, _c)


# ---------------------------------------------------------------------------
# Live merge-order oracle (round 6 — golden retired). The orderPairs greedy
# fold (reference lib/scenes2strips.py:921-997) re-derived as a DuckDB
# recursive CTE: group members are carried as a LIST-of-struct working set
# and each recursive step either picks the max-overlap member (argmax via
# list_reduce, tie-break min url), marks it redundant (exact union-coverage
# gate), or declares a segment break. Iteration count is bounded by
# 2 * members + 1 per group, and the driver corpora hold ~10 members/group.
#
# Two DuckDB 1.0 footguns are encoded below:
# - list_reduce evaluates the lambda's struct fields SEQUENTIALLY against
#   the mutated accumulator, so any field reading acc.X must be assigned
#   before the field writing acc.X ('s' before 'e' in the y-union sweep);
# - bare numeric literals are DECIMAL — every constant that meets a DOUBLE
#   is cast explicitly so both engines compare the same IEEE doubles.
#
# Float parity: the pick argmax and the domination gate compute the same
# products as the engine (bitwise identical); the union-coverage area sums
# slab-by-slab while the engine's numpy kernel sums cell-by-cell — same
# exact rectangles, different summation order, so the redundancy gate could
# in principle flip within ~1e-14 of the 5% threshold (fuzzed to 1e-14
# agreement in tests/test_merge_order.py; discrete outputs are otherwise
# float-free).


def _mo_union_covered(pick: str, acc: str) -> str:
    """Exact area of rect `pick` covered by the union of rects in `acc`:
    coordinate-compressed x-slab sweep; per slab, the active y-intervals'
    union length via a sorted list_reduce. PURE lambda expression — no
    correlated scalar subquery: a dependent join in a recursive term
    misaligns the working-table rows in duckdb 1.0 (observed as picks
    drawn from another group's state), so intermediate names (uclips,
    uxs) are bound via single-element list_transform wrappers instead."""
    clips = (f"list_filter(list_transform({acc}, m -> "
             f"{{'x0': greatest(m.x0, ({pick}).x0), "
             f"'x1': least(m.x1, ({pick}).x1), "
             f"'y0': greatest(m.y0, ({pick}).y0), "
             f"'y1': least(m.y1, ({pick}).y1)}}), "
             f"cc -> cc.x1 > cc.x0 AND cc.y1 > cc.y0)")
    return f"""
      list_transform([{clips}], uclips ->
        list_transform([list_sort(list_distinct(flatten(
            list_transform(uclips, cc -> [cc.x0, cc.x1]))))], uxs ->
          coalesce(list_sum(list_transform(range(1, len(uxs)), i ->
            (uxs[i+1] - uxs[i]) *
            (list_reduce(
               list_prepend({{'y0': CAST(0 AS DOUBLE), 'y1': CAST(0 AS DOUBLE),
                              's': CAST(0 AS DOUBLE),
                              'e': CAST(-1e300 AS DOUBLE)}},
                 list_transform(
                   list_sort(list_transform(
                     list_filter(uclips,
                                 cc -> cc.x0 <= uxs[i] AND cc.x1 >= uxs[i+1]),
                     cc -> {{'y0': cc.y0, 'y1': cc.y1}})),
                   v -> {{'y0': v.y0, 'y1': v.y1, 's': CAST(0 AS DOUBLE),
                          'e': CAST(0 AS DOUBLE)}})),
               (a2, m2) -> {{'y0': CAST(0 AS DOUBLE), 'y1': CAST(0 AS DOUBLE),
                            's': a2.s + greatest(CAST(0 AS DOUBLE),
                                                 m2.y1 - greatest(m2.y0, a2.e)),
                            'e': greatest(a2.e, m2.y1)}})).s
          )), CAST(0 AS DOUBLE)))[1])[1]"""


_MO_INTER = (
    "greatest(CAST(0 AS DOUBLE), least(cx1, m.x1) - greatest(cx0, m.x0))"
    " * greatest(CAST(0 AS DOUBLE), least(cy1, m.y1) - greatest(cy0, m.y0))")


def merge_order_oracle_sql(member_source: str | None = None,
                           groups: list[str] | None = None) -> str:
    """The full recursive orderPairs oracle. member_source overrides the
    member CTE body (group_id, url, x0, x1, y0, y1) so tests can run the
    same fold over synthetic rects; default derives footprints from the
    documents corpus exactly like operators/merge.with_footprint.

    ONE RECURSIVE CTE PER GROUP (`groups` defaults to the corpus's fixed
    host0..host{{HOSTS-1}}): with several groups advancing in one shared
    working table, duckdb 1.0 mis-evaluates the lambda kernels across the
    chunk's rows (observed: picks drawn from ANOTHER group's state; every
    single-group run is correct, every 30-group batch run is not — see
    tests/test_merge_order.py::test_live_oracle_fuzz_vs_engine_kernel).
    A per-group recursion keeps exactly one working row per CTE, which is
    the empirically clean configuration. The shared prefix CTEs
    (footprints, direction sort, anti-domination rotation) are computed
    once; only the sequential fold is replicated."""
    hw = "(0.5 + CAST(n_chars % 97 AS DOUBLE) / 97.0)"
    hh = "(0.5 + CAST(n_chars % 89 AS DOUBLE) / 89.0)"
    if member_source is None:
        member_source = f"""
  SELECT group_id, url,
         lon - {hw} AS x0, lon + {hw} AS x1,
         lat - {hh} AS y0, lat + {hh} AS y1
  FROM cells"""
        prelude = f"{D.geo_ctes(_DD)},"
    else:
        prelude = ""
    if groups is None:
        groups = [f"host{i}" for i in range(D.HOSTS)]
    fold_ctes = ",\n".join(
        _mo_fold_cte(f"mo_st_{k}", g) for k, g in enumerate(groups))
    union = "\nUNION ALL\n".join(
        f"SELECT group_id, p_u, p_oidx, p_seg, p_red FROM mo_st_{k} "
        "WHERE p_u IS NOT NULL" for k in range(len(groups)))
    return f"""
WITH RECURSIVE {prelude}
mo_mem AS ({member_source}),
mo_grp AS (
  SELECT group_id,
         (max(y1) - min(y0)) >= (max(x1) - min(x0)) AS tall
  FROM mo_mem GROUP BY group_id),
mo_cov AS (
  -- first-member anti-domination precompute: order-independent, so the
  -- while-loop's rotation count is just the first list position where
  -- stop_ok holds (capped at len-1)
  SELECT a.group_id, a.url,
         (NOT coalesce(bool_or(
            greatest(CAST(0 AS DOUBLE), least(a.x1, b.x1) - greatest(a.x0, b.x0))
            * greatest(CAST(0 AS DOUBLE), least(a.y1, b.y1) - greatest(a.y0, b.y0))
            >= CAST(0.90 AS DOUBLE) * (greatest(CAST(0 AS DOUBLE), a.x1 - a.x0)
                                       * greatest(CAST(0 AS DOUBLE), a.y1 - a.y0))),
          FALSE))
         OR (greatest(CAST(0 AS DOUBLE), a.x1 - a.x0)
             * greatest(CAST(0 AS DOUBLE), a.y1 - a.y0)) = CAST(0 AS DOUBLE)
         AS stop_ok
  FROM mo_mem a LEFT JOIN mo_mem b
    ON a.group_id = b.group_id AND a.url != b.url
  GROUP BY a.group_id, a.url, a.x0, a.x1, a.y0, a.y1),
mo_sorted AS (
  SELECT m.group_id,
         list({{'u': m.url, 'x0': m.x0, 'x1': m.x1, 'y0': m.y0, 'y1': m.y1,
                'ok': c.stop_ok}}
              ORDER BY CASE WHEN g.tall THEN m.y0 ELSE m.x0 END, m.url) AS ms
  FROM mo_mem m
  JOIN mo_grp g ON m.group_id = g.group_id
  JOIN mo_cov c ON m.group_id = c.group_id AND m.url = c.url
  GROUP BY m.group_id),
mo_init AS (
  SELECT group_id,
         list_concat(ms[d + 1:len(ms)], ms[1:d]) AS rem
  FROM (SELECT group_id, ms,
               least(coalesce(list_position(
                       list_transform(ms, m -> m.ok), true) - 1,
                     len(ms) - 1), len(ms) - 1) AS d
        FROM mo_sorted)),
{fold_ctes}
SELECT group_id, p_u AS url, p_oidx AS order_idx, p_seg AS segment_num,
       p_red AS is_redundant
FROM ({union}) mo_all
"""


def _mo_fold_cte(name: str, gid: str) -> str:
    """One group's sequential greedy fold as a single-working-row
    recursive CTE (see merge_order_oracle_sql for why per-group)."""
    gid_lit = gid.replace("'", "''")
    return f"""{name} AS (
  SELECT group_id, 0 AS it, rem,
         CAST([] AS STRUCT(x0 DOUBLE, x1 DOUBLE, y0 DOUBLE, y1 DOUBLE)[]) AS acc,
         FALSE AS has_cur,
         CAST(0 AS DOUBLE) AS cx0, CAST(0 AS DOUBLE) AS cx1,
         CAST(0 AS DOUBLE) AS cy0, CAST(0 AS DOUBLE) AS cy1,
         0 AS seg, 0 AS oidx,
         CAST(NULL AS VARCHAR) AS p_u, CAST(NULL AS INT) AS p_oidx,
         CAST(NULL AS INT) AS p_seg, CAST(NULL AS BOOLEAN) AS p_red
  FROM mo_init WHERE group_id = '{gid_lit}'
  UNION ALL
  SELECT group_id, it + 1,
    -- every lambda in this recursive term runs UNCONDITIONALLY with the
    -- branch folded into its predicate/argument; lambda functions inside
    -- CASE branches of a recursive term mis-evaluate in duckdb 1.0
    list_filter(rem, m -> branch = 'break' OR m.u != (pick).u),
    CASE WHEN branch IN ('start', 'accept')
         THEN list_append(acc, {{'x0': (pick).x0, 'x1': (pick).x1,
                                 'y0': (pick).y0, 'y1': (pick).y1}})
         ELSE acc END,
    branch != 'break',
    CASE WHEN branch = 'start' THEN (pick).x0
         WHEN branch = 'accept' THEN least(cx0, (pick).x0) ELSE cx0 END,
    CASE WHEN branch = 'start' THEN (pick).x1
         WHEN branch = 'accept' THEN greatest(cx1, (pick).x1) ELSE cx1 END,
    CASE WHEN branch = 'start' THEN (pick).y0
         WHEN branch = 'accept' THEN least(cy0, (pick).y0) ELSE cy0 END,
    CASE WHEN branch = 'start' THEN (pick).y1
         WHEN branch = 'accept' THEN greatest(cy1, (pick).y1) ELSE cy1 END,
    seg + CASE WHEN branch = 'break' THEN 1 ELSE 0 END,
    oidx + CASE WHEN branch IN ('start', 'accept') THEN 1 ELSE 0 END,
    CASE WHEN branch = 'break' THEN NULL ELSE (pick).u END,
    CASE WHEN branch IN ('start', 'accept') THEN oidx
         WHEN branch = 'red' THEN -1 END,
    CASE WHEN branch = 'break' THEN NULL ELSE seg END,
    CASE WHEN branch = 'break' THEN NULL ELSE branch = 'red' END
  FROM (
    SELECT *,
      CASE WHEN NOT has_cur THEN 'start'
           WHEN (pick).a <= CAST(0 AS DOUBLE) THEN 'break'
           WHEN (parea - covered) < CAST(0.05 AS DOUBLE) * parea THEN 'red'
           ELSE 'accept' END AS branch
    FROM (
      SELECT *,
        greatest(CAST(0 AS DOUBLE), (pick).x1 - (pick).x0)
        * greatest(CAST(0 AS DOUBLE), (pick).y1 - (pick).y0) AS parea,
        -- unconditional lambda kernel: with has_cur false acc is empty,
        -- so the sweep coalesces to 0.0 anyway
        {_mo_union_covered('pick', 'acc')} AS covered
      FROM (
        -- pick selection is a PLAIN struct CASE over two pre-computed
        -- values: the unconditional argmax reduce (captures only the
        -- four cur doubles) and the directionally-first element
        SELECT * EXCLUDE (pick_red),
          CASE WHEN has_cur THEN pick_red
               ELSE {{'a': CAST(1 AS DOUBLE), 'u': rem[1].u,
                      'x0': rem[1].x0, 'x1': rem[1].x1,
                      'y0': rem[1].y0, 'y1': rem[1].y1}} END AS pick
        FROM (
          SELECT *,
            list_reduce(
              list_transform(rem, m -> {{'a': {_MO_INTER}, 'u': m.u,
                'x0': m.x0, 'x1': m.x1, 'y0': m.y0, 'y1': m.y1}}),
              (b, m) -> CASE WHEN m.a > b.a OR (m.a = b.a AND m.u < b.u)
                             THEN m ELSE b END) AS pick_red
          FROM {name} WHERE len(rem) > 0) mo_l0) mo_l1) mo_l2) mo_l3)"""


ORACLES["q_merge_order"] = merge_order_oracle_sql()


# Live feather-field oracle (round 5 — golden retired). The UDF's
# chessboard BFS runs on the FULLY DENSE pair rectangle (no obstacles:
# the frontier grows through empty cells too), so the BFS distance to the
# A-only / B-only seed set is EXACTLY the minimum Chebyshev distance
# max(|dx|,|dy|) over the seeds — a plain min-join, no recursion. The
# rescale denominator is written (0.55 - 0.25), not 0.3, to reproduce the
# engine's IEEE rounding of that subtraction bit-for-bit.
ORACLES["q_feather_field"] = D.with_cells(
    """SELECT d.pair, d.by * 64 + d.bx AS block,
              round(least(greatest((
                  (CASE WHEN d.dA IS NULL OR d.dB IS NULL THEN 0.5
                        ELSE CAST(d.dB AS DOUBLE) / (d.dA + d.dB) END)
                  - 0.25) / (0.55 - 0.25), 0.0), 1.0), 6) AS w
       FROM (
         SELECT o.pair, o.bx, o.by,
                (SELECT min(greatest(abs(o.bx - s.bx), abs(o.by - s.by)))
                 FROM ff_aonly s WHERE s.pair = o.pair) AS dA,
                (SELECT min(greatest(abs(o.bx - s.bx), abs(o.by - s.by)))
                 FROM ff_bonly s WHERE s.pair = o.pair) AS dB
         FROM ff_ov o) d""",
    extra_ctes=f"""
    ff_base AS (
      SELECT DISTINCT
        ('pair' || CAST(CAST(floor(CAST(substring(group_id, 5) AS INT) / 2)
                        AS BIGINT) AS VARCHAR)) AS pair,
        CAST(substring(group_id, 5) AS INT) % 2 AS side,
        {D.block_x_expr(_DD)} AS bx, {D.block_y_expr(_DD)} AS by
      FROM cells),
    ff_a AS (SELECT DISTINCT pair, bx, by FROM ff_base WHERE side = 0),
    ff_b AS (SELECT DISTINCT pair, bx, by FROM ff_base WHERE side = 1),
    ff_ov AS (SELECT a.pair, a.bx, a.by
              FROM ff_a a JOIN ff_b b
                ON a.pair = b.pair AND a.bx = b.bx AND a.by = b.by),
    ff_aonly AS (SELECT * FROM ff_a EXCEPT SELECT * FROM ff_ov),
    ff_bonly AS (SELECT * FROM ff_b EXCEPT SELECT * FROM ff_ov)""")


# Live closed-form coregistration oracle (round 5 — golden retired).
# The fit's dz vector is iteration-invariant (see q_coregister docstring),
# so: ONE 3-sigma gate (median/stddev_pop over all shared-block offsets),
# ONE normal-equations solve for [1,x,y] via 3x3 Cramer, ONE rmse — with
# the loop's observable iters fixed at 2 (or 0/1 on the gate exits).
# Block means divide an EXACT DECIMAL(30,12) sum, matching the engine's
# order-independent partial-sum contract (operators/merge.py). The
# group_a / group_b label is the side's lowest host NUMBER rendered
# 'host' || n, as merge._fit_aggs / _coregister do: a string min would
# label a side without host0 'host10', where the engine says 'host2'.
#
# Domain note: Cramer assumes the normal matrix is non-singular. If every
# kept block were COLLINEAR (all bx or all by equal — a 1-block-tall
# overlap), det = 0 exactly: the engine's lstsq returns the min-norm
# solution (not SQL-expressible) while this divides by zero, and the
# driver compare would fail LOUDLY on correct engine output. Geometrically
# impossible on the hash-scattered test corpora (>=10 blocks spanning a
# 2-D extent) and a visible-not-silent failure mode if data ever changes.
_COREG_CTES = f"""
    coreg_base AS (
      SELECT group_id, {D.z_expr(_DD)} AS z,
             {D.block_x_expr(_DD)} AS bx, {D.block_y_expr(_DD)} AS by,
             {D.block_id_expr(_DD)} AS block,
             {D.flags_expr(_DD)} AS flags,
             CAST(substring(group_id, 5) AS INT) AS hostnum
      FROM cells),
    coreg_pts AS (
      SELECT 'host' AS grain,
             CAST(CAST(floor(hostnum / 2) AS BIGINT) AS VARCHAR) AS pair,
             hostnum % 2 AS side, hostnum, block, bx, by, z, flags
      FROM coreg_base
      UNION ALL
      SELECT 'super', 'all', hostnum % 2, hostnum, block, bx, by, z, flags
      FROM coreg_base),
    coreg_bm AS (
      SELECT grain, pair, side, block, min(bx) AS bx, min(by) AS by,
             min(hostnum) AS hnum,
             CAST(sum(CAST(z AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS zm
      FROM coreg_pts GROUP BY grain, pair, side, block),
    coreg_pair AS (
      SELECT grain, pair,
             'host' || min(CASE WHEN side = 0 THEN hnum END) AS group_a,
             'host' || min(CASE WHEN side = 1 THEN hnum END) AS group_b
      FROM coreg_bm GROUP BY grain, pair),
    coreg_m AS (
      SELECT a.grain, a.pair, CAST(a.bx AS DOUBLE) AS x,
             CAST(a.by AS DOUBLE) AS y, b.zm - a.zm AS dz
      FROM (SELECT * FROM coreg_bm WHERE side = 0) a
      JOIN (SELECT * FROM coreg_bm WHERE side = 1) b
        ON a.grain = b.grain AND a.pair = b.pair AND a.block = b.block),
    coreg_st AS (
      SELECT grain, pair, count(*) AS n_points,
             median(dz) AS med, stddev_pop(dz) AS sd
      FROM coreg_m GROUP BY grain, pair),
    coreg_kept AS (
      SELECT m.* FROM coreg_m m JOIN coreg_st s
        ON m.grain = s.grain AND m.pair = s.pair
      WHERE abs(m.dz - s.med) <= 3 * s.sd + 1e-12),
    coreg_ks AS (
      SELECT grain, pair, CAST(count(*) AS DOUBLE) AS kn,
             sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
             sum(x*y) AS sxy, sum(y*y) AS syy,
             sum(dz) AS sz, sum(x*dz) AS sxz, sum(y*dz) AS syz
      FROM coreg_kept GROUP BY grain, pair),
    coreg_ctr AS (
      -- CENTERED normal equations (round-6 ADVICE): bx/by are shifted to
      -- their means before forming the 2x2 system, which keeps the
      -- conditioning benign (the raw 3x3 Cramer expansion squares the
      -- condition number of [1, x, y] with large absolute block coords);
      -- p0 is un-shifted afterwards. cxx*cyy - cxy^2 = 0 exactly iff the
      -- kept blocks are collinear — the engine's lstsq then returns the
      -- min-norm solution (not SQL-expressible), so the determinant guard
      -- emits NULL and the driver compare fails ATTRIBUTABLY on those
      -- rows instead of dividing by zero.
      SELECT grain, pair, kn,
             sx / kn AS mx, sy / kn AS my, sz / kn AS mz,
             sxx - sx * sx / kn AS cxx,
             sxy - sx * sy / kn AS cxy,
             syy - sy * sy / kn AS cyy,
             sxz - sx * sz / kn AS cxz,
             syz - sy * sz / kn AS cyz
      FROM coreg_ks),
    coreg_sol AS (
      SELECT grain, pair, kn, mz,
        CASE WHEN abs(cxx * cyy - cxy * cxy)
                  > 1e-12 * greatest(abs(cxx * cyy), 1e-300)
             THEN (cxz * cyy - cxy * cyz) / (cxx * cyy - cxy * cxy) END AS p1,
        CASE WHEN abs(cxx * cyy - cxy * cxy)
                  > 1e-12 * greatest(abs(cxx * cyy), 1e-300)
             THEN (cxx * cyz - cxy * cxz) / (cxx * cyy - cxy * cxy) END AS p2,
        mx, my
      FROM coreg_ctr),
    coreg_solf AS (
      SELECT grain, pair, kn,
             mz - p1 * mx - p2 * my AS p0, p1, p2
      FROM coreg_sol),
    coreg_rmse AS (
      SELECT k.grain, k.pair,
             sqrt(avg((k.dz - (s.p0 + s.p1*k.x + s.p2*k.y))
                    * (k.dz - (s.p0 + s.p1*k.x + s.p2*k.y)))) AS rmse
      FROM coreg_kept k JOIN coreg_solf s
        ON k.grain = s.grain AND k.pair = s.pair
      GROUP BY k.grain, k.pair),
    coreg_fin AS (
      SELECT p.grain, p.pair, p.group_a, p.group_b,
             coalesce(st.n_points, 0) AS n_points,
             CASE WHEN coalesce(st.n_points, 0) < 10 THEN 0
                  WHEN ks.kn < 10 THEN 1 ELSE 2 END AS iters,
             CASE WHEN coalesce(st.n_points, 0) < 10
                    OR ks.kn < 10 THEN CAST('NaN' AS DOUBLE)
                  WHEN greatest(abs(s.p1), abs(s.p2)) > 15.0
                    THEN st.med ELSE s.p0 END AS dz,
             CASE WHEN coalesce(st.n_points, 0) < 10
                    OR ks.kn < 10 THEN CAST('NaN' AS DOUBLE)
                  WHEN greatest(abs(s.p1), abs(s.p2)) > 15.0
                    THEN 0.0 ELSE s.p1 END AS dx,
             CASE WHEN coalesce(st.n_points, 0) < 10
                    OR ks.kn < 10 THEN CAST('NaN' AS DOUBLE)
                  WHEN greatest(abs(s.p1), abs(s.p2)) > 15.0
                    THEN 0.0 ELSE s.p2 END AS dy,
             CASE WHEN coalesce(st.n_points, 0) < 10
                    OR ks.kn < 10 THEN CAST('NaN' AS DOUBLE)
                  ELSE r.rmse END AS rmse,
             CASE WHEN coalesce(st.n_points, 0) < 10 THEN 'no_overlap'
                  WHEN ks.kn < 10 THEN 'too_few_inliers'
                  WHEN greatest(abs(s.p1), abs(s.p2)) > 15.0
                    THEN 'offset_capped'
                  ELSE 'ok' END AS status
      FROM coreg_pair p
      LEFT JOIN coreg_st st ON p.grain = st.grain AND p.pair = st.pair
      LEFT JOIN coreg_ks ks ON p.grain = ks.grain AND p.pair = ks.pair
      LEFT JOIN coreg_solf s ON p.grain = s.grain AND p.pair = s.pair
      LEFT JOIN coreg_rmse r ON p.grain = r.grain AND p.pair = r.pair)"""

ORACLES["q_coregister"] = D.with_cells(
    """SELECT grain, group_a, group_b, CAST(n_points AS INT) AS n_points,
              CAST(iters AS INT) AS iters,
              round(dz, 6) AS dz, round(dx, 6) AS dx, round(dy, 6) AS dy,
              round(rmse, 6) AS rmse, status
       FROM coreg_fin""",
    extra_ctes=_COREG_CTES)


# Live strip-assembly oracle (round 5 — golden retired): the full
# composition on top of coreg_fin. Mirrors operators/merge.strip_assemble
# exactly: usable gate (rmse <= 50, the synthetic-z cutoff) -> side B
# shifted by the FITTED translation (values: 4-corner bilinear scatter
# with the weight-sum support gate; presence/flags: nearest re-key) ->
# feather blend (x-span weight, the (0.55 - 0.25) IEEE form) + OR/bit_or;
# un-coregisterable pairs ride through un-blended as segment breaks. The
# blend means use plain DOUBLE sums (matching the engine's blend agg, NOT
# the fit's decimal partials) — both engines' sum-order ulps sit far
# inside the 1e-6 output rounding.
_STRIP_CTES = _COREG_CTES + f""",
    st_agg AS (
      SELECT grain, pair, side, bx, by,
             sum(z) AS sz, CAST(count(*) AS BIGINT) AS n,
             bit_or(flags) AS fl
      FROM coreg_pts GROUP BY grain, pair, side, bx, by),
    st_a AS (SELECT grain, pair, bx, by, sz / n AS za, n AS na, fl AS fla
             FROM st_agg WHERE side = 0),
    st_b AS (SELECT grain, pair, bx, by, sz / n AS zb, n AS nb, fl AS flb
             FROM st_agg WHERE side = 1),
    st_trans AS (
      SELECT grain, pair, dz, dx, dy,
             coalesce(status IN ('ok', 'offset_capped')
                      AND NOT isnan(rmse) AND rmse <= 50.0, FALSE) AS usable
      FROM coreg_fin),
    st_bt AS (
      SELECT b.grain, b.pair, b.bx, b.by, b.zb, b.nb, b.flb,
             t.dz, t.dx, t.dy
      FROM st_b b JOIN st_trans t
        ON b.grain = t.grain AND b.pair = t.pair AND t.usable),
    st_scat AS (
      SELECT grain, pair,
             bx - CAST(floor(dx) AS BIGINT) - c.i AS tbx,
             by - CAST(floor(dy) AS BIGINT) - c.j AS tby,
             (CASE WHEN c.i = 0 THEN 1.0 - (dx - floor(dx))
                   ELSE (dx - floor(dx)) END)
             * (CASE WHEN c.j = 0 THEN 1.0 - (dy - floor(dy))
                     ELSE (dy - floor(dy)) END) AS w4,
             zb - dz AS zs
      FROM st_bt CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) c(i, j)),
    st_zi AS (
      SELECT grain, pair, tbx AS bx, tby AS by, sum(w4 * zs) AS zi
      FROM st_scat GROUP BY grain, pair, tbx, tby
      HAVING sum(w4) >= 1.0 - 1e-9),
    st_bn AS (
      SELECT grain, pair,
             bx - CAST(floor(dx + 0.5) AS BIGINT) AS bx,
             by - CAST(floor(dy + 0.5) AS BIGINT) AS by, nb, flb
      FROM st_bt),
    st_bs AS (
      SELECT coalesce(z.grain, n.grain) AS grain,
             coalesce(z.pair, n.pair) AS pair,
             coalesce(z.bx, n.bx) AS bx, coalesce(z.by, n.by) AS by,
             z.zi, n.nb, n.flb
      FROM st_zi z FULL JOIN st_bn n
        ON z.grain = n.grain AND z.pair = n.pair
       AND z.bx = n.bx AND z.by = n.by),
    st_aok AS (
      SELECT a.* FROM st_a a
      WHERE EXISTS (SELECT 1 FROM st_trans t
                    WHERE t.grain = a.grain AND t.pair = a.pair
                      AND t.usable)),
    st_j AS (
      SELECT coalesce(a.grain, b.grain) AS grain,
             coalesce(a.pair, b.pair) AS pair,
             coalesce(a.bx, b.bx) AS bx, coalesce(a.by, b.by) AS by,
             a.za, a.na, a.fla, b.zi, b.nb, b.flb,
             (a.na IS NOT NULL AND b.zi IS NOT NULL) AS is_both,
             (a.na IS NOT NULL) AS in_a
      FROM st_aok a FULL JOIN st_bs b
        ON a.grain = b.grain AND a.pair = b.pair
       AND a.bx = b.bx AND a.by = b.by),
    st_w AS (
      SELECT *,
             least(greatest((
               (CAST(bx - min(CASE WHEN is_both THEN bx END)
                       OVER (PARTITION BY grain, pair) AS DOUBLE)
                / greatest(CAST(max(CASE WHEN is_both THEN bx END)
                                  OVER (PARTITION BY grain, pair)
                              - min(CASE WHEN is_both THEN bx END)
                                  OVER (PARTITION BY grain, pair) AS DOUBLE),
                           1.0))
               - 0.25) / (0.55 - 0.25), 0.0), 1.0) AS wgt
      FROM st_j),
    st_blend AS (
      SELECT grain, pair, bx, by,
             CAST(by * {D.LON_CELL_STRIDE} + bx AS BIGINT) AS block,
             CASE WHEN is_both THEN 'both'
                  WHEN in_a THEN 'a_only' ELSE 'b_only' END AS src,
             CASE WHEN is_both THEN wgt END AS w,
             CASE WHEN is_both THEN wgt * za + (1.0 - wgt) * zi
                  WHEN in_a THEN za ELSE zi END AS z_strip,
             coalesce(na, 0) + coalesce(nb, 0) AS n_pages,
             (in_a OR nb IS NOT NULL) AS matchtag,
             CAST(coalesce(fla, 0) | coalesce(flb, 0) AS INT)
               AS flags_merged,
             FALSE AS segment_break
      FROM st_w),
    st_broken AS (
      SELECT a.grain, a.pair, a.bx, a.by,
             CAST(a.by * {D.LON_CELL_STRIDE} + a.bx AS BIGINT) AS block,
             'a_only' AS src, CAST(NULL AS DOUBLE) AS w,
             a.za AS z_strip, a.na AS n_pages, TRUE AS matchtag,
             CAST(a.fla AS INT) AS flags_merged, TRUE AS segment_break
      FROM st_a a JOIN st_trans t
        ON a.grain = t.grain AND a.pair = t.pair AND NOT t.usable),
    st_out AS (
      SELECT grain, pair, block, src, w, z_strip, n_pages, matchtag,
             flags_merged, segment_break FROM st_blend
      UNION ALL
      SELECT grain, pair, block, src, w, z_strip, n_pages, matchtag,
             flags_merged, segment_break FROM st_broken)"""

ORACLES["q_strip_assembly"] = D.with_cells(
    """SELECT CASE grain WHEN 'super' THEN 'super' ELSE 'host' END
                AS variant,
              CASE WHEN grain = 'host' THEN 'pair' || pair
                   ELSE pair END AS pair,
              block, src, round(w, 6) AS w, round(z_strip, 6) AS z_strip,
              CAST(n_pages AS BIGINT) AS n_pages, matchtag, flags_merged,
              segment_break
       FROM st_out""",
    extra_ctes=_STRIP_CTES)


QUERIES = {
    "q_text_metrics": q_text_metrics,
    "q_extract_text": q_extract_text,
    "q_percentile_gate": q_percentile_gate,
    "q_cell_indexes": q_cell_indexes,
    "q_ring_stats": q_ring_stats,
    "q_pipeline_rollup": q_pipeline_rollup,
    "q_adaptive_tiles": q_adaptive_tiles,
    "q_bwareaopen": q_bwareaopen,
    "q_footprints": q_footprints,
    "q_feather_field": q_feather_field,
    "q_hex_knn": q_hex_knn,
    "q_fingerprint": q_fingerprint,
    "q_jaccard_pairs": q_jaccard_pairs,
    "q_minhash_lsh": q_minhash_lsh,
    "q_near_dup": q_near_dup,
    "q_simhash_pairs": q_simhash_pairs,
    "q_cosine_topk": q_cosine_topk,
    "q_merge_order": q_merge_order,
    "q_coregister": q_coregister,
    "q_feather_blend": q_feather_blend,
    "q_strip_assembly": q_strip_assembly,
    "q_ann_lsh": q_ann_lsh,            # approximate by design; deterministic
    "q_ann_ivf": q_ann_ivf,            # given seeds -> golden-checked
    "q_ann_dedup": q_ann_dedup,        # exact-collapse -> LSH over reps
}
