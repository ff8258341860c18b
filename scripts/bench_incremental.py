#!/usr/bin/env python
"""A/B: incremental snapshot dedup vs full recompute, corpus size swept.

The scale claim under test (operators/dedup.py, round 6): dedup of a new
batch against ALL history via the persisted band-signature state table
costs the batch's own signature work plus ONE pass over the compact
signature state (a few short rows per doc, no shuffle on the corpus side,
corpus TEXT never re-read) — while the naive alternative re-shingles,
re-hashes, and re-shuffles the whole corpus every batch. Sweeping the
corpus a decade with the batch fixed should show probe time near-flat
and full-recompute time growing ~linearly.

Corpus: deterministic synthetic DISTINCT documents (30 md5-derived tokens
per doc — no accidental near-dups, so pair output stays bounded and the
timing measures operator work, not result materialization). The first
CLONE_N batch docs are exact clones of corpus docs, so the probe's result
is non-empty and its correctness is asserted in-run (clone pairs found at
every size, all 4 bands shared).

One JSON line per (corpus_n) to BENCH/incremental.jsonl; BENCH/
INCREMENTAL.md regenerated from all recorded rows. State-table build time
is reported separately (state_build_s) — the once-per-snapshot job the
per-batch probes amortize, same bookkeeping as the layout write in
bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

BATCH_N = int(os.environ.get("INCR_BATCH_N", "5000"))
CLONE_N = 50
CORPUS_SIZES = [int(s) for s in os.environ.get(
    "INCR_CORPUS_SIZES", "50000,500000").split(",")]
REPS = int(os.environ.get("INCR_REPS", "3"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
WORK = Path(os.environ.get("INCR_WORKDIR", "/tmp/incr_bench"))


def synth_docs(spark, n: int, id_offset: int = 0, clone_base: int = 0):
    """n deterministic distinct documents: doc i = 30 six-hex-char tokens
    md5-derived from its BASE id. base = id for ordinary docs; the first
    CLONE_N docs of a batch (id_offset > 0) reuse base ids 0..CLONE_N-1,
    i.e. they are byte-identical clones of corpus docs."""
    import pyspark.sql.functions as F

    base = (f"CASE WHEN {id_offset} > 0 AND id - {id_offset} < {CLONE_N} "
            f"THEN id - {id_offset} ELSE id END")
    return spark.range(id_offset, id_offset + n).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(sequence(1, 30), "
            f"j -> substr(md5(concat(cast(({base}) as string), ':', "
            "cast(j as string))), 1, 6)))").alias("text"))


def timed_min(fn, reps: int = REPS) -> float:
    fn()  # warmup: codegen/UDF init
    best = float("inf")
    for _ in range(reps):
        t = time.time()
        fn()
        best = min(best, time.time() - t)
    return round(best, 3)


def run_size(spark, corpus_n: int) -> dict:
    import pyspark.sql.functions as F

    from setsm_postprocessing_python_spark.operators import dedup as DD

    corpus_dir = WORK / f"corpus_{corpus_n}"
    if not (corpus_dir / "_SUCCESS").exists():
        synth_docs(spark, corpus_n).repartition(32).write.mode(
            "overwrite").parquet(str(corpus_dir))
    corpus = spark.read.parquet(str(corpus_dir))
    batch = synth_docs(spark, BATCH_N, id_offset=corpus_n)

    table = f"incr_sigs_{corpus_n}"
    t0 = time.time()
    sig_tbl, did = DD.ensure_signature_layout(
        spark, str(WORK / f"sigs_{corpus_n}"), table,
        build=lambda: corpus, meta={"corpus_n": corpus_n}, n_buckets=32)
    state_build_s = round(time.time() - t0, 3) if did else 0.0
    n_sig_rows = sig_tbl.count()

    def probe():
        out = DD.incremental_lsh_pairs(
            DD.band_signatures(batch), sig_tbl)
        n = out.count()
        assert n >= CLONE_N, f"clone pairs missing: {n}"
        return n

    def full():
        return DD.lsh_candidate_pairs(corpus.unionByName(batch)).count()

    t_probe = timed_min(probe)
    t_full = timed_min(full)
    # correctness spot-check at this size: every clone pair present with
    # all 4 bands shared
    clones = (DD.incremental_lsh_pairs(DD.band_signatures(batch), sig_tbl)
              .where(F.col("id_a") < CLONE_N)
              .where(F.col("n_shared_bands") == 4).count())
    assert clones >= CLONE_N, f"expected >= {CLONE_N} clone pairs, {clones}"
    return {"corpus_n": corpus_n, "batch_n": BATCH_N,
            "probe_s": t_probe, "full_s": t_full,
            "speedup": round(t_full / t_probe, 2),
            "state_build_s": state_build_s, "n_sig_rows": n_sig_rows,
            "reps": REPS, "parallelism": CPUS}


RESOLVE_SIZES = [int(s) for s in os.environ.get(
    "INCR_RESOLVE_SIZES", "50000,500000").split(",")]
RESOLVE_DUP = int(os.environ.get("INCR_RESOLVE_DUP", "10"))


def synth_cluster_docs(spark, n: int, dup: int = RESOLVE_DUP):
    """n docs in n/dup planted near-dup clusters: doc i shares its 30
    base tokens with the other dup-1 variants of base (i % (n/dup)) and
    differs by ONE trailing variant token — distinct texts (exact
    collapse no-ops), high pairwise Jaccard (~0.9), bounded cluster
    size (the LSH candidate volume per cluster is <= C(dup,2))."""
    import pyspark.sql.functions as F

    base = f"(id % {n // dup})"
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat(concat_ws(' ', transform(sequence(1, 30), "
            f"j -> substr(md5(concat(cast(({base}) as string), ':', "
            "cast(j as string))), 1, 6))), "
            f"' v', cast(id div {n // dup} as string))").alias("text"))


def run_resolve(spark, n: int) -> dict:
    """Time the full pair->component->verdict resolution (deduplicate)
    on a corpus of n/RESOLVE_DUP planted near-dup clusters; assert the
    verdict invariants in-run (one row per doc, keeps == clusters found
    by the pair graph, >= 90% of clusters fully collapsed)."""
    from setsm_postprocessing_python_spark.operators import dedup as DD
    from setsm_postprocessing_python_spark.session import (cache_scope,
                                                           cached)

    kept_seen: list = []
    with cache_scope():  # docs + every cache deduplicate makes
        docs = cached(synth_cluster_docs(spark, n))
        n_docs = docs.count()
        assert n_docs == n

        def resolve():
            out = DD.deduplicate(docs)
            kept = out.where("keep").count()
            total = out.count()
            assert total == n, f"verdict rows {total} != docs {n}"
            kept_seen.append(kept)

        t = timed_min(resolve)  # warmup inside timed_min captures kept too
    kept = kept_seen[0]
    n_clusters = n // RESOLVE_DUP
    # LSH links ~J=0.9 pairs with high probability; allow a small tail of
    # split clusters but require >= 90% full collapse
    assert n_clusters <= kept <= int(n_clusters * 1.1), (n_clusters, kept)
    return {"mode": "resolve", "corpus_n": n, "dup": RESOLVE_DUP,
            "resolve_s": t, "kept": kept, "clusters": n_clusters,
            "docs_per_sec": round(n / t, 1),
            "reps": REPS, "parallelism": CPUS}


def run_flat_ab(spark, corpus_n: int) -> dict:
    """Probe the SAME signature files through the bucketed catalog table
    vs a plain parquet read (corpus side must then shuffle on band_sig):
    the wall-clock value of the plan-pinned Exchange elimination at this
    corpus size. Requires the corpus/sig layout from a prior run_size."""
    from setsm_postprocessing_python_spark.operators import dedup as DD

    corpus_dir = WORK / f"corpus_{corpus_n}"
    sig_dir = WORK / f"sigs_{corpus_n}"
    table = f"incr_sigs_{corpus_n}"
    corpus = spark.read.parquet(str(corpus_dir))
    sig_tbl, did = DD.ensure_signature_layout(
        spark, str(sig_dir), table,
        build=lambda: corpus, meta={"corpus_n": corpus_n}, n_buckets=32)
    batch = synth_docs(spark, BATCH_N, id_offset=corpus_n)
    sigs_flat = spark.read.parquet(str(sig_dir))

    def probe(corpus_sigs):
        return DD.incremental_lsh_pairs(
            DD.band_signatures(batch), corpus_sigs).count()

    t_bucketed = timed_min(lambda: probe(sig_tbl))
    t_flat = timed_min(lambda: probe(sigs_flat))
    return {"mode": "flat_ab", "corpus_n": corpus_n, "batch_n": BATCH_N,
            "probe_bucketed_s": t_bucketed, "probe_flat_s": t_flat,
            "speedup": round(t_flat / t_bucketed, 2),
            "state_rebuilt": did, "reps": REPS, "parallelism": CPUS}


def write_md(rows: list) -> None:
    resolve_rows = sorted((r for r in rows if r.get("mode") == "resolve"),
                          key=lambda r: r["corpus_n"])
    flat_ab_rows = sorted((r for r in rows if r.get("mode") == "flat_ab"),
                          key=lambda r: r["corpus_n"])
    rows = sorted((r for r in rows if r.get("mode") in (None, "probe")),
                  key=lambda r: (r["corpus_n"], r["batch_n"]))
    md = ["# Incremental snapshot dedup vs full recompute", "",
          "Per-batch near-dup probe over the persisted band-signature",
          "state table (operators/dedup.py: band_signatures +",
          "incremental_lsh_pairs; state bucketed by band_sig via the",
          "kill-safe layout protocol) vs re-running lsh_candidate_pairs",
          "over corpus ∪ batch. Batch fixed, corpus swept two decades:",
          "the probe re-reads only the compact signature state (~4 short",
          "rows/doc, corpus side shuffle-free), never corpus text — so",
          "probe time should stay near-flat while full recompute grows",
          "~linearly with corpus text. state_build_s is the once-per-",
          "snapshot layout job the probes amortize (same bookkeeping as",
          "the pages layout write in bench.py); min-of-REPS timing after",
          "a warmup pass, same protocol as every other bench here.", "",
          "| corpus docs | batch docs | probe s | full recompute s |"
          " speedup | state build s | sig rows |",
          "|---|---|---|---|---|---|---|"]
    for r in rows:
        md.append(f"| {r['corpus_n']:,} | {r['batch_n']:,} | {r['probe_s']}"
                  f" | {r['full_s']} | {r['speedup']}x"
                  f" | {r['state_build_s']} | {r['n_sig_rows']:,} |")
    if len(rows) >= 2:
        lo, hi = rows[0], rows[-1]
        md += ["", f"Corpus grew {hi['corpus_n'] // lo['corpus_n']}x:"
               f" probe {lo['probe_s']}s -> {hi['probe_s']}s"
               f" ({hi['probe_s'] / max(lo['probe_s'], 1e-9):.1f}x),"
               f" full recompute {lo['full_s']}s -> {hi['full_s']}s"
               f" ({hi['full_s'] / max(lo['full_s'], 1e-9):.1f}x).",
               "state_build_s = 0.0 means the marker found a prior build",
               "for that corpus (the layout-write reuse convention shared",
               "with bench.py). The probe's residual growth is the",
               "bucket-local signature scan; at a fixed batch size the",
               "advantage keeps growing ~linearly with corpus size."]
    if flat_ab_rows:
        md += ["", "## Probe layout A/B: bucketed state table vs flat parquet",
               "",
               "The SAME signature files probed through the bucketed",
               "catalog table vs a plain parquet read. HONEST NEGATIVE",
               "at this batch size: both plans BROADCAST the small batch",
               "(verified in the physical plans), so the corpus never",
               "shuffles in EITHER layout and the bucketed scan's fixed",
               "32-bucket task granularity makes it slightly slower. The",
               "layout's Exchange elimination (plan-pinned under",
               "no-broadcast in test_incremental_dedup.py) is the",
               "guarantee for the OTHER regime — batches too large to",
               "broadcast (backfills, snapshot-vs-snapshot joins) — not a",
               "win for small-batch probes, which are already corpus-",
               "shuffle-free via broadcast. The large-batch leg (1M-doc",
               "batch: its 4M-row signature frame exceeds the broadcast",
               "threshold naturally) flips the sign: the layout avoids",
               "the 20M-row corpus shuffle and wins — modestly here",
               "because this sandbox shuffles through tmpfs at memory",
               "speed, dominantly on a real cluster where that shuffle",
               "is network I/O ∝ corpus size.", "",
               "| corpus docs | batch docs | bucketed probe s |"
               " flat probe s | speedup |", "|---|---|---|---|---|"]
        for r in flat_ab_rows:
            md.append(f"| {r['corpus_n']:,} | {r['batch_n']:,} "
                      f"| {r['probe_bucketed_s']} | {r['probe_flat_s']} "
                      f"| {r['speedup']}x |")
    if resolve_rows:
        md += ["", "## Pair -> component -> verdict resolution at scale",
               "",
               "deduplicate() end-to-end (exact collapse, LSH pairs,",
               "pointer-jumping CC, one verdict row per doc) on corpora",
               "of planted 10-doc near-dup clusters (distinct texts,",
               "~0.9 pairwise Jaccard — the worst case for resolution:",
               "every doc is in a multi-doc component). Warm-min timing;",
               "correctness asserted in-run (verdict rows == docs, kept",
               "within 10% of planted cluster count).", "",
               "| corpus docs | clusters | resolve s | kept | docs/sec |",
               "|---|---|---|---|---|"]
        for r in resolve_rows:
            md.append(f"| {r['corpus_n']:,} | {r['clusters']:,} "
                      f"| {r['resolve_s']} | {r['kept']:,} "
                      f"| {r['docs_per_sec']:,} |")
        if len(resolve_rows) >= 2:
            lo, hi = resolve_rows[0], resolve_rows[-1]
            md.append("")
            md.append(
                f"Corpus grew {hi['corpus_n'] // lo['corpus_n']}x: "
                f"resolution {lo['resolve_s']}s -> {hi['resolve_s']}s "
                f"({hi['resolve_s'] / max(lo['resolve_s'], 1e-9):.1f}x) — "
                "~linear in docs; CC rounds stay log-bounded because "
                "cluster diameter, not corpus size, drives them.")
    (REPO / "BENCH" / "INCREMENTAL.md").write_text("\n".join(md) + "\n")


def main() -> None:
    from setsm_postprocessing_python_spark.session import get_spark

    spark = get_spark(parallelism=CPUS, app_name="bench-incremental")
    hist = REPO / "BENCH" / "incremental.jsonl"
    if "--resolve" in sys.argv:
        todo = [(run_resolve, n) for n in RESOLVE_SIZES]
    elif "--flat-ab" in sys.argv:
        todo = [(run_flat_ab, max(CORPUS_SIZES))]
    else:
        todo = [(run_size, n) for n in CORPUS_SIZES]
    for fn, n in todo:
        row = fn(spark, n)
        with hist.open("a") as f:
            f.write(json.dumps({"ts": time.time(), **row}) + "\n")
        print(json.dumps(row), flush=True)
    spark.stop()
    rows = [json.loads(ln) for ln in hist.read_text().splitlines() if ln]
    # latest row per protocol key
    latest = {}
    for r in rows:
        latest[(r.get("mode", "probe"), r["corpus_n"],
                r.get("batch_n"), r.get("dup"))] = r
    write_md(list(latest.values()))


if __name__ == "__main__":
    main()
