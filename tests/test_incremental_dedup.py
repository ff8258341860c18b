"""Incremental (snapshot-over-snapshot) dedup — the per-batch probe over
a persisted state table (operators/dedup.py, round 6).

The 100 TB claim under test: a new crawl batch dedups against ALL history
at cost ∝ |batch|, via one state table — the band_signatures table,
stored bucketed by band_sig: incremental_lsh_pairs(batch, corpus) must
equal EXACTLY the subset of lsh_candidate_pairs(corpus ∪ batch) touching
>= 1 batch doc, and the corpus side of the probe join must plan ZERO
Exchanges over the bucketed layout (only the batch shuffles — at 10^12
corpus rows the probe cost is batch-sized).

Reference analogue: the checkfile/`.fin` semantics that keep re-run
batches from redoing finished work (batch_scenes2strips.py:1518-1533),
here applied to dedup state instead of strip outputs.
"""

from __future__ import annotations

from setsm_postprocessing_python_spark.operators.dedup import (
    band_signatures,
    ensure_signature_layout,
    incremental_lsh_pairs,
    lsh_candidate_pairs,
)
from setsm_postprocessing_python_spark.sources.bucketed import ensure_bucketed_ingest

from .planview import formatted_plan, n_exchanges

BASE = " ".join(f"w{i}" for i in range(40))

# ids 0-5: snapshot 0 (history); 6-9: batch 1; 10-12: batch 2.
# Near-dup groups span the splits (0/1/3/6/8/10 are variants of BASE),
# exact dups span them too (2 == 7), and each split has unrelated docs.
ROWS = [
    (0, f"{BASE} endA"),
    (1, f"{BASE} endB"),
    (2, "p q r s t u v w x y z"),
    (3, f"{BASE} endA"),             # exact dup of 0 within history
    (4, "one two three four five six seven"),
    (5, "red blue green cyan pink gold gray"),
    (6, f"{BASE} endC"),
    (7, "p q r s t u v w x y z"),    # exact dup of 2 across the split
    (8, f"{BASE} endD"),
    (9, "alpha beta gamma delta epsilon zeta"),
    (10, f"{BASE} endE"),
    (11, "north south east west up down in"),
    (12, "one two three four five six seven"),  # exact dup of 4
]


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [r for r in ROWS if lo <= r[0] < hi], "doc_id long, text string")


def _pairs(df):
    return {(r.id_a, r.id_b): r.n_shared_bands for r in df.collect()}


def test_incremental_lsh_equals_full_recompute_restriction(spark):
    old, new = _docs(spark, 0, 6), _docs(spark, 6, 10)
    full = _pairs(lsh_candidate_pairs(old.unionByName(new)))
    expected = {p: n for p, n in full.items() if p[0] >= 6 or p[1] >= 6}
    got = _pairs(incremental_lsh_pairs(
        band_signatures(new), band_signatures(old)))
    assert got == expected
    assert expected, "fixture must produce cross-split pairs"
    # history-internal pairs exist in the full join and are excluded here
    assert any(a < 6 and b < 6 for a, b in full)
    assert any(a < 6 <= b for (a, b) in got)       # batch-vs-corpus
    assert any(a >= 6 and b >= 6 for (a, b) in got)  # within-batch
    # exact cross-split dup (2 == 7) shares every band
    assert got[(2, 7)] == 4


def test_incremental_probe_after_own_ingest_counts_true_bands(spark):
    """The probe-after-crash replay: the batch's signatures are ALREADY
    in the corpus table (ingest committed, downstream lost). Self-pairs
    must drop and pair band counts must be the TRUE distinct-band count,
    not within + both cross directions (3x inflation would break every
    n_shared_bands threshold downstream)."""
    new = _docs(spark, 6, 10)
    old = _docs(spark, 0, 6)
    sigs_new = band_signatures(new)
    disjoint = _pairs(incremental_lsh_pairs(sigs_new, band_signatures(old)))
    # corpus that already absorbed the batch's own signatures
    merged = band_signatures(old.unionByName(new))
    overlap = _pairs(incremental_lsh_pairs(sigs_new, merged))
    assert overlap == disjoint
    assert all(1 <= n <= 4 for n in overlap.values())


def test_signature_layout_probe_is_corpus_side_shuffle_free(
        spark, tmp_path, no_broadcast):
    """The scale shape: with the corpus signature state stored bucketed
    by band_sig, the probe join's corpus side is a bucket-local scan —
    exactly ONE fewer Exchange than probing the same files as plain
    parquet, and bit-identical pairs."""
    old, new = _docs(spark, 0, 6), _docs(spark, 6, 10)
    table = "t_sig_layout"
    path = str(tmp_path / "sigs")
    try:
        tbl, did = ensure_signature_layout(
            spark, path, table, build=lambda: old,
            meta={"snap": "s0"}, n_buckets=4)
        assert did
        new_sigs = band_signatures(new)
        q_bucketed = incremental_lsh_pairs(new_sigs, tbl)
        q_flat = incremental_lsh_pairs(new_sigs, spark.read.parquet(path))
        assert _pairs(q_bucketed) == _pairs(q_flat)
        plan = formatted_plan(q_bucketed)
        assert "Bucketed: true" in plan
        assert n_exchanges(q_bucketed) == n_exchanges(q_flat) - 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_signature_layout_rewrites_when_constants_change(spark, tmp_path):
    """The marker records every signature-affecting constant (shingle_n,
    hash count/bands, the seed-derived permutation constants): a state
    table built under different constants is STALE and must be
    rewritten, never silently joined against (mixed-grain signatures
    would drop recall to ~0 with no error)."""
    import json
    from pathlib import Path

    from setsm_postprocessing_python_spark.sources.bucketed import (
        LAYOUT_MARKER)

    old = _docs(spark, 0, 6)
    table = "t_sig_stale"
    path = str(tmp_path / "sigs")
    try:
        _, did = ensure_signature_layout(
            spark, path, table, build=lambda: old,
            meta={"snap": "s0"}, n_buckets=4)
        assert did
        marker = Path(path) / LAYOUT_MARKER
        rec = json.loads(marker.read_text())
        assert rec["shingle_n"] == 3 and "params_crc" in rec
        rec["shingle_n"] = 4  # state written by a different tokenization
        marker.write_text(json.dumps(rec))
        _, did2 = ensure_signature_layout(
            spark, path, table, build=lambda: old,
            meta={"snap": "s0"}, n_buckets=4)
        assert did2, "constant drift must trigger the rewrite path"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_signature_ingest_grows_state_exactly_once(spark, tmp_path):
    """Per-batch flow over two snapshots: probe batch 1 against snapshot
    0, ingest batch 1's signatures, then probe batch 2 against the grown
    table — each probe equals the full recompute restricted to its batch,
    and replaying an applied ingest id is a no-op."""
    old = _docs(spark, 0, 6)
    b1, b2 = _docs(spark, 6, 10), _docs(spark, 10, 13)
    table = "t_sig_ingest"
    path = str(tmp_path / "sigs")
    try:
        tbl, did = ensure_signature_layout(
            spark, path, table, build=lambda: old,
            meta={"snap": "s0"}, n_buckets=4)
        assert did

        full_b1 = _pairs(lsh_candidate_pairs(old.unionByName(b1)))
        want_b1 = {p: n for p, n in full_b1.items() if max(p) >= 6}
        assert _pairs(incremental_lsh_pairs(band_signatures(b1), tbl)) \
            == want_b1

        tbl, did = ensure_bucketed_ingest(
            spark, path, table, build=lambda: band_signatures(b1),
            ingest_id="b1", n_buckets=4, key="band_sig")
        assert did
        assert tbl.count() == band_signatures(
            old.unionByName(b1)).count()
        _, did_again = ensure_bucketed_ingest(
            spark, path, table, build=lambda: band_signatures(b1),
            ingest_id="b1", n_buckets=4, key="band_sig")
        assert not did_again  # checkfile: replay no-ops

        all12 = old.unionByName(b1).unionByName(b2)
        full_b2 = _pairs(lsh_candidate_pairs(all12))
        want_b2 = {p: n for p, n in full_b2.items() if max(p) >= 10}
        assert want_b2, "batch 2 must pair against both earlier snapshots"
        assert _pairs(incremental_lsh_pairs(
            band_signatures(b2), spark.table(table))) == want_b2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
