"""Dedup operator unit tests beyond the oracle parity suite: the
hot-shingle max_df scale knob, the shingle kernel against its DuckDB twin
and minhash/jaccard agreement."""

from __future__ import annotations

import duckdb

from setsm_postprocessing_python_spark.operators.dedup import (
    band_signatures,
    jaccard_pairs,
    lsh_candidate_pairs,
    shingle_rows,
    shingles_expr,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string")


def test_jaccard_max_df_is_subset_and_drops_hot_shingle_pairs(spark):
    # boilerplate tail shared by EVERY doc (df=4 -> filtered at max_df=2);
    # docs 0/1 share a long real head, docs 2/3 share ONLY the boilerplate
    boiler = "visit our site for all rights reserved contact"
    rows = [
        f"alpha beta gamma delta epsilon zeta theta iota kappa {boiler}",
        f"alpha beta gamma delta epsilon zeta theta iota lam {boiler}",
        f"one two three four five six seven eight nine {boiler}",
        f"red blue green cyan pink gold gray teal plum {boiler}",
    ]
    df = _docs(spark, rows)
    exact = {(r.id_a, r.id_b) for r in jaccard_pairs(df, 15).collect()}
    capped = {(r.id_a, r.id_b)
              for r in jaccard_pairs(df, 15, max_df=2).collect()}
    assert capped <= exact
    assert (2, 3) in exact           # boilerplate alone passes the naive form
    assert (0, 1) in capped          # real similarity survives the cap
    assert (2, 3) not in capped      # boilerplate-only pair dropped


def test_minhash_signature_duplicate_insensitive(spark):
    # identical texts -> identical band signatures; a repeated shingle
    # does not matter: "a b c a b c a b" has the shingle set of
    # "a b c a b" (abc, bca, cab), each shingle twice
    df = _docs(spark, ["a b c d e f", "a b c d e f",
                       "a b c a b c a b", "a b c a b"])
    by_id: dict = {}
    for r in band_signatures(df).collect():
        by_id.setdefault(r.doc_id, {})[r.band] = r.band_sig
    assert len(by_id[0]) == 4
    assert by_id[0] == by_id[1]
    assert by_id[2] == by_id[3]
    assert by_id[0] != by_id[2]


# NULL, empty, 1-3 tokens, double/leading/trailing spaces (empty tokens),
# repeated shingles and non-ASCII words
SHINGLE_TEXTS = [None, "", " ", "a", "a b", "a b c", "a b c d",
                 "a  b c", " a b c", "a b c ", "  a b  ",
                 "x y z x y z x y z", "naïve café über straße 東京 ok",
                 "ß ẞ ǅ ﬁ"]


def test_shingle_rows_match_duckdb_twin(spark):
    """shingle_rows (split once, zipped slices) yields exactly the rows of
    the oracle's unnest(shingles_expr()), duplicates included."""
    rows = list(enumerate(SHINGLE_TEXTS))
    got = sorted(map(tuple, shingle_rows(_docs(spark, SHINGLE_TEXTS))
                     .collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    want = sorted(con.execute(
        f"SELECT doc_id, unnest({shingles_expr()}) FROM d").fetchall())
    assert got == want
    assert ((5, "a b c") in got and (6, "a b c") in got
            and (7, "a  b") in got and sum(r[0] == 11 for r in got) == 7)
    assert not any(r[0] in (0, 1, 2, 3, 4) for r in got)


def test_lsh_catches_identical_docs(spark):
    df = _docs(spark, ["w1 w2 w3 w4 w5 w6", "w1 w2 w3 w4 w5 w6",
                       "x1 x2 x3 x4 x5 x6"])
    pairs = {(r.id_a, r.id_b, r.n_shared_bands)
             for r in lsh_candidate_pairs(df).collect()}
    assert (0, 1, 4) in pairs  # identical docs share all 4 bands
    assert not any(p[:2] in {(0, 2), (1, 2)} for p in pairs)


def test_near_dup_pipeline_collapses_exact_dups(spark):
    """Exact-dup pre-collapse: candidate pairs are between duplicate
    GROUPS (reps = min doc_id), weighted by group sizes; near-identical
    groups still pair, and no pair links two members of the same group."""
    base = " ".join(f"w{i}" for i in range(40))
    rows = ([f"{base} endu"] * 3         # group A: ids 0,1,2 (rep 0)
            + [f"{base} endv"] * 2       # group B: ids 3,4 (rep 3), J~0.93
            + ["x y z w k j"])           # group C: id 5, unrelated
    df = _docs(spark, rows)
    from setsm_postprocessing_python_spark.operators.dedup import (
        near_dup_pipeline)

    out = {(r.id_a, r.id_b): (r.n_docs_a, r.n_docs_b, r.n_shared_bands)
           for r in near_dup_pipeline(df).collect()}
    assert set(out) == {(0, 3)}          # only the A-B group pair
    assert out[(0, 3)][0] == 3 and out[(0, 3)][1] == 2
    assert out[(0, 3)][2] >= 1           # shares at least one band
