"""Physical-plan regression tests: the properties that matter at 100 TB
must survive refactors (column pruning, pushdown, partial aggs, top-k
pushdown, broadcast of small sides)."""

from __future__ import annotations

import pytest

from .planview import formatted_plan, n_exchanges

SF = "/root/testdata/sf0.001"




def test_tile_counts_prunes_to_doc_id(spark):
    """The whole geocode->tile->rollup chain must read ONLY doc_id — the
    wide text/html columns never leave the parquet reader."""
    from setsm_postprocessing_python_spark.plans.queries import q_tile_counts

    plan = formatted_plan(q_tile_counts(spark, SF))
    assert "ReadSchema: struct<doc_id:" in plan
    assert "text" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_tile_counts_partial_aggregation(spark):
    """Map-side combine: a partial HashAggregate must precede the Exchange."""
    from setsm_postprocessing_python_spark.plans.queries import q_tile_counts

    plan = formatted_plan(q_tile_counts(spark, SF))
    agg_before_exchange = plan.index("HashAggregate") < plan.index("Exchange")
    assert agg_before_exchange


def test_knn_uses_topk_pushdown(spark):
    """row_number()<=k must compile to WindowGroupLimit (partial top-k
    before the shuffle), not a full sort."""
    from setsm_postprocessing_python_spark.plans.queries import q_knn

    plan = formatted_plan(q_knn(spark, SF))
    assert "WindowGroupLimit" in plan


def test_dn2rad_broadcasts_dim(spark):
    """The 5-row gain/offset dim side must be broadcast, never shuffled."""
    from setsm_postprocessing_python_spark.plans.queries_ref import q_dn2rad

    plan = formatted_plan(q_dn2rad(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_ring_density_is_join_free(spark):
    """The occupied-cell check must ride the scatter shuffle (self-marker
    max), NOT a join back to the cell set — at 100 TB that join is a whole
    extra |cells|-row shuffle per kernel application."""
    from setsm_postprocessing_python_spark.operators.neighborhood import (
        ring_density)
    from setsm_postprocessing_python_spark.sources.pages import geocoded_pages

    plan = formatted_plan(ring_density(geocoded_pages(spark, SF), ring=1))
    assert "Join" not in plan


# Exchange count of every query built on the cell-offset scatter
# (neighborhood.scatter) and of the kNN queries sharing its block rule and
# top-k tail: a refactor that adds a shuffle fails here. q_interp_shift
# is one explode over the negated offsets (3 Exchanges; the former union
# of four selects planned 6).
KERNEL_EXCHANGES = {
    "q_ring_density": 1, "q_ring_stats": 5, "q_conv2": 2, "q_slope": 3,
    "q_interp_shift": 3, "q_morphology": 6, "q_resize_bilinear": 9,
    "q_water_compose": 6, "q_bwareaopen": 2, "q_fill_holes": 2,
    "q_knn": 1, "q_hex_knn": 2,
}


@pytest.mark.parametrize("name", sorted(KERNEL_EXCHANGES))
def test_kernel_exchange_count(spark, name):
    from setsm_postprocessing_python_spark.plans import queries as Q
    from setsm_postprocessing_python_spark.plans import queries_ext as QE
    from setsm_postprocessing_python_spark.plans import queries_ref as QR
    from setsm_postprocessing_python_spark.session import cache_scope

    query = next(getattr(m, name) for m in (Q, QE, QR) if hasattr(m, name))
    with cache_scope():
        assert n_exchanges(query(spark, SF)) == KERNEL_EXCHANGES[name]


def test_slope_partial_aggregation(spark):
    """central_gradient: one scatter + conditional-agg gather; the partial
    HashAggregate must precede the Exchange (map-side combine)."""
    from setsm_postprocessing_python_spark.plans.queries_ref import q_slope

    plan = formatted_plan(q_slope(spark, SF))
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_adaptive_assign_stays_a_join(spark):
    """The adaptive assignment joins the pages to adaptive_leaf_map on the
    deep quadkey: no collect-backed local relation of leaves."""
    from setsm_postprocessing_python_spark.operators.tiles import (
        assign_tiles_adaptive)
    from setsm_postprocessing_python_spark.sources.pages import geocoded_pages

    df = geocoded_pages(spark, SF)
    plan = assign_tiles_adaptive(df, max_pages=50, max_depth=8) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan and "LocalTableScan" not in plan


def _self_join_on_block(d):
    import pyspark.sql.functions as F

    left = d.select(F.col("url").alias("ua"), "block")
    right = d.select(F.col("url").alias("ub"), "block")
    return left.join(right, "block").where("ua < ub")






def test_bucketed_layout_eliminates_cell_join_exchange(
        spark, tmp_path, no_broadcast):
    """THE central 100 TB claim (PLANS.md): writing pages bucketed by the
    join block makes the spatial equi-join shuffle-free. The flat layout
    plans an Exchange per side; the bucketed table's scan reports
    HashPartitioning(block, N) and Catalyst plans ZERO Exchanges for the
    same join, with identical results."""
    from setsm_postprocessing_python_spark.sources import bucketed as B

    # 4096-cell blocks (shift 12): coarse enough that sf0.001 pages share
    # blocks, so the join is non-vacuous
    flat = B.blocked_pages(spark, SF, block_shift=12)
    tbl, _ = B.ensure_bucketed(spark, str(tmp_path / "bkt"),
                               "t_bkt_cell_join", build=lambda: flat, meta={})
    try:
        bplan = formatted_plan(_self_join_on_block(tbl))
        fplan = formatted_plan(_self_join_on_block(flat))
        assert "Bucketed: true" in bplan
        assert n_exchanges(bplan) == 0
        assert n_exchanges(fplan) >= 2
        assert (_self_join_on_block(tbl).count()
                == _self_join_on_block(flat).count() > 0)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_cell_join")


def test_bucketed_layout_drops_knn_probe_exchange(
        spark, tmp_path, no_broadcast):
    """knn_join_blocked over the bucketed layout: the probe side joins on
    the STORED block column, so its Exchange disappears (only the
    halo-replicated build side still moves — it must, its key is computed
    by the ring expansion). Same rows as the flat layout."""
    import pyspark.sql.functions as F

    from setsm_postprocessing_python_spark.operators.knn import (
        knn_join_blocked)
    from setsm_postprocessing_python_spark.sources import bucketed as B
    from setsm_postprocessing_python_spark.sources.pages import (
        geocoded_pages)
    from setsm_postprocessing_python_spark.sql import dialect as D

    # the q_knn shape: coarse 5-degree kNN cells + shift-2 blocks, the
    # grain at which ring-1 neighbors actually exist at this sf
    flat = (geocoded_pages(spark, SF)
            .withColumn("cell_x", F.expr(D.knn_cell_x_expr()))
            .withColumn("cell_y", F.expr(D.knn_cell_y_expr()))
            .withColumn("block", B.block_expr(block_shift=2)))
    tbl, _ = B.ensure_bucketed(spark, str(tmp_path / "bkt"), "t_bkt_knn",
                               build=lambda: flat, meta={})
    try:
        bres = knn_join_blocked(tbl, k=3, ring=1, block_shift=2,
                                use_stored_block=True)
        fres = knn_join_blocked(flat.drop("block"), k=3, ring=1,
                                block_shift=2)
        bplan = formatted_plan(bres)
        fplan = formatted_plan(fres)
        assert "Bucketed: true" in bplan
        # exactly one Exchange leaves the plan (the probe side's); the
        # build-side and window exchanges are layout-independent
        assert n_exchanges(bplan) == n_exchanges(fplan) - 1
        assert (bres.orderBy("url_a", "rank").collect()
                == fres.orderBy("url_a", "rank").collect())
        assert bres.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_knn")


def test_bucketed_default_rows_match_flat(spark, tmp_path, no_broadcast):
    """Round 6: the bucketed layout as the DEFAULT pages path. With the
    activation conf set, geocoded_pages serves the registered bucketed
    table — identical rows to the flat derivation (plus the materialized
    block column), shuffle-free block self-join, sf_dir-scoped (a session
    conf must never serve corpus A to a query about corpus B), with_html
    falls back to flat, and the marker-file protocol re-registers a
    dropped catalog entry via DDL with the bucket spec intact."""
    from setsm_postprocessing_python_spark.sources import bucketed as B
    from setsm_postprocessing_python_spark.sources.pages import (
        bucketed_pages_active, geocoded_pages)

    flat = geocoded_pages(spark, SF)
    tbl, did = B.ensure_bucketed_pages(
        spark, SF, str(tmp_path / "layout"), table="t_bkt_default",
        n_buckets=8)
    assert did
    try:
        B.activate_bucketed_pages(spark, "t_bkt_default", SF)
        assert bucketed_pages_active(spark, SF)
        assert not bucketed_pages_active(spark, "/root/testdata/sf0.01")
        served = geocoded_pages(spark, SF)
        assert "block" in served.columns
        assert n_exchanges(formatted_plan(_self_join_on_block(served))) == 0
        assert (served.drop("block").exceptAll(flat).isEmpty()
                and flat.exceptAll(served.drop("block")).isEmpty())
        # keyword variants and other corpora take the flat path
        assert "block" not in geocoded_pages(spark, SF,
                                             with_html=True).columns
        assert "block" not in geocoded_pages(
            spark, "/root/testdata/sf0.01").columns
        # second ensure: marker short-circuits (no rewrite), and after a
        # catalog drop (fresh-session analogue) the DDL re-registration
        # still reports the bucket spec — the join stays shuffle-free
        spark.sql("DROP TABLE t_bkt_default")
        tbl2, did2 = B.ensure_bucketed_pages(
            spark, SF, str(tmp_path / "layout"), table="t_bkt_default",
            n_buckets=8)
        assert not did2
        assert n_exchanges(formatted_plan(_self_join_on_block(tbl2))) == 0
        assert tbl2.count() == flat.count()
    finally:
        B.deactivate_bucketed_pages(spark)
        spark.sql("DROP TABLE IF EXISTS t_bkt_default")


def test_ensure_bucketed_rewrites_on_stale_marker(spark, tmp_path):
    """A marker recording a DIFFERENT corpus/grain must not be trusted:
    ensure_bucketed_pages rewrites instead of serving the stale files."""
    from setsm_postprocessing_python_spark.sources import bucketed as B

    path = str(tmp_path / "layout")
    _, did = B.ensure_bucketed_pages(spark, SF, path, table="t_bkt_stale",
                                     n_buckets=8)
    assert did
    try:
        # same path, different grain -> rewrite; same grain -> no-op
        _, did_grain = B.ensure_bucketed_pages(
            spark, SF, path, table="t_bkt_stale", n_buckets=8,
            block_shift=4)
        assert did_grain
        _, did_same = B.ensure_bucketed_pages(
            spark, SF, path, table="t_bkt_stale", n_buckets=8,
            block_shift=4)
        assert not did_same
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_stale")


def test_adaptive_quadkey_int_packing(spark):
    """The int64-packed quadkey path: (a) packed->string re-rendering is
    bit-identical to the string quadkey expression at every level on real
    coordinates; (b) the adaptive-assignment join key is the packed
    BIGINT (8 fixed bytes per shuffled row), not the 13+-byte string."""
    import pyspark.sql.functions as F

    from setsm_postprocessing_python_spark.operators.tiles import (
        assign_tiles_adaptive)
    from setsm_postprocessing_python_spark.sources.pages import geocoded_pages
    from setsm_postprocessing_python_spark.sql import dialect as D

    df = geocoded_pages(spark, SF)
    depth = 12
    both = df.select(
        F.expr(D.quadkey_expr(D.SPARK, depth=depth)).alias("qs"),
        F.expr(D.quadkey_int_expr(depth=depth)).alias("qi"))
    for lvl in (0, 1, 5, depth):
        mism = both.where(
            F.expr(f"substring(qs, 1, {lvl} + 1) != concat('q', "
                   f"lpad(conv(shiftright(qi, 2 * ({depth} - {lvl})), "
                   f"10, 4), {lvl}, '0'))")).count()
        assert mism == 0, f"level {lvl}: packed != string"

    out = assign_tiles_adaptive(df, max_pages=50, max_depth=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"_qk#\d+(\w?)", plan)
    assert m and m.group(1) == "L", f"join key not bigint in plan: {m}"


def test_quadkey_int_depth_guard():
    """depth > 31 would silently alias tiles in the int64 packing; the
    expression builder must refuse instead."""
    import pytest as _pytest

    from setsm_postprocessing_python_spark.sql import dialect as D

    assert D.quadkey_int_expr(depth=31)  # at the cap: still valid
    with _pytest.raises(ValueError, match="depth"):
        D.quadkey_int_expr(depth=32)


def test_stored_block_requires_column(spark):
    """use_stored_block=True without a block column fails loudly."""
    import pytest as _pytest

    from setsm_postprocessing_python_spark.operators.knn import (
        knn_join_blocked)
    from setsm_postprocessing_python_spark.sources.pages import geocoded_pages

    with _pytest.raises(ValueError, match="block"):
        knn_join_blocked(geocoded_pages(spark, SF), use_stored_block=True)


def test_strip_assembly_has_no_pair_window(spark):
    """The feather span must be an aggregate + broadcast join, never a
    Window.partitionBy(pair) over the blended rows: at the registered
    'super' grain every blended row would land in ONE window partition
    (a single sort task — the round-6 skew foot-gun). Pins both the
    full assembly and the standalone feather_blend."""
    import pyspark.sql.functions as F

    from setsm_postprocessing_python_spark.operators import merge as M
    from setsm_postprocessing_python_spark.operators.flags import with_flags
    from setsm_postprocessing_python_spark.sources.pages import geocoded_pages

    df = with_flags(geocoded_pages(spark, SF))
    for out in (
        M.strip_assemble(df, pair_of=lambda c: F.lit("all"), max_rmse=100.0),
        M.feather_blend(df),
    ):
        plan = formatted_plan(out)
        assert "Window" not in plan, "pair-partitioned Window crept back"


def test_feather_blend_single_aggregation(spark):
    """Both sides of the blend ride ONE groupBy(pair, block): the plan
    holds exactly one shuffle under the (persisted) per-block table plus
    the broadcast of the span aggregate — not a side-split self-join."""
    from setsm_postprocessing_python_spark.operators import merge as M
    from setsm_postprocessing_python_spark.operators.flags import with_flags
    from setsm_postprocessing_python_spark.sources.pages import geocoded_pages

    out = M.feather_blend(with_flags(geocoded_pages(spark, SF)))
    plan = formatted_plan(out)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # span re-attach


# Exchange and cogrouped-UDF (FlatMapCoGroupsInPandas) counts of the
# strip-assembly family: the shared side-block aggregate and fit must not
# add a shuffle or a second fit. "strip_assemble" is the default host_pair
# grain, as bench.py's strip_assembly_host stage builds it, and
# "strip_assemble_held" the same with a held coreg table (no fit).
STRIP_PLANS = {
    "q_merge_order": (1, 0), "q_coregister": (8, 2),
    "q_strip_assembly": (8, 1), "q_feather_blend": (2, 0),
    "q_feather_field": (4, 1), "q_diff_strips": (2, 0),
    "strip_assemble": (8, 1), "strip_assemble_held": (8, 0),
}


def _strip_family_plan(spark, name):
    from setsm_postprocessing_python_spark.operators import merge as M
    from setsm_postprocessing_python_spark.operators.flags import with_flags
    from setsm_postprocessing_python_spark.plans import queries_ext as QE
    from setsm_postprocessing_python_spark.plans import queries_ref as QR
    from setsm_postprocessing_python_spark.sources.pages import geocoded_pages

    if not name.startswith("strip_assemble"):
        query = next(getattr(m, name) for m in (QE, QR) if hasattr(m, name))
        return formatted_plan(query(spark, SF))
    held = spark.createDataFrame(
        [("pair0", "host0", "host1", 16, 1, 1.0, 0.2, 0.1, 0.5, "ok")],
        M.COREG_SCHEMA)
    return formatted_plan(M.strip_assemble(
        with_flags(geocoded_pages(spark, SF)),
        coreg=held if name == "strip_assemble_held" else None,
        max_rmse=M.SYNTHETIC_Z_MAX_RMSE))


@pytest.mark.parametrize("name", sorted(STRIP_PLANS))
def test_strip_family_plan_counts(spark, name):
    import re

    from setsm_postprocessing_python_spark.session import cache_scope

    with cache_scope():
        plan = _strip_family_plan(spark, name)
    fits = len(set(re.findall(r"\((\d+)\) FlatMapCoGroupsInPandas", plan)))
    assert (n_exchanges(plan), fits) == STRIP_PLANS[name]


@pytest.mark.parametrize("name", ["q_coregister", "q_strip_assembly",
                                  "strip_assemble", "strip_assemble_held"])
def test_strip_side_blocks_hash_aggregate(spark, name):
    """The side-block aggregate stays a hash aggregate. A fit takes its
    group label as the min of the integer host number: min over the
    group_id string plans a SortAggregate, a sort of every page row.
    With a held coreg table no fit runs and no label is taken."""
    from setsm_postprocessing_python_spark.session import cache_scope

    with cache_scope():
        plan = _strip_family_plan(spark, name)
    assert "HashAggregate" in plan and "SortAggregate" not in plan


# Exchange, ArrowEvalPython, MapInArrow (the re-rank kernel, one call
# per partition) and Window node counts of the ANN queries: a refactor
# that adds a shuffle, a Python pass or a ranking window fails here.
# q_ann_lsh was (9, 2, 0, 5) with a grouped pandas re-rank
# (FlatMapGroupsInPandas) and a second Python pass for the self-cosine.
ANN_PLANS = {
    "q_ann_lsh": (6, 1, 1, 4), "q_ann_dedup": (4, 1, 1, 2),
    "q_ann_ivf": (2, 1, 1, 2),
}


def _n_nodes(plan, node):
    import re

    return len(set(re.findall(rf"\((\d+)\) {node}\b", plan)))


@pytest.mark.parametrize("name", sorted(ANN_PLANS))
def test_ann_plan_counts(spark, name):
    from setsm_postprocessing_python_spark.plans import queries_ext as QE
    from setsm_postprocessing_python_spark.session import cache_scope

    with cache_scope():
        plan = formatted_plan(getattr(QE, name)(spark, SF))
    assert "FlatMapGroupsInPandas" not in plan
    assert (n_exchanges(plan), _n_nodes(plan, "ArrowEvalPython"),
            _n_nodes(plan, "MapInArrow"),
            _n_nodes(plan, "Window")) == ANN_PLANS[name]


def test_ann_lsh_final_plan_reuses_collapse_exchange(spark):
    """lsh_topk's collapse aggregate has three readers (the re-rank
    entries, the member explode and the neighbour-slice explode), and the
    initial plan plans its embedding-keyed Exchange once per reader. At
    run time AQE shuffles it once: the final plan holds one such
    Exchange, and the other two readers are ReusedExchanges of it."""
    import re

    from setsm_postprocessing_python_spark.plans import queries_ext as QE
    from setsm_postprocessing_python_spark.session import cache_scope

    with cache_scope():
        out = QE.q_ann_lsh(spark, SF)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    key = r"Exchange hashpartitioning\(embedding#\d+, \d+\)[^\n]*plan_id=(\d+)"
    own = re.findall(r"\+- " + key, final)
    reused = re.findall(r"ReusedExchange [^\n]*" + key, final)
    assert len(own) == 1 and reused == own * 2


@pytest.mark.parametrize("kernel", ["_minhash_wide", "exploded_shingles"])
def test_shingle_kernel_is_lambda_free(spark, kernel):
    """The shingle rows come from zipped slices of one split, not from a
    transform(sequence(..), i -> ..) lambda: a higher-order function is
    interpreted, outside whole-stage codegen, and re-split the text for
    every shingle."""
    from setsm_postprocessing_python_spark.operators import dedup as DD
    from setsm_postprocessing_python_spark.sources.pages import read_parquet

    docs, _ = read_parquet(spark, f"{SF}/documents.parquet")
    plan = formatted_plan(getattr(DD, kernel)(docs))
    assert "Generate" in plan and "lambdafunction" not in plan
