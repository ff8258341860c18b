"""Physical-plan invariance: a query's rows must not depend on how the
session partitions, plans or joins. Each query runs at sf0.001 under two
configs and must return the same sorted rows, floats compared exactly."""

from __future__ import annotations

import pytest

from setsm_postprocessing_python_spark.operators import merge as M
from setsm_postprocessing_python_spark.operators.flags import with_flags
from setsm_postprocessing_python_spark.plans import queries as Q
from setsm_postprocessing_python_spark.plans import queries_ext as QE
from setsm_postprocessing_python_spark.plans import queries_ref as QR
from setsm_postprocessing_python_spark.session import cache_scope
from setsm_postprocessing_python_spark.sources.pages import geocoded_pages

from .conftest import SF_TINY

CONFIGS = {
    "A": {"spark.sql.shuffle.partitions": "8",
          "spark.sql.adaptive.enabled": "true"},
    "B": {"spark.sql.shuffle.partitions": "61",
          "spark.sql.adaptive.enabled": "false",
          "spark.sql.autoBroadcastJoinThreshold": "-1",
          "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning":
              "false"},
}
KEYS = sorted({k for conf in CONFIGS.values() for k in conf})


def strip_assembly_host(spark, sf_dir):
    """bench.py's strip_assembly_host: strip_assemble at the host-pair
    grain, which is not a registered query."""
    return M.strip_assemble(with_flags(geocoded_pages(spark, sf_dir)),
                            max_rmse=M.SYNTHETIC_Z_MAX_RMSE)


QUERIES = {
    "q_ann_lsh": QE.q_ann_lsh,
    "q_ann_dedup": QE.q_ann_dedup,
    "q_ann_ivf": QE.q_ann_ivf,
    "q_knn": Q.q_knn,
    "q_ring_density": Q.q_ring_density,
    "q_adaptive_tiles": QE.q_adaptive_tiles,
    # the cell-offset scatter family
    "q_ring_stats": QE.q_ring_stats,
    "q_conv2": QR.q_conv2,
    "q_slope": QR.q_slope,
    "q_interp_shift": QR.q_interp_shift,
    "q_morphology": QR.q_morphology,
    "q_resize_bilinear": QR.q_resize_bilinear,
    "q_water_compose": QR.q_water_compose,
    "q_bwareaopen": QE.q_bwareaopen,
    # the strip-assembly family
    "q_merge_order": QE.q_merge_order,
    "q_coregister": QE.q_coregister,
    "q_strip_assembly": QE.q_strip_assembly,
    "q_feather_blend": QE.q_feather_blend,
    "q_feather_field": QE.q_feather_field,
    "q_diff_strips": QR.q_diff_strips,
    "strip_assembly_host": strip_assembly_host,
    # the rest of the dedup_ann workload's stages
    "q_near_dup": QE.q_near_dup,
    "q_dedup_exact": Q.q_dedup_exact,
    "q_fingerprint": QE.q_fingerprint,
    # the rest of the spatial bench stages
    "q_tile_counts": Q.q_tile_counts,
    "q_tile_assign": Q.q_tile_assign,
    "q_mask_filter": Q.q_mask_filter,
}


@pytest.fixture()
def restore_confs(spark):
    old = {k: spark.conf.get(k, None) for k in KEYS}
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_rows_invariant_under_plan_configs(spark, restore_confs, name):
    rows = {}
    for cname, conf in CONFIGS.items():
        for k, v in conf.items():
            spark.conf.set(k, v)
        with cache_scope():
            rows[cname] = sorted(map(tuple, QUERIES[name](spark, SF_TINY)
                                     .collect()))
    assert rows["A"], name
    assert rows["A"] == rows["B"], name
