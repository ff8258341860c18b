"""The benchmark's own tests: input determinism, the metric contract with
BENCHMARK.json, and a tiny smoke run of each workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(REPO))  # gen and checks import the engine

import checks  # noqa: E402
import gen  # noqa: E402

SPEC = json.loads((REPO / "BENCHMARK.json").read_text())


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


@pytest.mark.parametrize("params", [
    gen.Params(pages=3000),
    gen.Params(pages=2000, exact_dup_share=0.3, near_dup_share=0.1,
               vectors=400, vec_group=4),
])
def test_inputs_are_a_function_of_the_seed(tmp_path, params):
    a = _files(gen.generate(tmp_path / "a", params, seed=7))
    b = _files(gen.generate(tmp_path / "b", params, seed=7))
    c = _files(gen.generate(tmp_path / "c", params, seed=8))
    assert a == b
    assert all(a[name] != c[name] for name in a)


def test_generator_shapes(tmp_path):
    import pyarrow.parquet as pq

    p = gen.Params(pages=4000, exact_dup_share=0.3, vectors=400,
                   vec_group=4)
    d = gen.generate(tmp_path, p, seed=3)
    docs = pq.read_table(d / "documents.parquet").to_pandas()
    assert docs["doc_id"].is_unique and len(docs) == p.pages
    assert docs["text"].duplicated().mean() >= 0.25
    emb = pq.read_table(d / "embeddings.parquet").to_pandas()
    assert emb["vec_id"].is_unique and len(emb) == p.vectors
    groups = emb["embedding"].map(tuple).value_counts()
    assert (groups == p.vec_group).all()
    named = pq.read_table(d / "vector_groups.parquet").to_pandas()
    same = emb.merge(named, on="vec_id").groupby("vec_group")["embedding"]
    assert (same.apply(lambda e: e.map(tuple).nunique()) == 1).all()
    assert (named["vec_group"].value_counts() == p.vec_group).all()


def test_knn_twin_finds_the_planted_neighbours(tmp_path):
    d = gen.generate(tmp_path, gen.Params(pages=30_000), seed=3)
    knn = checks.duckdb_twin(checks.KNN_TWIN, str(d))
    assert len(knn) > 200 and knn["rank"].between(1, 3).all()


def test_metric_tables_match_benchmark_json():
    import run

    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("workload,trace", [("spatial_join", 0),
                                            ("dedup_ann", 1)])
def test_smoke_run(workload, trace):
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.05"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    table = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in table}
    assert not (REPO / ".perfbench_tmp").exists() or not any(
        (REPO / ".perfbench_tmp").iterdir())
