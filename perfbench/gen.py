"""Seeded input generator for the benchmark workloads.

Writes `documents.parquet` and `embeddings.parquet` in the schema of the
engine's driver corpora (doc_id, text, lang, source, n_chars; vec_id,
embedding list<float>, label), single-process with numpy + pyarrow, so the
same (params, seed) always gives byte-identical files.

The engine derives a page's host from `doc_id % 50` and its location from
md5(url) (sql/dialect.py). Doc ids are seeded random, so hosts are uniform
and locations hash-uniform, except that the ids are picked so that a few
hundred pages have a neighbour in the kNN ring (`doc_ids`).

`vector_groups.parquet` (vec_id, vec_group) names the duplicate group of
each vector, for the output checks; the engine never reads it.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from setsm_postprocessing_python_spark.sql import dialect as D

DIM = 64    # the engine's embedding width (q_ann_lsh / q_ann_dedup)
VOCAB = ("a the key agg row scan slow fast table value part hash merge "
         "batch line spark window data column join small big order "
         "customer query sort filter stream group vector dup").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
# a row group per ~1/12 of the file, so a flat scan splits across cores
ROW_GROUPS = 12
TOKENS = (8, 60)  # words per document, uniform
POOL = 13  # candidate doc ids hashed per page (doc_ids)


@dataclass(frozen=True)
class Params:
    """One workload's input shape."""
    pages: int
    exact_dup_share: float = 0.0  # share of docs copying an earlier text
    near_dup_share: float = 0.0   # share of docs editing an earlier text
    vectors: int = 0
    vec_group: int = 1            # each distinct vector appears this often


def cells(ids: np.ndarray) -> np.ndarray:
    """The engine's 0.005-degree cell id of each doc id's page: its url,
    md5 of the url, lat/lon from the first two 32-bit words (the
    sql/dialect.py derivation, in the same float64 operations)."""
    words = np.frombuffer(b"".join(
        hashlib.md5(f"https://host{i % D.HOSTS}.example/p/{i}".encode())
        .digest()[:8] for i in ids.tolist()), dtype=">u4").reshape(-1, 2)
    lat = words[:, 0] / 4294967296.0 * D.LAT_SPAN - D.LAT_SPAN / 2
    lon = words[:, 1] / 4294967296.0 * D.LON_SPAN - D.LON_SPAN / 2
    y = np.floor((lat + 90.0) * D.CELLS_PER_DEG).astype(np.int64)
    x = np.floor((lon + 180.0) * D.CELLS_PER_DEG).astype(np.int64)
    return y * D.LON_CELL_STRIDE + x


def doc_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n unique doc ids, shuffled. md5-uniform locations leave ~1 pair of
    30k pages within one cell of each other (the ring-1 kNN join's
    reach), so the ids are picked from POOL * n seeded candidates: every
    candidate with a neighbour among them (a few hundred at 30k pages),
    then candidates without one."""
    cand = rng.permutation(np.unique(rng.integers(0, 1 << 40, size=POOL * n)))
    cell = cells(cand)
    order = np.argsort(cell, kind="stable")
    srt = cell[order]
    near = np.zeros(len(cand), dtype=bool)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            # sorted queries: searchsorted then walks memory in order
            c = srt + dy * D.LON_CELL_STRIDE + dx
            hits = (np.searchsorted(srt, c, side="right")
                    - np.searchsorted(srt, c, side="left"))
            near[order] |= hits > (1 if dy == dx == 0 else 0)
    ids = np.concatenate([cand[near], cand[~near]])[:n]
    return rng.permutation(ids)


def texts(rng: np.random.Generator, p: Params) -> list[str]:
    n = p.pages
    lens = rng.integers(TOKENS[0], TOKENS[1] + 1, size=n)
    words = rng.integers(0, len(VOCAB) - 1, size=int(lens.sum()))
    vocab = np.array(VOCAB)
    offs = np.concatenate([[0], np.cumsum(lens)])
    toks = [vocab[words[offs[i]:offs[i + 1]]] for i in range(n)]
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(1, n):
        if kind[i] < p.exact_dup_share:
            toks[i] = toks[src[i]]
        elif kind[i] < p.exact_dup_share + p.near_dup_share:
            t = toks[src[i]].copy()
            # one or two token edits (the last vocab word marks an edit)
            for pos in rng.integers(0, len(t), size=rng.integers(1, 3)):
                t[pos] = VOCAB[-1]
            toks[i] = t
    return [" ".join(t) for t in toks]


def embeddings(rng: np.random.Generator,
               p: Params) -> tuple[pa.Table, pa.Table]:
    """Clustered unit vectors in duplicate groups of exactly p.vec_group
    identical rows (the last group may be short), ids shuffled; and the
    group of each vec_id."""
    n_distinct = -(-p.vectors // p.vec_group)
    # the cluster geometry is part of the workload, not of the seed: LSH
    # bucket sizes, and so the ANN stage's cost, depend on it
    centers = np.random.default_rng(0).standard_normal((10, DIM))
    label = rng.integers(0, 10, size=n_distinct).astype(np.int32)
    v = centers[label] + 0.6 * rng.standard_normal((n_distinct, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    rows = np.repeat(np.arange(n_distinct), p.vec_group)[:p.vectors]
    ids = rng.permutation(p.vectors).astype(np.int64)
    flat = pa.array(v[rows].reshape(-1), type=pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, DIM).cast(
        pa.list_(pa.float32()))
    return (pa.table({"vec_id": ids, "embedding": emb,
                      "label": pa.array(label[rows], type=pa.int32())}),
            pa.table({"vec_id": ids, "vec_group": rows.astype(np.int64)}))


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path,
                   row_group_size=max(1, -(-table.num_rows // ROW_GROUPS)),
                   compression="snappy")


def generate(out_dir: str | Path, p: Params, seed: int) -> Path:
    """Write the corpus for (p, seed) under out_dir and return it."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    ids = doc_ids(rng, p.pages)
    text = texts(rng, p)
    lang = LANGS[rng.choice(len(LANGS), size=p.pages, p=LANG_P)]
    docs = pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array(lang, type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], type=pa.string()),
        "n_chars": pa.array([len(t) for t in text], type=pa.int64()),
    })
    _write(docs, out / "documents.parquet")
    if p.vectors:
        emb, groups = embeddings(rng, p)
        _write(emb, out / "embeddings.parquet")
        _write(groups, out / "vector_groups.parquet")
    return out
