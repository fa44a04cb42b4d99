"""Output check for the approximate top-k entries.

Their DuckDB oracles are literal tables pinned on another corpus, so
on the benchmark corpus an ANN result is checked for what it claims
instead, against an exact search in numpy:

- every query of the entry has ``k`` rows, ranked 1..k by descending
  cosine with ties broken by neighbor id, and never itself;
- every cosine is the exact cosine of its pair, rounded to 6 places;
- recall@k against the exact top-k is at least the entry's floor.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

COLUMNS = ["cosine", "neighbor_id", "query_id", "rk"]
COSINE_TOL = 2e-6


def exact_cosines(corpus_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """(vec ids, pairwise cosine matrix) of the corpus embeddings."""
    t = pq.read_table(f"{corpus_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    return ids, (vecs @ vecs.T) / np.outer(norms, norms)


def check_topk(df, ids: np.ndarray, cos: np.ndarray, queries, k: int,
               floor: float) -> float:
    """Raise AssertionError unless ``df`` is a valid approximate top-k
    of ``queries``; return its recall@k."""
    assert sorted(df.columns) == COLUMNS, f"columns {sorted(df.columns)}"
    pos = {int(v): i for i, v in enumerate(ids)}
    hits = 0
    for q in queries:
        rows = df[df["query_id"] == q]
        assert len(rows) == k, f"query {q}: {len(rows)} rows, want {k}"
        ranked = sorted(zip(-rows["cosine"], rows["neighbor_id"], rows["rk"]))
        assert [int(r) for *_, r in ranked] == list(range(1, k + 1)), f"query {q}: ranks"
        exact_row = cos[pos[q]]
        for neg, nb, _ in ranked:
            assert int(nb) != q, f"query {q}: returns itself"
            want = round(float(exact_row[pos[int(nb)]]), 6)
            assert abs(-neg - want) <= COSINE_TOL, f"query {q}, {nb}: cosine {-neg} != {want}"
        order = [i for i in np.argsort(-exact_row, kind="stable") if int(ids[i]) != q][:k]
        hits += len({int(ids[i]) for i in order} & {int(nb) for _, nb, _ in ranked})
    recall = hits / (k * len(queries))
    assert recall >= floor, f"recall@{k} {recall:.3f} < floor {floor}"
    return recall
