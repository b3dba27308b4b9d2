"""Reference answers the measured process compares the program against."""

from __future__ import annotations

import glob
import os

import numpy as np

TOLERANCE = 1e-9  # score agreement with a float64 numpy answer


def check_topk(rows: list[dict], expect: list[list]) -> str | None:
    """``rows`` must carry the expected (path, chunk_index) ids in order
    and each score within ``TOLERANCE``; None when they do."""
    got = [[r.get("path"), r.get("chunk_index")] for r in rows]
    want = [e[:2] for e in expect]
    if got != want:
        return f"ids {got} != expected {want}"
    for r, e in zip(rows, expect):
        if abs(r["score"] - e[2]) > TOLERANCE:
            return f"score {r['score']!r} != expected {e[2]!r} for {e[:2]}"
    return None


def _cosine(m: np.ndarray, q: np.ndarray) -> np.ndarray:
    nm = np.sqrt((m * m).sum(axis=1))
    nq = float(np.sqrt(np.dot(q, q)))
    with np.errstate(invalid="ignore", divide="ignore"):
        s = (m @ q) / (nm * nq)
    return np.where((nm == 0.0) | (nq == 0.0), 0.0, s)


def ivf_search_answer(index_dir: str, qv: np.ndarray, *, nprobe: int = 2, k: int = 5) -> list[list]:
    """What ``VectorEngine.search_indexed`` must return, read straight
    from the index files: the ``nprobe`` centroids of highest cosine to
    the query (ties to the lower cluster id), then exact cosine over the
    rows stored in those clusters, ordered by (score desc, row id asc),
    top ``k``, as [path, chunk_index, score]."""
    import pyarrow.parquet as pq

    cen = pq.read_table(os.path.join(index_dir, "centroids")).to_pydict()
    cids = np.array(cen["cluster_id"])
    csim = _cosine(np.array(cen["centroid"], dtype=np.float64), qv)
    probed = cids[np.lexsort((cids, -csim))[:nprobe]]
    paths, chunks, rids, vecs = [], [], [], []
    for c in probed.tolist():
        for f in glob.glob(os.path.join(index_dir, "corpus", f"cluster_id={c}", "*.parquet")):
            t = pq.read_table(f, columns=["path", "chunk_index", "_row_id", "embedding"])
            paths += t.column("path").to_pylist()
            chunks += t.column("chunk_index").to_pylist()
            rids += t.column("_row_id").to_pylist()
            emb = t.column("embedding").combine_chunks()
            vecs.append(emb.flatten().to_numpy(zero_copy_only=False).reshape(len(t), -1))
    if not vecs:
        return []
    scores = _cosine(np.vstack(vecs).astype(np.float64), qv)
    order = sorted(range(len(rids)), key=lambda i: (-scores[i], rids[i]))[:k]
    return [[paths[i], chunks[i], float(scores[i])] for i in order]
