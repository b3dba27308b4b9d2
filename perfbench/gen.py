"""Seeded input generation for the benchmark workloads.

Everything the measured process consumes is made here, before it starts,
so generation cost never lands in its set-up time or memory high-water
mark: the document corpus as parquet in the store's schema, every
request body, the source trees to crawl, and the expected answers the
correctness checks compare against (exact numpy top-k).

The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np

DIM = 384
TOP_K = 5
SCORE_THRESHOLD = 0.1  # the program's threshold-after-limit rule
N_CLUSTERS = 64  # topic centroids the corpus embeddings scatter around
EXTENSIONS = (".py", ".md", ".js", ".go", ".rs", ".txt")
INELIGIBLE_SHARE = 0.1  # share of crawled files the scan must skip


def _vocab(rng: np.random.Generator, size: int = 3000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    words = {"".join(rng.choice(letters, n)) for n in lens}
    return np.array(sorted(words))


def _word_probs(n: int) -> np.ndarray:
    p = 1.0 / (np.arange(n) + 30.0)  # Zipf-like: a few common words
    return p / p.sum()


def _join(words) -> str:
    return "\n".join(" ".join(words[i : i + 12]) for i in range(0, len(words), 12))


def _text(rng, vocab, probs, n_words: int) -> str:
    return _join(vocab[rng.choice(len(vocab), n_words, p=probs)].tolist())


def make_corpus(rng: np.random.Generator, n_docs: int, dim: int = DIM) -> dict:
    """``n_docs`` chunk rows of ~1 KB text; embeddings are float32
    points scattered around ``N_CLUSTERS`` centroids, so a query's
    top-k are real neighbours well above the score threshold."""
    vocab = _vocab(rng)
    probs = _word_probs(len(vocab))
    centroids = rng.standard_normal((N_CLUSTERS, dim))
    topic = rng.integers(0, N_CLUSTERS, n_docs)
    emb = (centroids[topic] + 0.8 * rng.standard_normal((n_docs, dim))).astype(
        np.float32
    )
    paths, exts, chunk_idx, totals = [], [], [], []
    i = 0
    f = 0
    while i < n_docs:
        n_chunks = min(int(rng.integers(1, 7)), n_docs - i)
        ext = EXTENSIONS[f % len(EXTENSIONS)]
        path = f"src/pkg{f // 50:03d}/mod{f:05d}{ext}"
        for c in range(n_chunks):
            paths.append(path)
            exts.append(ext)
            chunk_idx.append(c)
            totals.append(n_chunks)
        i += n_chunks
        f += 1
    lens = rng.integers(140, 200, n_docs)
    words = vocab[rng.choice(len(vocab), int(lens.sum()), p=probs)].tolist()
    ends = np.cumsum(lens)
    content = [_join(words[e - n : e]) for e, n in zip(ends, lens)]
    return {
        "path": paths,
        "extension": exts,
        "chunk_index": chunk_idx,
        "total_chunks": totals,
        "content": content,
        "embedding": emb,
        "vocab": vocab,
        "probs": probs,
        "centroids": centroids,
    }


def write_documents(path: str, corpus: dict, base_ts: float = 1.7e9) -> int:
    """Write ``corpus`` as parquet in the store's documents schema;
    returns the accepted user bytes (content + path + 4 bytes per
    embedding component, per row)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    emb = corpus["embedding"]
    n, dim = emb.shape
    schema = pa.schema(
        [
            pa.field("path", pa.string(), False),
            pa.field("extension", pa.string()),
            pa.field("chunk_index", pa.int32(), False),
            pa.field("total_chunks", pa.int32(), False),
            pa.field("content", pa.string(), False),
            pa.field("embedding", pa.list_(pa.field("element", pa.float32(), False))),
            pa.field("timestamp", pa.float64()),
        ]
    )
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    table = pa.table(
        {
            "path": corpus["path"],
            "extension": corpus["extension"],
            "chunk_index": pa.array(corpus["chunk_index"], pa.int32()),
            "total_chunks": pa.array(corpus["total_chunks"], pa.int32()),
            "content": corpus["content"],
            "embedding": pa.ListArray.from_arrays(
                offsets, pa.array(emb.reshape(-1), pa.float32())
            ),
            "timestamp": base_ts + np.arange(n, dtype=np.float64),
        },
        schema=schema,
    )
    pq.write_table(table, path)
    return user_bytes(corpus["content"], corpus["path"], dim)


def user_bytes(contents, paths, dim: int) -> int:
    return sum(len(c.encode()) + len(p.encode()) + 4 * dim for c, p in zip(contents, paths))


class ExactIndex:
    """The reference answer for ``/query``: float64 cosine over the
    float32-stored vectors, ordered by (score desc, path, chunk_index),
    top-k, then the score threshold (applied after the limit)."""

    def __init__(self, emb: np.ndarray, ids: list[tuple[str, int]]):
        self.mat = emb.astype(np.float64)
        self.norms = np.sqrt((self.mat * self.mat).sum(axis=1))
        self.ids = list(ids)

    def add(self, emb: np.ndarray, ids: list[tuple[str, int]]) -> None:
        m = emb.astype(np.float64)
        self.mat = np.vstack([self.mat, m])
        self.norms = np.concatenate([self.norms, np.sqrt((m * m).sum(axis=1))])
        self.ids.extend(ids)

    def topk(self, q: np.ndarray, k: int = TOP_K) -> list[list]:
        return self.topk_many(q[None, :], k)[0]

    def topk_many(self, qs: np.ndarray, k: int = TOP_K) -> list[list[list]]:
        out = []
        for lo in range(0, len(qs), 256):
            block = qs[lo : lo + 256]
            qn = np.sqrt((block * block).sum(axis=1))
            scores = (block @ self.mat.T) / np.outer(qn, self.norms)
            out.extend(self._select(row, k) for row in scores)
        return out

    def _select(self, scores: np.ndarray, k: int) -> list[list]:
        cand = np.argpartition(-scores, k)[: k + 8]
        order = sorted(cand.tolist(), key=lambda j: (-scores[j], *self.ids[j]))[:k]
        return [
            [*self.ids[j], float(scores[j])]
            for j in order
            if scores[j] >= SCORE_THRESHOLD
        ]


def _query_vector(rng, emb: np.ndarray) -> np.ndarray:
    """A stored vector plus noise: its own row is the likely top-1."""
    j = int(rng.integers(0, emb.shape[0]))
    v = emb[j].astype(np.float64)
    return v + 0.3 * float(np.linalg.norm(v)) / np.sqrt(v.size) * rng.standard_normal(v.size)


def _span(text: str, rarity: dict, n_words: int = 6) -> str:
    """The doc's most distinctive run of ``n_words`` consecutive words
    (highest summed -log frequency), so BM25 ranks its source first."""
    words = text.split()
    r = np.array([rarity[w] for w in words])
    s = int(np.argmax(np.convolve(r, np.ones(n_words), "valid")))
    return " ".join(words[s : s + n_words])


def _query_op(rng, exact: ExactIndex, emb: np.ndarray) -> dict:
    q = _query_vector(rng, emb)
    return {
        "op": "query",
        "body": {"query_embedding": q.tolist(), "top_k": TOP_K},
        "expect": exact.topk(q),
    }


def _hybrid_ops(rng, corpus: dict, n: int) -> list[dict]:
    """``n`` ``/hybrid`` requests, each a 6-word span of a corpus doc.
    The doc's stored embedding becomes the embedding of its span under
    the program's own text embedder, so the doc is first in both the
    cosine and the BM25 arm and must come back first after fusion."""
    from converttovectordb_spark.embeddings import hash_embed_one

    rarity = dict(zip(corpus["vocab"], -np.log(corpus["probs"])))
    emb = corpus["embedding"]
    ops = []
    for j in rng.integers(0, len(corpus["content"]), n).tolist():
        span = _span(corpus["content"][j], rarity)
        emb[j] = np.asarray(hash_embed_one(span, emb.shape[1]), dtype=np.float32)
        ops.append({
            "op": "hybrid",
            "body": {"query": span, "top_k": TOP_K},
            "expect": [corpus["path"][j], corpus["chunk_index"][j]],
        })
    return ops


def _write_jsonl(path: str, rows) -> None:
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def gen_serve_read(out: str, seed: int, n_docs: int, n_ops: int) -> dict:
    """Corpus + ``n_ops`` closed-loop requests (90% /query, 10%
    /hybrid) + one warm-up request of each kind."""
    rng = np.random.default_rng(seed)
    corpus = make_corpus(rng, n_docs)
    is_hybrid = rng.random(n_ops) < 0.1
    hybrid = _hybrid_ops(rng, corpus, int(is_hybrid.sum()) + 1)
    ub = write_documents(os.path.join(out, "corpus.parquet"), corpus)
    emb = corpus["embedding"]
    exact = ExactIndex(emb, list(zip(corpus["path"], corpus["chunk_index"])))
    qs = np.array([_query_vector(rng, emb) for _ in range(n_ops - len(hybrid) + 2)])
    queries = [
        {"op": "query", "body": {"query_embedding": q.tolist(), "top_k": TOP_K}, "expect": a}
        for q, a in zip(qs, exact.topk_many(qs))
    ]
    warm = [queries.pop(), hybrid.pop()]
    ops = [hybrid.pop() if h else queries.pop() for h in is_hybrid]
    _write_jsonl(os.path.join(out, "warmup.jsonl"), warm)
    # request bodies go out byte-for-byte as written; answers apart
    _write_jsonl(os.path.join(out, "bodies.jsonl"), (o["body"] for o in ops))
    _write_jsonl(os.path.join(out, "expect.jsonl"), ([o["op"], o["expect"]] for o in ops))
    return {"docs": n_docs, "user_bytes": ub, "ops": n_ops}


def gen_serve_write(
    out: str, seed: int, n_docs: int, n_cycles: int, batch: int = 16, reads: int = 10
) -> dict:
    """Corpus + cycles of one ``/add_documents`` of ``batch`` new
    pre-embedded docs followed by ``reads`` ``/query``; the first read
    of a cycle asks for the embedding of a doc that cycle wrote. One
    extra cycle (index 0) is the set-up warm-up. Expected answers are
    exact top-k over the corpus plus every doc written before the read."""
    rng = np.random.default_rng(seed)
    corpus = make_corpus(rng, n_docs)
    ub = write_documents(os.path.join(out, "corpus.parquet"), corpus)
    exact = ExactIndex(corpus["embedding"], list(zip(corpus["path"], corpus["chunk_index"])))
    emb_all = corpus["embedding"]
    vocab, probs, centroids = corpus["vocab"], corpus["probs"], corpus["centroids"]
    cycles = []
    write_bytes = []
    for c in range(n_cycles + 1):
        topic = rng.integers(0, N_CLUSTERS, batch)
        new = (centroids[topic] + 0.8 * rng.standard_normal((batch, DIM))).astype(np.float32)
        ext = EXTENSIONS[c % len(EXTENSIONS)]
        ids = [(f"new/c{c:04d}/doc{i:02d}{ext}", 0) for i in range(batch)]
        docs = [
            {
                "path": p,
                "chunk_index": ci,
                "total_chunks": 1,
                "content": _text(rng, vocab, probs, int(rng.integers(140, 200))),
                "embedding": v.astype(np.float64).tolist(),
            }
            for (p, ci), v in zip(ids, new)
        ]
        write_bytes.append(user_bytes([d["content"] for d in docs], [p for p, _ in ids], DIM))
        exact.add(new, ids)
        emb_all = np.vstack([emb_all, new])
        fresh = int(rng.integers(0, batch))
        q0 = new[fresh].astype(np.float64)
        read_ops = [{"op": "query", "body": {"query_embedding": q0.tolist(), "top_k": TOP_K},
                     "expect": exact.topk(q0), "fresh": list(ids[fresh])}]
        read_ops += [_query_op(rng, exact, emb_all) for _ in range(reads - 1)]
        cycles.append({"write": {"documents": docs}, "reads": read_ops})
    _write_jsonl(os.path.join(out, "cycles.jsonl"), cycles)
    return {
        "docs": n_docs,
        "user_bytes": ub,
        "write_user_bytes": write_bytes,
        "cycles": n_cycles,
        "batch": batch,
        "reads": reads,
    }


def _write_tree(rng, root: str, project: str, n_files: int, vocab, probs) -> dict:
    """One source tree: eligible files of mixed size (about a tenth
    short enough to be a single chunk, whose verbatim text serves as a
    ``search_indexed`` probe), plus ``INELIGIBLE_SHARE`` files the scan
    must skip (binary extension, hidden dir, whitespace only)."""
    n_bad = int(round(n_files * INELIGIBLE_SHARE))
    eligible, probes = 0, []
    for i in range(n_files):
        sub = f"{project}/dir{i % 9}"
        if i < n_bad:
            kind = i % 3
            if kind == 0:
                rel, data = f"{sub}/image{i}.png", bytes(rng.integers(0, 256, 600, dtype=np.uint8))
            elif kind == 1:
                rel, data = f"{project}/.cache/blob{i}.py", _text(rng, vocab, probs, 50).encode()
            else:
                rel, data = f"{sub}/blank{i}.py", b"   \n\t \n"
        else:
            ext = EXTENSIONS[i % len(EXTENSIONS)]
            rel = f"{sub}/file{i:04d}{ext}"
            if (i - n_bad) % 10 == 0:
                text = f"probe {project} {i} " + _text(rng, vocab, probs, int(rng.integers(40, 90)))
                probes.append({"text": text, "path": rel})
            else:
                text = _text(rng, vocab, probs, int(rng.integers(250, 1700)))
            data = text.encode()
            eligible += 1
        full = os.path.join(root, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as fh:
            fh.write(data)
    return {"eligible": eligible, "probes": probes}


def gen_ingest(out: str, seed: int, n_crawls: int, files_per_crawl: int, n_searches: int) -> dict:
    """``n_crawls`` fresh source trees (plus a smaller warm-up tree for
    set-up), and the ``search_indexed`` probe texts: verbatim single-chunk
    files, the set-up probe from the warm-up tree."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    probs = _word_probs(len(vocab))
    crawls = []
    for c in range(n_crawls + 1):
        root = os.path.join(out, f"tree{c:02d}")
        n_files = files_per_crawl if c else max(10, files_per_crawl // 5)
        info = _write_tree(rng, root, f"proj{seed}_{c:02d}", n_files, vocab, probs)
        crawls.append({"root": root, **info})
    # the set-up search runs after the warm-up crawl only
    warm = crawls[0]["probes"][int(rng.integers(0, len(crawls[0]["probes"])))]
    probes = [p for cr in crawls[1:] for p in cr["probes"]]
    pick = rng.choice(len(probes), n_searches, replace=False)
    searches = [warm] + [probes[int(i)] for i in pick]
    for cr in crawls:
        del cr["probes"]
    return {"crawls": crawls, "searches": searches, "files_per_crawl": files_per_crawl}
