"""Seeded input generators for the benchmark.

Everything here is plain numpy/pyarrow: the program under test only ever
sees the parquet files these functions write. The same seed always gives
the same files.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VECTOR_ARROW_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("embedding", pa.list_(pa.float32())),
        ("metadata", pa.string()),
    ]
)


@dataclass
class VectorSet:
    ids: list[str]
    base: np.ndarray  # (n, d) float32, the corpus
    queries: np.ndarray  # (q, d) float32, held out: none is in the corpus
    planted: list[tuple[str, str]]  # (original id, near-copy id)


def vectors(seed: int, n: int, dim: int, clusters: int, n_queries: int,
            dup_frac: float, dup_noise: float = 0.02) -> VectorSet:
    """A Gaussian mixture of ``clusters`` components in ``dim`` dimensions.

    ``dup_frac`` of the corpus are near-copies of other corpus vectors
    (isotropic noise of ``dup_noise`` times the vector norm, so the pair's
    cosine is about 1 - dup_noise²/2). Query vectors come from the same
    mixture but are drawn separately, so none of them is in the corpus.
    """
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(clusters, dim)) * 1.5
    spread = rng.uniform(0.4, 0.9, size=clusters)

    def draw(m: int) -> np.ndarray:
        c = rng.integers(0, clusters, size=m)
        return centers[c] + spread[c, None] * rng.normal(size=(m, dim))

    n_dup = int(n * dup_frac)
    orig = draw(n - n_dup)
    src = rng.choice(n - n_dup, size=n_dup, replace=False)
    norms = np.linalg.norm(orig[src], axis=1, keepdims=True)
    copies = orig[src] + dup_noise * norms / np.sqrt(dim) * rng.normal(
        size=(n_dup, dim)
    )
    base = np.concatenate([orig, copies]).astype(np.float32)
    # ids are shuffled so copies do not sit next to their originals
    perm = rng.permutation(n)
    ids = [""] * n
    for row, p in enumerate(perm):
        ids[row] = f"v{p:07d}"
    planted = [(ids[int(s)], ids[n - n_dup + i]) for i, s in enumerate(src)]
    return VectorSet(ids, base, draw(n_queries).astype(np.float32), planted)


def write_vectors(path: str, ids: list[str], mat: np.ndarray) -> None:
    table = pa.table(
        {
            "id": ids,
            "embedding": pa.array(list(mat), type=pa.list_(pa.float32())),
            "metadata": pa.array([None] * len(ids), type=pa.string()),
        },
        schema=VECTOR_ARROW_SCHEMA,
    )
    pq.write_table(table, path)


@dataclass
class DocSet:
    ids: list[str]
    texts: list[str]
    emb: np.ndarray  # (n, dim) float32: one embedding per document
    clusters: list[list[str]]  # planted near-dup clusters, original first
    queries: list[str]  # keyword queries


def documents(seed: int, n: int, vocab: int, dim: int, zipf_a: float,
              min_len: int, max_len: int, cluster_sizes: list[int],
              n_queries: int, edit_frac: float = 0.04) -> DocSet:
    """Documents over a Zipf(``zipf_a``) vocabulary of ``vocab`` words.

    Near-dup clusters of the given sizes are planted: each cluster's
    members are copies of one original with ``edit_frac`` of the words
    replaced. Every document also carries an embedding; cluster members
    share their original's embedding up to tiny noise, so the embedding
    and text views agree on what is a duplicate. Keyword queries are 2-4
    words drawn from the same distribution.
    """
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    probs = ranks ** -zipf_a
    probs /= probs.sum()
    words = np.array([f"w{i}" for i in range(vocab)])

    def draw_words(m: int) -> np.ndarray:
        return words[rng.choice(vocab, size=m, p=probs)]

    n_dup = sum(s - 1 for s in cluster_sizes)
    n_orig = n - n_dup
    toks = [draw_words(int(rng.integers(min_len, max_len + 1)))
            for _ in range(n_orig)]
    emb = rng.normal(size=(n_orig, dim))
    origins = rng.choice(n_orig, size=len(cluster_sizes), replace=False)
    members: list[list[int]] = []
    dup_emb = []
    for o, size in zip(origins, cluster_sizes):
        group = [int(o)]
        for _ in range(size - 1):
            t = toks[o].copy()
            k = max(1, int(len(t) * edit_frac))
            t[rng.choice(len(t), size=k, replace=False)] = draw_words(k)
            group.append(len(toks))
            toks.append(t)
            dup_emb.append(emb[o] + 0.01 * rng.normal(size=dim))
        members.append(group)
    if dup_emb:
        emb = np.concatenate([emb, np.asarray(dup_emb)])
    perm = rng.permutation(n)
    ids = [f"d{p:07d}" for p in perm]
    queries = [" ".join(draw_words(int(rng.integers(2, 5))))
               for _ in range(n_queries)]
    return DocSet(
        ids,
        [" ".join(t) for t in toks],
        emb.astype(np.float32),
        [[ids[i] for i in g] for g in members],
        queries,
    )


def write_docs(path: str, docs: DocSet) -> None:
    pq.write_table(pa.table({"doc_id": docs.ids, "text": docs.texts}), path)


def shingle_jaccard(a: str, b: str, n: int = 3) -> float:
    """Word ``n``-gram Jaccard, the same shingling as the program's
    minhash verification (single-space tokens, distinct n-grams)."""
    def grams(s: str) -> set:
        t = s.split(" ")
        if len(t) < n:
            return {s}
        return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}

    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)
