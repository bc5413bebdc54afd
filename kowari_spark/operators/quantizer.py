"""Shared deterministic-quantizer machinery for the IVF and PQ fits.

Both indexes train k-means codebooks under the same cross-engine
reproducibility contract (seeds are exact data vectors picked by a
Gonzalez maxmin traversal, distances are the sequential (x-y)^2 left
fold, Lloyd means land on a decimal grid), and both SQL oracles replay
that arithmetic CTE-for-CTE — so the arithmetic lives ONCE here and a
change to it breaks both oracles loudly instead of silently diverging
one engine (the py_hash64/_bm25_core extraction discipline).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents_lit(cents) -> Column:
    """Literal array<array<double>> of centroids, parsed from ONE SQL
    string (a nested F.lit costs one Py4J round-trip per element —
    ~0.7 s per call at 16x64). The D suffix keeps every element an
    exact DOUBLE literal (repr() is the shortest round-trip decimal)."""
    return F.expr(
        "array(" + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
            for c in cents
        ) + ")"
    )


def d2_fold(vec: Column, c) -> Column:
    """Squared L2 as the per-element (x-y)^2 SEQUENTIAL fold — the same
    order ``argmin_codes_arrow`` and the SQL replays accumulate in."""
    return F.aggregate(
        F.zip_with(
            vec, c,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def gonzalez_maxmin(pts, k: int) -> list[list[float]]:
    """Deterministic farthest-first traversal (Gonzalez 1985 maxmin —
    the greedy analog of k-means++ D^2 sampling) over ``pts`` =
    [(id, vector), ...] arriving in md5 seeding order: seed 0 is
    pts[0]; seed i+1 maximizes the min squared distance to the chosen
    set, ties -> lowest id. Every selected seed is an EXACT data vector
    (no arithmetic on it) and min-of-distances is order-independent, so
    an external engine re-running the traversal lands on identical
    seeds — the SQL replays (IVF's and PQ's fit CTEs) depend on this
    loop staying byte-for-byte equivalent to their unrolled chains.

    Distances accumulate DIMENSION-BY-DIMENSION over the whole sample
    (one vectorized elementwise op per dim — the same sequential left
    fold the scalar loop ran per pair, so every value is bit-identical;
    the PQ arrow-encoder discipline). The scalar loop survives as the
    ragged-input fallback. At sample=8·k this turns an O(sample·k·dim)
    pure-Python triple loop (the measured driver-side floor of large-k
    fits: ~2 min at k=500) into k numpy passes."""
    import numpy as np

    ids = [p[0] for p in pts]
    try:
        V = np.asarray([p[1] for p in pts], dtype=np.float64)
        if V.ndim != 2:
            raise ValueError("ragged")
    except ValueError:
        return _gonzalez_scalar(pts, k)

    # a NaN anywhere poisons mind.max() -> NaN, NaN == NaN is False, so
    # cand goes empty and min() raises an opaque 'empty sequence'; the
    # traversal has no meaningful answer on NaN input either way, so
    # fail intelligibly up front (ADVICE r7)
    if np.isnan(V).any():
        bad = [ids[i] for i in np.flatnonzero(np.isnan(V).any(axis=1))[:5]]
        raise ValueError(
            f"NaN in seed sample (first poisoned ids: {bad}): quantizer "
            "fits need finite vectors — filter or repair the corpus "
            "before fit()"
        )

    def dists_to(c: np.ndarray) -> np.ndarray:
        acc = np.zeros(len(V))
        for dd in range(V.shape[1]):
            diff = V[:, dd] - c[dd]
            acc += diff * diff
        return acc

    seeds = [pts[0][1]]
    mind = dists_to(np.asarray(pts[0][1], dtype=np.float64))
    for _ in range(k - 1):
        cand = np.flatnonzero(mind == mind.max())
        bi = min(cand, key=lambda i: ids[i])
        seeds.append(pts[bi][1])
        np.minimum(mind, dists_to(V[bi]), out=mind)
    return seeds


def _gonzalez_scalar(pts, k: int) -> list[list[float]]:
    """Original scalar traversal — identical arithmetic, kept for
    ragged inputs numpy can't pack."""

    def d2(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    seeds = [pts[0][1]]
    mind = {rid: d2(v, seeds[0]) for rid, v in pts}
    for _ in range(k - 1):
        best_id, best_vec = min(pts, key=lambda p: (-mind[p[0]], p[0]))
        seeds.append(best_vec)
        for rid, v in pts:
            dd = d2(v, best_vec)
            if dd < mind[rid]:
                mind[rid] = dd
    return seeds


def argmin_codes_arrow(df, books, vec_col: str, code_col: str):
    """Arrow argmin-encode path shared by PQ (m subspaces) and IVF
    (m=1, the cell assignment): all m argmins per row from vectorized
    numpy inside ONE mapInPandas pass — zero shuffles, bit-identical to
    the SQL replay (dimension-ordered sequential fold, np.argmin
    first-index tie-break == array_position(array_min)). ``books`` is
    (m, k, ds); appends ``code_col`` array<int>. Degraded rows follow
    the SQL zip_with semantics: null vector -> all-null codes, a
    subspace not fully covered by a short vector -> null code,
    NaN-poisoned subspaces -> code 0."""
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas batches)
    from pyspark.sql.types import (
        ArrayType, IntegerType, StructField, StructType,
    )

    books = np.ascontiguousarray(np.asarray(books, dtype=np.float64))
    m, k_sub, ds = books.shape
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(code_col, ArrayType(IntegerType()))]
    )
    dim = m * ds

    def encode_block(V: np.ndarray) -> np.ndarray:
        codes = np.empty((len(V), m), dtype=np.int32)
        for j in range(m):
            sub = V[:, j * ds:(j + 1) * ds]
            acc = np.zeros((len(V), k_sub))
            for dd in range(ds):
                diff = sub[:, dd:dd + 1] - books[j][:, dd][None, :]
                acc += diff * diff
            # all-NaN rows (a NaN anywhere in the subvector poisons
            # every centroid distance) take index 0 — the same code
            # SQL's array_position(array_min) resolves to
            codes[:, j] = np.argmin(acc, axis=1)
        return codes

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                pdf[code_col] = []
                yield pdf
                continue
            vals = list(pdf[vec_col])
            # fast path: every row is a full-length vector (the
            # normal corpus) — one vectorized block
            if all(v is not None and len(v) >= dim for v in vals):
                V = np.asarray(
                    [np.asarray(v[:dim], dtype=np.float64) for v in vals]
                )
                out = [list(map(int, row)) for row in encode_block(V)]
            else:
                # degraded rows follow the SQL semantics: a null
                # vector -> all-null codes; a short vector encodes
                # only the subspaces its length fully covers (the
                # zip_with null-padding semantics, pinned in tests)
                out = []
                for v in vals:
                    if v is None:
                        out.append([None] * m)
                        continue
                    arr = np.asarray(v, dtype=np.float64)
                    padded = (
                        arr[:dim] if len(arr) >= dim
                        else np.concatenate([arr, np.zeros(dim - len(arr))])
                    )
                    block = encode_block(padded[np.newaxis, :])
                    out.append([
                        int(block[0, j]) if (j + 1) * ds <= len(arr)
                        else None
                        for j in range(m)
                    ])
            pdf = pdf.copy()
            pdf[code_col] = out
            yield pdf

    return df.mapInPandas(gen, out_schema)
