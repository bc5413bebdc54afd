"""Shared deterministic-quantizer machinery for the IVF and PQ fits.

Both indexes train k-means codebooks under the same cross-engine
reproducibility contract (seeds are exact data vectors picked by a
Gonzalez maxmin traversal, distances are the sequential (x-y)^2 left
fold, Lloyd means land on a decimal grid), and both SQL oracles replay
that arithmetic CTE-for-CTE — so the arithmetic lives ONCE here and a
change to it breaks both oracles loudly instead of silently diverging
one engine (the py_hash64/_bm25_core extraction discipline).

Each fit has two executions of one algorithm, chosen by the input
alone. A corpus of at most ``fsutil._DRIVER_MAX_ROWS`` rows is fitted
on the driver from the rows ``fit_input`` collects (a size check and
one collect: two Spark jobs, no shuffle); every other corpus runs the
distributed plan, one assignment pass and one (cell, dim) reduce per
Lloyd round. Both feed the same ``lloyd`` loop: the in-memory rounds
take their sums from ``local_sums`` (``encode_block``, the argmin
kernel ``argmin_codes_arrow`` runs per Arrow batch, then ``np.add.at``
in collect order), the distributed rounds from a ``groupBy`` reduce.
On a single-partition input the two give bit-identical codebooks:
Spark's per-partition double ``sum`` adds in row order too.
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

def encode_block(V, books):
    """(n, m) int32 codes of the rows of ``V`` (n, m·ds) against
    ``books`` (m, k, ds): per subspace, each centroid's squared distance
    accumulates DIMENSION-BY-DIMENSION (the sequential fold the SQL
    replay runs) and np.argmin takes the first minimum, like
    array_position(array_min). The argmin kernel of every assignment:
    ``argmin_codes_arrow`` per Arrow batch, ``local_sums`` on the
    driver."""
    import numpy as np

    m, k_sub, ds = books.shape
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


def local_sums(V, books):
    """One in-memory Lloyd assignment: (sums (m, k, ds), counts (m, k))
    of the rows of ``V`` per (subspace, code). ``np.add.at`` adds the
    rows in collect order, one at a time, from 0.0 — the order of
    Spark's per-partition ``sum`` over the same rows."""
    import numpy as np

    m, k_sub, ds = books.shape
    codes = encode_block(V, books)
    sums = np.zeros(books.shape)
    counts = np.zeros((m, k_sub), dtype=np.int64)
    for j in range(m):
        np.add.at(sums[j], codes[:, j], V[:, j * ds:(j + 1) * ds])
        counts[j] = np.bincount(codes[:, j], minlength=k_sub)
    return sums, counts


def lloyd(books, sums_of, max_iter: int, round_to: int | None):
    """Up to ``max_iter`` Lloyd rounds from ``books`` (m, k, ds), shared
    by both executions of both fits. ``sums_of(books)`` returns the
    round's (sums, counts) per (subspace, code) — ``local_sums`` in
    memory, a ``groupBy`` reduce distributed. Every non-empty cell moves
    to its mean, rounded HALF_UP to ``round_to`` decimals when set (the
    grid absorbs summation-order ulps across engines); an empty cell
    keeps its centroid. Stops early once a round's codebooks are
    ``np.allclose`` (atol 1e-12) to the previous round's."""
    import numpy as np

    from kowari_spark.numerics import round_half_up

    for _ in range(max_iter):
        sums, counts = sums_of(books)
        new = books.copy()
        for j, c in zip(*np.nonzero(counts)):
            mean = sums[j, c] / counts[j, c]
            if round_to is not None:
                mean = [round_half_up(float(x), round_to) for x in mean]
            new[j, c] = mean
        done = np.allclose(new, books, atol=1e-12)
        books = new
        if done:
            break
    return books


def md5_order(ids, seed: int) -> list[int]:
    """Positions of ``ids`` in the seeding order of both fits,
    ``orderBy(md5(concat(cast(id as string), '#seed')))``: Python's
    ``str`` of an integral or string id is Spark's cast."""
    import hashlib

    keys = [hashlib.md5(f"{i}#{seed}".encode()).hexdigest() for i in ids]
    return sorted(range(len(ids)), key=keys.__getitem__)


def fit_in_memory(ids, V, seed: int, sample: int | None, seeds_from,
                  max_iter: int, round_to: int | None):
    """The in-memory execution of both fits over ``fit_input``'s rows:
    ``seeds_from`` seeds from the md5-top-``sample`` rows (every row
    for None) as (id, vector) points in md5 order, then ``lloyd`` runs
    on ``local_sums``."""
    order = md5_order(ids, seed)
    pts = [(ids[i], V[i].tolist()) for i in order[:sample]]
    return lloyd(seeds_from(pts), lambda b: local_sums(V, b), max_iter,
                 round_to)


def fit_input(df, id_col: str, vec_col: str, dim: int | None = None,
              cut: bool = False):
    """(ids, V) for an in-memory fit, or None — the caller then runs the
    distributed plan. Spark work: one zero-column size check
    (``fsutil.fits_driver``), then one ``fsutil.collect_vectors``
    collect; no ``first()``, no ``persist()``. The rows are the ones
    the distributed fit keeps: a null vector or one not ``dim`` long
    (``cut``: shorter than ``dim``, tail ignored — PQ's rule) is
    dropped, ``dim`` None meaning the first non-null vector's length.
    Declined without a Spark job: an id that is neither integral nor
    string (``cast(id as string)`` and Python's ``str`` then order
    differently). Declined after the size check: more than
    ``fsutil._DRIVER_MAX_ROWS`` rows. Declined after the collect: no
    row left, a null id, a non-finite entry, repeated ids (the md5
    seeding order ties)."""
    from pyspark.sql import types as T

    from kowari_spark import fsutil

    if not isinstance(df.schema[id_col].dataType,
                      (T.IntegralType, T.StringType)):
        return None
    bound = fsutil._DRIVER_MAX_ROWS
    if not fsutil.fits_driver(df, bound):
        return None
    got = fsutil.collect_vectors(df.select(id_col, vec_col), bound,
                                 drop=True, dim=dim, cut=cut)
    if got is None:
        return None
    rows, V = got
    ids = [r[0] for r in rows]
    if len(set(ids)) != len(ids):
        return None
    return ids, V


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
    m, _, ds = books.shape
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(code_col, ArrayType(IntegerType()))]
    )
    dim = m * ds

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
                out = [list(map(int, row)) for row in encode_block(V, books)]
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
                    block = encode_block(padded[np.newaxis, :], books)
                    out.append([
                        int(block[0, j]) if (j + 1) * ds <= len(arr)
                        else None
                        for j in range(m)
                    ])
            pdf = pdf.copy()
            pdf[code_col] = out
            yield pdf

    return df.mapInPandas(gen, out_schema)
