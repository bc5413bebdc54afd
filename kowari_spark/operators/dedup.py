"""Deduplication operators for training-data pipelines.

Beyond-reference surface (task north star): exact dedup, MinHash+LSH
near-dedup, SimHash, n-gram Jaccard verification, and embedding-cosine
near-dup — each designed as a shuffle-conscious DataFrame pipeline:

- exact: hash-groupBy (one shuffle on the content hash, map-side partial
  aggregation free from Catalyst);
- MinHash LSH: row-local signature (one mapInPandas pass) -> explode bands
  (|docs|·b rows) -> self-join on (band, key) — the join key is the band
  bucket so the shuffle moves only (id, band_key) pairs, never documents;
- verification joins shingle sets back ONLY for candidate pairs
  (candidate set << n²); a corpus within the driver bounds
  (``fsutil._DRIVER_MAX_ROWS`` rows, ``_DRIVER_MAX_TEXT_BYTES`` of
  text) runs that same algorithm in memory — a size check and one
  collect, the same numpy signature kernel (``_minhash_matrix``) the
  mapInPandas pass runs, md5 band keys, exact shingle-set Jaccard — and
  returns identical rows with no shuffle (two Spark jobs on a narrow
  input);
- embedding near-dup: exact O(n²) variant for oracles/small n, LSH-bucket
  variant as the 100 TB path (pairs only form inside a bucket); a corpus
  within the driver bound (``fsutil._DRIVER_MAX_ROWS``) runs that same LSH
  algorithm in memory — one bounded collect, numpy buckets and GEMM
  pair selection, the exact SQL cosine fold to verify — and returns
  identical rows in two Spark jobs.

All hashing is md5-based and engine-portable so every operator has an
exact DuckDB oracle (see functions/text.py).

Candidate-edge modes (``edges=`` on every banded generator): the
all-pairs bucket self-join (``"pairs"`` — the declared output of the
``*_pairs`` contract rows) emits every (id_a, id_b)
inside a (band, key) bucket: O(B²) rows on ONE skewed join key for a
duplicate family of B members — a boilerplate family of 100k docs
lands in one bucket and materializes 5·10⁹ candidate rows on a single
task, and real corpora are dedup'd precisely because they have such
families. The downstream consumer (``dedup_clusters`` — connected
components) needs only CONNECTIVITY, so ``edges="star"`` emits per-
bucket star edges (member ↔ bucket-min id): PROVABLY the same
components (every bucket member is connected through the bucket min in
both edge sets) at O(B) rows per bucket, generated by a groupBy-min +
equi-join-back that AQE can skew-split. Use "star" whenever the edges
feed CC/keep-list; use "pairs" when the pair list itself is the output
or when per-pair verification (Jaccard / Hamming / shared-count) must
not split components a verified all-pairs set would join — on
verified VARIANTS, star mode verifies member↔min edges only, so a
family whose min is an outlier can split where verified all-pairs
would bridge through intermediate members (documented trade, VERDICT
r7 #1).

``edges="auto"`` — the DEFAULT since round 9 (VERDICT r8 #1: the
scale-safe path must not be opt-in) — resolves per call with a bounded
hot-bucket probe (:func:`resolve_edges`): "pairs" when every bucket is
small (exact pairwise semantics, and the self-join reuses one exchange
— measured 1.3-2x faster on low-duplication corpora), "star" the
moment any bucket could go quadratic. The probe is one linear
groupBy-count over the already-checkpointed bucketed relation with
map-side partial aggregation and a limit(1) existence check — never a
collect, never a second pass over documents. Callers whose OUTPUT is
the complete verified pair list (the ``*_pairs`` oracle rows) pin
``edges="pairs"`` explicitly; CC/keep-list consumers ride the default.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kowari_spark import fsutil
from kowari_spark.functions.text import (
    MINHASH_P,
    base_hash64,
    fingerprint_key,
    minhash_params,
    shingles,
)


def _check_edges(edges: str) -> None:
    if edges not in ("pairs", "star", "auto"):
        raise ValueError(
            f"edges must be 'pairs', 'star' or 'auto', got {edges!r}"
        )


#: "auto" resolves to star once any bucket exceeds this size: an
#: all-pairs self-join materializes B(B-1)/2 candidate rows on ONE join
#: key for a B-member bucket (~0.5M rows at 1024, and quadratic from
#: there) — past this point the pairs join is the scale cliff star
#: exists to remove, while below it pairs is both exact pairwise
#: semantics and measurably cheaper (one reused exchange).
_AUTO_STAR_BUCKET = 1024


def resolve_edges(
    edges: str,
    bucketed: DataFrame,
    bucket_cols: list[str],
    threshold: int = _AUTO_STAR_BUCKET,
) -> str:
    """Resolve ``edges="auto"`` with a bounded hot-bucket probe
    (VERDICT r8 #1): one linear groupBy-count over the (already
    checkpointed) bucketed relation — map-side partial counts, then a
    ``limit(1)`` existence check on buckets above ``threshold``; no
    collect, no second document pass.
    Returns "pairs" when every bucket is small, "star" when any bucket
    would make the all-pairs self-join quadratic. Explicit
    "pairs"/"star" pass through untouched (the probe costs one Spark
    job — callers that know their answer shouldn't pay it)."""
    _check_edges(edges)
    if edges != "auto":
        return edges
    hot = (
        bucketed.groupBy(*[F.col(c) for c in bucket_cols])
        .count()
        .filter(F.col("count") > threshold)
        .limit(1)
        .count()
    )
    if hot:
        _warn_star(bucket_cols, threshold, stacklevel=4)
    return "star" if hot else "pairs"


def _warn_star(bucket_cols: list[str], threshold: int,
               stacklevel: int) -> None:
    """The warning of every ``edges="auto"`` that resolves to star."""
    import warnings

    # the flip is a data-dependent OUTPUT change on *_pairs-named
    # generators (star edges, not the complete pair list) — make it
    # loud so callers who need exact pairwise semantics pin
    # edges="pairs" (ADVICE r9)
    warnings.warn(
        f"edges='auto' resolved to 'star': a bucket on {bucket_cols} "
        f"exceeds {threshold} members, so the complete all-pairs "
        "list would be quadratic. Emitting bucket-min star edges "
        "(component-identical for connected-components/keep-list "
        "consumers, NOT the complete pair list). Pass edges='pairs' "
        "to force exact pairwise output, or edges='star' to silence "
        "this warning.",
        stacklevel=stacklevel,
    )


def bucket_star_edges(
    banded: DataFrame, id_col: str, bucket_cols: list[str],
    keep_cols: tuple[str, ...] = (),
    dedupe: bool = True,
) -> DataFrame:
    """Per-bucket star edges: (id_a = bucket-min id, id_b = member) for
    every non-min member of every bucket. Connected components over
    these edges are IDENTICAL to components over the all-pairs bucket
    join (each member connects to the min, so any two members of one
    bucket are 2 hops apart), but the row count is linear in bucket
    size and the generation is a groupBy + equi-join AQE can skew-split
    — no quadratic blowup on hot buckets. ``keep_cols`` are carried
    from the member row with ``_a``/``_b`` suffixes (the min's values
    join back from the bucket-min row) for edge-level verification.
    ``dedupe=False`` keeps one edge row PER BUCKET the pair co-occupies
    (callers that count shared buckets, e.g. winnowing's ``shared``)."""
    mins = banded.groupBy(*bucket_cols).agg(
        F.min(id_col).alias("__bmin"),
        # min_by rides the same partial-aggregate: the keep_col values
        # of the bucket-min row, no extra join (values are per-id
        # constants in every caller, so min-id ties are value ties)
        *[F.min_by(F.col(c), F.col(id_col)).alias(f"{c}_a")
          for c in keep_cols],
    )
    out = [
        F.col("__bmin").alias("id_a"), F.col(id_col).alias("id_b"),
        *[F.col(f"{c}_a") for c in keep_cols],
        *[F.col(c).alias(f"{c}_b") for c in keep_cols],
    ]
    edges = (
        banded.join(mins, bucket_cols)
        .filter(F.col(id_col) != F.col("__bmin"))
        .select(*out)
    )
    return edges.distinct() if dedupe else edges


# -- exact ------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, content_cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per exact content group.

    Content key = md5 of the concatenated columns; one shuffle, with
    map-side partial min/count."""
    key = F.md5(F.concat_ws("", *[F.col(c) for c in content_cols]))
    keyed = df.withColumn("__key", key)
    keep = keyed.groupBy("__key").agg(F.min(id_col).alias(id_col))
    return keyed.join(keep, ["__key", id_col], "left_semi").drop("__key")


def exact_dup_groups(
    df: DataFrame, content_cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Groups with >1 identical rows: (content_key, n_dups, keep_id)."""
    key = F.md5(F.concat_ws("", *[F.col(c) for c in content_cols]))
    return (
        df.withColumn("content_key", key)
        .groupBy("content_key")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


# -- MinHash + LSH ----------------------------------------------------------

def _shingle_set(text: str, shingle_n: int) -> set[str]:
    """``functions.text.shingles`` of a non-null text, as a set:
    single-space split, the whole text below ``shingle_n`` tokens."""
    toks = text.split(" ")
    if len(toks) < shingle_n:
        return {text}
    return {" ".join(toks[j: j + shingle_n])
            for j in range(len(toks) - shingle_n + 1)}


def _minhash_matrix(texts, a: list[int], b: list[int], shingle_n: int):
    """The signature kernel of both minhash executions: a
    (len(texts), len(a)) int64 matrix whose entry (d, i) is the min
    over document d's shingle hashes m of (a_i·m + b_i) mod p, p =
    2³¹−1. Each shingle is md5-hashed once (``numerics.py_hash64``,
    reduced mod p); the affine mins are one numpy pass per hash over
    every shingle of the batch, reduced per document. The int64
    arithmetic is exact: a_i, m < p, so a_i·m + b_i < 2⁶². NULL text
    hashes as the empty string."""
    import numpy as np

    from kowari_spark.numerics import py_hash64

    hs, starts = [], []
    for t in texts:
        starts.append(len(hs))
        hs.extend(map(py_hash64, _shingle_set("" if t is None else t,
                                              shingle_n)))
    out = np.empty((len(starts), len(a)), dtype=np.int64)
    if starts:  # every document has at least one shingle
        H = np.asarray(hs, dtype=np.int64) % MINHASH_P  # hashes < 2⁶⁰
        for i, (ai, bi) in enumerate(zip(a, b)):
            out[:, i] = np.minimum.reduceat((ai * H + bi) % MINHASH_P, starts)
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Whole-table minhash signatures. Output: (id_col,
    m0..m{num_hashes-1}).

    Per-document minhash needs no cross-document state, so the
    signature is computed ROW-LOCALLY in one ``mapInPandas`` pass — no
    shingle explode, no shuffle (4.6x faster than the explode +
    ``groupBy(id)`` min-aggregate plan at 5M docs, BASELINE.md). Each
    Arrow batch runs ``_minhash_matrix``, the kernel the in-memory
    ``minhash_dedup_pairs`` runs on the driver: same tokenization as
    ``functions.text.shingles`` (single-space split, whole-text
    fallback for sub-``shingle_n`` docs), the md5-prefix base hash
    (``numerics.py_hash64``, the portable-hash contract's one Python
    home) and the affine (a·m + b) mod p mins — exact integer math, so
    the DuckDB replay matches bit-for-bit. NULL text hashes as the
    empty string, like every fingerprint family here."""
    import pandas as pd

    from kowari_spark.fsutil import scan_parallelism

    # few-split scans serialize the per-shingle md5 pass (guide §2.5);
    # no-op whenever the input is already as parallel as the session
    df = scan_parallelism(df.select(F.col(id_col), F.col(text_col)))
    a, b = minhash_params(num_hashes, seed)
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, " + ", ".join(
        f"m{i} long" for i in range(num_hashes)
    )

    def sig(batches):
        for pdf in batches:
            M = _minhash_matrix(pdf[text_col], a, b, shingle_n)
            out = {id_col: pdf[id_col].to_numpy()}
            out.update((f"m{i}", M[:, i]) for i in range(num_hashes))
            yield pd.DataFrame(out)

    return df.mapInPandas(sig, schema)


def lsh_match_probability(s: float, num_hashes: int, bands: int) -> float:
    """P(candidate) for a pair with Jaccard ``s`` under banded MinHash
    LSH — the standard S-curve 1 − (1 − s^r)^b with r = num_hashes/bands
    rows per band (Leskovec, Rajaraman & Ullman, *Mining of Massive
    Datasets* §3.4.2). Each band matches iff all r minhashes agree
    (prob s^r); a pair is a candidate iff ANY band matches."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    if not 0.0 <= s <= 1.0:
        raise ValueError(f"jaccard s must be in [0, 1], got {s}")
    r = num_hashes // bands
    return 1.0 - (1.0 - s**r) ** bands


def minhash_banding(
    threshold: float, max_hashes: int = 128, min_bands: int = 2,
    min_rows: int = 2,
) -> tuple[int, int]:
    """Derive ``(num_hashes, bands)`` for a target Jaccard threshold —
    removes the hand-tuned banding knob from the dedup path.

    Picks the (r, b) grid point whose S-curve midpoint (1/b)^(1/r) —
    the similarity where P(candidate) = 1 − (1 − 1/b)^b (→ 1 − 1/e,
    the curve's steepest region) — lands nearest ``threshold``, among
    r·b <= ``max_hashes``;
    ties prefer FEWER total hashes (cheaper signatures), then more
    bands (steeper curve). ``min_rows`` floors the band width at 2:
    r = 1 degenerates the S-curve to the concave 1 − (1 − s)^b, which
    admits everything — no banding choice with single-hash bands
    discriminates. The returned tuple plugs directly into
    ``minhash_band_pairs(num_hashes=..., bands=...)``; pair it with a
    ``jaccard_pairs`` verification at the same threshold, which removes
    false positives — the banding choice only governs recall/cost."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if max_hashes < min_bands * 2:
        raise ValueError(f"max_hashes={max_hashes} too small")
    best = None
    for r in range(min_rows, max_hashes // min_bands + 1):
        for b in range(min_bands, max_hashes // r + 1):
            mid = (1.0 / b) ** (1.0 / r)
            key = (abs(mid - threshold), r * b, -b)
            if best is None or key < best[0]:
                best = (key, (r * b, b))
    return best[1]


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 42,
    with_sig: bool = False,
) -> DataFrame:
    """The banded signature relation (id_col, band, band_key) every LSH
    consumer joins on — band key = md5 of the band's minhash values.
    Deterministic (md5-based) and engine-portable, which is what makes
    the persisted signature layout (operators/dedup_index.py) sound: a
    batch fingerprinted today joins bit-for-bit against signatures
    stored last month. ``with_sig`` carries the full minhash vector as
    a ``sig`` array column on every band row (num_hashes longs per
    band) — the signature-agreement Jaccard estimator's input, letting
    a stored layout VERIFY candidates without any document text."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, seed)
    extra = (
        [F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")]
        if with_sig
        else []
    )
    return sig.select(
        F.col(id_col),
        *extra,
        F.posexplode(
            F.array(
                *[
                    F.md5(F.concat_ws(",", *[F.col(f"m{i * r + j}") for j in range(r)]))
                    for i in range(bands)
                ]
            )
        ).alias("band", "band_key"),
    )


def minhash_band_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 42,
    edges: str = "auto",
) -> DataFrame:
    """Candidate near-dup pairs: ids sharing at least one LSH band.

    Signature of ``num_hashes`` minhashes split into ``bands`` bands of
    r = num_hashes/bands rows; band key = md5 of the band's values.
    Output: (id_a, id_b) with id_a < id_b, distinct. The band self-join
    shuffles only (id, band_key) pairs — documents never move.

    ``edges="star"`` emits per-bucket star edges instead (id_a = bucket
    min): same connected components at O(B) rows per bucket instead of
    the self-join's O(B²) — the shape to feed ``dedup_clusters`` on a
    duplicate-heavy corpus. ``"auto"`` (default) probes the bucket
    sizes and picks the mode — pin ``"pairs"`` when the complete pair
    list itself is the contract (see module docstring).
    """
    _check_edges(edges)
    banded = (
        minhash_bands(df, text_col, id_col, num_hashes, bands, shingle_n, seed)
        .withColumnRenamed(id_col, "__id")
        # lazy checkpoint: the signature subtree (shingle explode +
        # num_hashes mins) feeds both sides of the band self-join —
        # compute it once, not per side
        .localCheckpoint(eager=False)
    )
    edges = resolve_edges(edges, banded, ["band", "band_key"])
    if edges == "star":
        return bucket_star_edges(banded, "__id", ["band", "band_key"])
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for given (id_a, id_b) pairs.

    Shingle sets are computed ONLY for documents that appear in a
    candidate pair (semi-join pruning) — the candidate set is far
    smaller than the corpus, so verification cost tracks |pairs|, not n."""
    ids_a = pairs.select(F.col("id_a").alias(id_col))
    ids_b = pairs.select(F.col("id_b").alias(id_col))

    def _side(ids, out_id, out_sh):
        pruned = df.join(ids.distinct(), id_col, "left_semi")
        return pruned.select(
            F.col(id_col).alias(out_id),
            shingles(F.col(text_col), shingle_n).alias(out_sh),
        )

    a = _side(ids_a, "id_a", "sh_a")
    b = _side(ids_b, "id_b", "sh_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
    )


def _minhash_pairs_in_memory(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    seed: int,
    edges: str,
) -> DataFrame | None:
    """``minhash_dedup_pairs`` on the driver, for a corpus of at most
    ``fsutil._DRIVER_MAX_ROWS`` rows and ``_DRIVER_MAX_TEXT_BYTES`` text
    bytes.
    Returns None — the caller then runs the distributed plan — for an
    id type other than integral or string (only these order identically
    in Python and Spark), a null or repeated id, a corpus over either
    bound, or more all-pairs candidates than ``HNSW.BEAM_MAX_EDGES``.

    Two ``fsutil.bounded_collect`` calls (one Spark job each on a narrow
    input, no exchange): the size check (ids and
    ``octet_length(text)``), then (id, text).
    Every later step repeats one statement of the distributed plan, so
    the rows are identical (pinned by tests/test_text_dedup.py::
    test_minhash_in_memory_parity): signatures from
    ``_minhash_matrix``, the kernel ``minhash_signatures`` runs per
    Arrow batch; band keys as the md5 of ``minhash_bands``'
    ``concat_ws(",", …)`` string; "auto" edges from the exact bucket
    sizes with ``resolve_edges``' rule; candidates per (band, key)
    bucket — all pairs, or member ↔ bucket-min like
    ``bucket_star_edges`` — deduplicated across bands; and the exact
    Jaccard of ``jaccard_pairs`` over ``functions.text.shingles``' sets,
    where NULL text is the set {NULL}."""
    import hashlib
    from itertools import combinations

    import numpy as np
    from pyspark.sql import types as T

    from kowari_spark.fsutil import local_df
    from kowari_spark.operators.hnsw import HNSW

    field = df.schema[id_col]
    bound = fsutil._DRIVER_MAX_ROWS
    if bound <= 0 or not isinstance(field.dataType,
                                    (T.IntegralType, T.StringType)):
        return None
    sized = fsutil.bounded_collect(
        df.select(id_col, F.octet_length(text_col)), bound)
    ids = [r[0] for r in sized]
    if (len(ids) > bound or None in ids or len(set(ids)) != len(ids)
            or sum(r[1] or 0 for r in sized) > _DRIVER_MAX_TEXT_BYTES):
        return None
    # position == id rank: bucket mins and id_a < id_b are positional
    rows = sorted(fsutil.bounded_collect(df.select(id_col, text_col), bound),
                  key=lambda r: r[0])
    ids = [r[0] for r in rows]
    texts = [r[1] for r in rows]

    a, b = minhash_params(num_hashes, seed)
    step = 4096  # documents per kernel call: bounds the shingle buffer
    sig = np.concatenate(
        [_minhash_matrix(texts[i: i + step], a, b, shingle_n)
         for i in range(0, len(texts), step)]
        or [np.zeros((0, num_hashes), dtype=np.int64)]
    )
    r = num_hashes // bands
    buckets: dict = {}
    for band in range(bands):
        for pos, vals in enumerate(sig[:, band * r: (band + 1) * r].tolist()):
            key = hashlib.md5(",".join(map(str, vals)).encode()).hexdigest()
            buckets.setdefault((band, key), []).append(pos)
    groups = [g for g in buckets.values() if len(g) > 1]
    if edges == "auto":
        edges = "pairs"
        if any(len(g) > _AUTO_STAR_BUCKET for g in groups):
            _warn_star(["band", "band_key"], _AUTO_STAR_BUCKET, stacklevel=4)
            edges = "star"
    cand = set()
    if edges == "star":
        for g in groups:
            cand.update((g[0], m) for m in g[1:])
    elif sum(len(g) * (len(g) - 1) // 2 for g in groups) > HNSW.BEAM_MAX_EDGES:
        return None
    else:
        for g in groups:
            cand.update(combinations(g, 2))

    sets: dict = {}

    def shingled(pos):
        if pos not in sets:
            t = texts[pos]
            sets[pos] = {None} if t is None else _shingle_set(t, shingle_n)
        return sets[pos]

    out = []
    for pa, pb in cand:
        sa, sb = shingled(pa), shingled(pb)
        inter = len(sa & sb)
        jac = inter / (len(sa) + len(sb) - inter)
        if jac >= threshold:
            out.append((ids[pa], ids[pb], jac))
    schema = T.StructType([
        T.StructField("id_a", field.dataType),
        T.StructField("id_b", field.dataType),
        T.StructField("jaccard", T.DoubleType()),
    ])
    return local_df(df.sparkSession, out, schema)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int | str = 16,
    bands: int | None = 4,
    shingle_n: int = 3,
    seed: int = 42,
    edges: str = "auto",
) -> DataFrame:
    """Near-dup pairs: LSH candidates verified by exact Jaccard >= t.
    Output: (id_a, id_b, jaccard), id_a < id_b.

    Two executions of one algorithm, chosen by the input alone:

    - bounded: a size check collects the ids and text byte lengths
      of at most ``fsutil._DRIVER_MAX_ROWS`` + 1 rows; when the corpus
      fits that row bound and ``_DRIVER_MAX_TEXT_BYTES``, one collect
      of (id, text), and ``_minhash_pairs_in_memory`` signs, buckets
      and verifies it on the driver and returns the identical rows
      through ``fsutil.local_df`` — two ``fsutil.bounded_collect``
      calls (one Spark job each on a narrow input), no shuffle;
    - distributed: every other case — a larger corpus, or input the
      in-memory path declines — runs ``minhash_band_pairs`` (the band
      self-join shuffles only (id, band_key) pairs) and
      ``jaccard_pairs``. This is the 100 TB path.

    Both executions sign documents with one numpy kernel
    (``_minhash_matrix``: per Arrow batch in ``minhash_signatures``, per
    driver chunk in memory).

    ``num_hashes="auto"`` derives (num_hashes, bands) from ``threshold``
    via :func:`minhash_banding` — the S-curve's steep region lands on
    the verification threshold, so banding recall tracks the Jaccard
    bound the caller actually enforces (the explicit knobs remain).

    ``edges="star"`` verifies only member↔bucket-min candidates (O(B)
    per bucket) — every surviving edge passes the exact Jaccard bound,
    but verification on star edges can split components verified
    all-pairs would join through intermediate members (the verified-
    variant trade, module docstring). ``"auto"`` (default) stays on
    "pairs" until a band bucket holds more than 1,024 documents — a
    bounded probe on the distributed plan, the exact bucket sizes in
    memory — pin "pairs" when the verified pair list itself is the
    output."""
    if num_hashes == "auto":
        num_hashes, bands = minhash_banding(threshold)
    elif bands is None:
        # bands=None only pairs with num_hashes="auto" (the tuner fills
        # both); an explicit hash count with no band count would surface
        # as an opaque `num_hashes % None` TypeError downstream (ADVICE r8)
        raise ValueError(
            "bands=None requires num_hashes='auto' (the banding tuner "
            "derives both); pass an explicit bands with an explicit "
            f"num_hashes={num_hashes}"
        )
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    _check_edges(edges)
    pairs = _minhash_pairs_in_memory(df, text_col, id_col, threshold,
                                     num_hashes, bands, shingle_n, seed,
                                     edges)
    if pairs is not None:
        return pairs
    cand = minhash_band_pairs(df, text_col, id_col, num_hashes, bands,
                              shingle_n, seed, edges=edges)
    return jaccard_pairs(df, cand, text_col, id_col, shingle_n).filter(
        F.col("jaccard") >= threshold
    )


# -- SimHash ----------------------------------------------------------------

def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """Whole-table SimHash, as the aggregation shape that scales on
    the JVM: explode tokens, hash each ONCE, then ``bits`` tiny sum()
    aggregates (map-side partial) counting set bits; fingerprint bit j
    is set when ones_j outvote zeros. Same values as the
    ``functions.text.simhash`` Column form, which recomputes the
    token-hash array per bit and blows up codegen at 32 bits. A
    row-local ``mapInPandas`` form measured SLOWER at every scale
    (sf0.1: 1.1 s here vs 1.3 s; 5M docs: 53.7 s vs 65.6 s — simhash
    hashes EVERY token, and per-token md5 is cheaper in the JVM than in
    Python), so this plan is the one engine. NULL text fingerprints as
    the empty string, like the minhash and winnow families."""
    from kowari_spark.fsutil import scan_parallelism
    from kowari_spark.functions.text import tokens

    # few-split scans serialize the per-token md5 pass (guide §2.5)
    df = scan_parallelism(df.select(F.col(id_col), F.col(text_col)))
    exploded = df.select(
        F.col(id_col),
        F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("__t"),
    ).select(id_col, base_hash64(F.col("__t")).alias("__h"))
    aggs = [
        F.sum(F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1))).alias(f"__b{j}")
        for j in range(bits)
    ] + [F.count("*").alias("__n")]
    per = exploded.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("long")
    for j in range(bits):
        fp = fp + F.when(
            F.col(f"__b{j}") * 2 > F.col("__n"), F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return per.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    block_bits: int = 8,
    edges: str = "auto",
) -> DataFrame:
    """Near pairs by SimHash hamming distance <= max_hamming.

    Scale path: block on the top ``block_bits`` bits (near docs very
    likely share them), join within blocks, then exact popcount filter —
    avoids the full n² comparison. bit_count is a built-in in both
    engines.

    ``edges="star"`` verifies only member↔block-min edges (O(B) per
    block instead of O(B²)): every emitted edge still satisfies the
    exact Hamming bound, but a block whose min is far from the rest can
    split components the verified all-pairs set would join through
    intermediate members — the verified-variant trade documented in the
    module docstring. ``"auto"`` (default) probes the block sizes and
    stays on "pairs" until one could go quadratic — pin "pairs" when
    the complete verified pair list is the contract."""
    _check_edges(edges)
    fp = simhash_fingerprints(df, text_col, id_col, bits)
    # lazy checkpoint: the fingerprint aggregation feeds both sides of
    # the blocked self-join — compute it once, not per side
    blocked = fp.withColumn(
        "block", F.shiftright(F.col("simhash"), bits - block_bits)
    ).localCheckpoint(eager=False)
    edges = resolve_edges(edges, blocked, ["block"])
    if edges == "star":
        star = bucket_star_edges(
            blocked, id_col, ["block"], keep_cols=("simhash",)
        )
        return (
            star.withColumn(
                "hamming",
                F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
            )
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )
    a = blocked.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "block"
    )
    b = blocked.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "block"
    )
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# -- fingerprint dedup -------------------------------------------------------

def fingerprint_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Token-set fingerprint groups (order/duplication-insensitive)."""
    return (
        df.select(F.col(id_col), fingerprint_key(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n") > 1)
    )


# -- duplicate clustering ----------------------------------------------------

def _cc_star(canon: DataFrame, max_iter: int) -> DataFrame:
    """Star-contraction connected components (Kiveris et al., "Connected
    Components in MapReduce and Beyond"): alternating large-star /
    small-star rounds converge in O(log² n) rounds INDEPENDENT of graph
    diameter. Input: canonical edges (hi > lo), checkpointed. Output:
    star edges (node, component-min) for every non-root node.

    - large-star: every node points its larger neighbors at the minimum
      of its neighborhood (long chains collapse geometrically);
    - small-star: every node and its smaller neighbors re-attach to that
      minimum, keeping edges canonical (hi > lo).

    Convergence detection is two-stage: a cheap edge-set signature
    (count + hash sum) screens each round, and a signature match is then
    CONFIRMED with an exact symmetric-difference check (two anti-join
    emptiness probes on the already-checkpointed edge sets) — a hash
    collision can no longer end the contraction early. Exhausting
    ``max_iter`` without a confirmed fixpoint raises a warning: the
    returned labels may still be mid-contraction."""
    import warnings

    prev_sig = None
    prev_canon = None
    converged = False
    for _ in range(max_iter):
        sym = canon.select(
            F.col("hi").alias("u"), F.col("lo").alias("v")
        ).unionByName(canon.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
        mn = sym.groupBy("u").agg(F.min("v").alias("mv"))
        # no distinct here: duplicate (hi, lo) rows collapse in the
        # small-star groupBy/distinct below — one less shuffle per round
        ls = (
            sym.join(mn, "u")
            .withColumn("m", F.least(F.col("u"), F.col("mv")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        )
        mn2 = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        j = ls.join(mn2, "hi")
        # lazy checkpoint: lineage truncates and the round's result is
        # cached, but the blocking action is the signature aggregate
        # below — ONE driver barrier per round instead of two
        canon = (
            j.filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .unionByName(j.select("hi", F.col("m").alias("lo")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        sig = tuple(
            canon.agg(
                F.count("*").alias("n"), F.sum(F.hash("hi", "lo")).alias("h")
            ).first()
        )
        if sig == prev_sig and prev_canon is not None:
            # exact confirmation of the signature match: both sets are
            # localCheckpoint'ed, so the two anti-joins replay no lineage
            if (
                canon.join(prev_canon, ["hi", "lo"], "left_anti").isEmpty()
                and prev_canon.join(canon, ["hi", "lo"], "left_anti").isEmpty()
            ):
                converged = True
                break
        prev_sig = sig
        prev_canon = canon
    if not converged:
        warnings.warn(
            f"_cc_star: no fixpoint within max_iter={max_iter} rounds; "
            "components may be incompletely contracted — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return canon


def _cc_unionfind(canon0: DataFrame, rows=None) -> DataFrame:
    """Exact connected components for SMALL edge sets (the ``auto``
    route at or under ``fsutil._DRIVER_MAX_ROWS`` rows): ONE bounded collect
    (≤ 64k canonical edges ≈ 1 MB; ``rows`` when the caller already
    collected them) and a driver-side union-find, instead of
    O(diameter) iterative rounds.

    The r15 measurement that motivates it: the propagation loop this
    replaces ran 12–20+ driver barriers (≈ 0.6 s each at sf0.1 — the
    semantic-dedup pair graph has a diameter in the hundreds) totalling
    ~100+ Spark jobs per CC call; union-find is 1 job. At 100 TB the
    small-graph route is exactly where a driver pass is RIGHT: the
    collect is bounded by the same threshold that routes here (the
    size-probed-broadcast discipline), big edge sets still take
    star contraction, and the O(α(n)) merge is exact for any diameter
    — the old loop's "unconverged fall-through" path is gone because
    there is nothing left to not converge.

    Returns (id, cluster_id = component-min id) for every node that
    appears in canon0, INCLUDING hi == lo self-pair nodes (isolated:
    their own cluster). Python's str/int min agrees with Spark's
    ordering (UTF-8 byte order preserves code-point order), so labels
    are bit-identical to the distributed result."""
    if rows is None:
        rows = canon0.collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        hi, lo = r["hi"], r["lo"]
        for v in (hi, lo):
            if v not in parent:
                parent[v] = v
        ra, rb = find(hi), find(lo)
        if ra != rb:
            # union by MIN id: the smaller root stays the root, so the
            # final find() of any node IS the component minimum
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    spark = canon0.sparkSession
    id_type = canon0.schema["hi"].dataType
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("id", id_type), StructField("cluster_id", id_type)]
    )
    from kowari_spark.fsutil import local_df

    return local_df(
        spark, [(v, find(v)) for v in parent], schema
    )


#: the text-byte bound of the in-memory ``minhash_dedup_pairs``: the
#: driver hashes every shingle in one Python process, the distributed
#: plan on every core. Measured at local[4] on short documents (30-80
#: words), in memory vs distributed: 4.1 vs 5.2 s at 3.5 MB, 6.1 vs
#: 5.2 s at 7 MB, 13.2 vs 9.1 s at 14 MB (64k rows, inside the row
#: bound), so the cap sits at the short-document break-even; longer
#: documents cost the driver less per byte (8.6 vs 26.0 s at 11 MB of
#: 400-1,000-word documents), so the cap sends some of those to the
#: slower plan (plans/r21/README.md)
_DRIVER_MAX_TEXT_BYTES = 8 << 20


def dedup_clusters(
    pairs: DataFrame, max_iter: int = 20, algorithm: str = "auto"
) -> DataFrame:
    """Connected components over near-dup pairs: (id, cluster_id) where
    cluster_id = min id reachable through the pair graph.

    Near-dup relations aren't transitive, but dedup treats them so (one
    survivor per component — the standard MinHash-dedup final step).

    Adaptive algorithm choice:

    - big edge sets (or ``algorithm="star"``): large-star/small-star
      contraction — O(log² n) rounds independent of diameter, the only
      shape that survives a 100 TB high-diameter graph;
    - small edge sets (``algorithm="auto"``, at most
      ``fsutil._DRIVER_MAX_ROWS`` distinct edges): ``_cc_unionfind`` on
      the driver, exact for any diameter.

    In "auto" mode one collect under
    ``limit(fsutil._DRIVER_MAX_ROWS + 1)`` both decides the route and
    feeds the union-find. Only an edge set
    over the bound is localCheckpoint'ed (it is typically the tail of
    an expensive minhash/jaccard pipeline), which also truncates
    per-round lineage so star plans don't grow with iterations.
    """
    canon0 = pairs.select(
        F.greatest("id_a", "id_b").alias("hi"),
        F.least("id_a", "id_b").alias("lo"),
    ).distinct()
    if algorithm == "auto":
        rows = canon0.limit(fsutil._DRIVER_MAX_ROWS + 1).collect()
        if len(rows) <= fsutil._DRIVER_MAX_ROWS:
            # small edge set: driver union-find — exact for any
            # diameter, no job beyond this collect (r15: the
            # propagation loop it replaced cost ~100+ jobs on the
            # semantic-dedup pair graph). canon0 holds every node,
            # self-pair isolates included, so every node is labeled.
            return _cc_unionfind(canon0, rows)
    canon0 = canon0.localCheckpoint()
    canon = canon0.filter(F.col("hi") != F.col("lo"))
    all_nodes = (
        canon0.select(F.col("hi").alias("id"))
        .unionByName(canon0.select(F.col("lo").alias("id")))
        .distinct()
    )

    def _finish(star_edges: DataFrame) -> DataFrame:
        child = star_edges.select(
            F.col("hi").alias("id"), F.col("lo").alias("cluster_id")
        )
        roots = all_nodes.join(
            star_edges.select(F.col("hi").alias("id")), "id", "left_anti"
        ).select("id", F.col("id").alias("cluster_id"))
        return child.unionByName(roots)

    return _finish(_cc_star(canon, max_iter))


def dedup_keep_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id", max_iter: int = 20
) -> DataFrame:
    """Drop every clustered document except its cluster's min-id
    representative; documents in no near-dup pair survive untouched."""
    clusters = dedup_clusters(pairs, max_iter)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# -- embedding near-dup ------------------------------------------------------

def _pair_cosine() -> Column:
    """cos(va, vb) from PREcomputed norms na/nb: each vector's norm is
    computed once per row upstream, not once per pair — at n² pairs the
    naive form does 3× the array math. Same expression shape as the
    reference/oracle (dot / (sqrt·sqrt), 0.0 on zero norm)."""
    from kowari_spark.functions.vector import dot

    return F.when(
        (F.col("na") == F.lit(0.0)) | (F.col("nb") == F.lit(0.0)), F.lit(0.0)
    ).otherwise(dot("va", "vb") / (F.col("na") * F.col("nb")))


def _kept_cosine(threshold: float) -> Column:
    """``cos >= threshold`` without NaN: Spark orders NaN above every
    double, so a vector with a NaN entry would otherwise pair with
    every row it meets."""
    return (F.col("cos") >= threshold) & ~F.isnan("cos")


def embedding_near_dups(
    df: DataFrame,
    threshold: float,
    id_col: str = "id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine near-dup (id_a < id_b, cos >= t).

    O(n²) — the oracle-checkable baseline. Use
    ``embedding_near_dups_lsh`` as the scale path."""
    from kowari_spark.functions.vector import magnitude

    normed = df.select(
        F.col(id_col), F.col(vec_col), magnitude(vec_col).alias("__n")
    )
    a = normed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col("__n").alias("na")
    )
    b = normed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("__n").alias("nb")
    )
    cos = _pair_cosine()
    if round_to is not None:
        cos = F.round(cos, round_to) + F.lit(0.0)
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(_kept_cosine(threshold))
    )


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    left_id: str = "id",
    right_id: str = "id",
    vec_col: str = "embedding",
    round_to: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Approximate two-table similarity join (spark.ml
    approxSimilarityJoin equivalent, SURVEY.md §2.6 "Joins"): all
    (left, right) pairs with cosine >= threshold, found via sign-LSH
    OR-construction over ``num_tables`` independent plane sets.

    Both sides hash with the SAME planes, so true near pairs collide
    with probability 1-(1-p^planes)^tables; each table's equi-join on
    (table, bucket) shuffles only (id, bucket) pairs. Verification joins
    vectors back for the candidate set only. Output: (left_id, right_id,
    cos).

    Pass ``dim`` when the caller knows the vector dimension (a
    Collection always does) — the ``fsutil.infer_dim`` fallback (the
    first non-null vector's length) costs one Spark job per invocation
    (ADVICE r5). Buckets are ``MultiSignLSH.bucket_col``'s: one GEMM
    per Arrow batch, with the SQL fold's sign bits. A pair whose cosine
    is NaN is dropped.
    """
    from kowari_spark.fsutil import infer_dim, scan_parallelism
    from kowari_spark.functions.vector import magnitude
    from kowari_spark.operators.lsh import MultiSignLSH

    if dim is None:
        dim = infer_dim(left, vec_col)
    # spread few-split scans before the per-row hash pass (guide §2.5);
    # no-op at scale, value-safe (per-row hashing + set-shaped output)
    left = scan_parallelism(left.select(F.col(left_id), F.col(vec_col)))
    right = scan_parallelism(right.select(F.col(right_id), F.col(vec_col)))
    buckets = MultiSignLSH(dim, num_planes, num_tables, seed).bucket_col(
        vec_col
    )

    def _bucketed(df, id_col, out):
        return df.select(
            F.col(id_col).alias(out), F.posexplode(buckets).alias("__tbl", "bucket")
        )

    cand = (
        _bucketed(left, left_id, "__lid")
        .join(_bucketed(right, right_id, "__rid"), ["__tbl", "bucket"])
        .select("__lid", "__rid")
        .distinct()
    )

    def _normed(df, id_col, out_id, out_vec, out_norm):
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(out_vec),
            magnitude(vec_col).alias(out_norm),
        )

    la = _normed(left, left_id, "__lid", "va", "na")
    rb = _normed(right, right_id, "__rid", "vb", "nb")
    cos = _pair_cosine()
    if round_to is not None:
        cos = F.round(cos, round_to) + F.lit(0.0)
    return (
        cand.join(la, "__lid")
        .join(rb, "__rid")
        .select(
            F.col("__lid").alias(left_id + "_l"),
            F.col("__rid").alias(right_id + "_r"),
            cos.alias("cos"),
        )
        .filter(_kept_cosine(threshold))
    )


def _near_dups_in_memory(
    df: DataFrame,
    threshold: float,
    num_planes: int,
    num_tables: int,
    seed: int,
    id_col: str,
    vec_col: str,
    round_to: int | None,
    dim: int | None,
    edges: str,
) -> DataFrame | None:
    """``embedding_near_dups_lsh`` on the driver, over the rows
    ``fsutil.collect_vectors`` returns for at most
    ``fsutil._DRIVER_MAX_ROWS`` rows. Returns None — the caller then runs the distributed plan —
    when that collect does, and for the other input the distributed
    plan may treat differently: a vector that is not ``dim`` long,
    duplicate or non-integral/non-string ids, a squared norm that
    overflows or underflows (the SQL division would give NaN or null),
    or more than ``HNSW.BEAM_MAX_EDGES`` verified pairs.

    Every step repeats one statement of the distributed plan with the
    same arithmetic, so the rows are identical (pinned by
    tests/test_text_dedup.py::test_near_dups_in_memory_parity):
    buckets from ``MultiSignLSH.buckets`` (the kernel the distributed
    plan's ``bucket_col`` runs per batch), "auto" edges from the exact
    bucket sizes with ``resolve_edges``' rule, candidates per (table, bucket) — all
    pairs, or member ↔ bucket-min like ``bucket_star_edges`` — scored
    by ``_cosine_pairs`` against norms folded like ``magnitude``, and
    pairs deduplicated across tables."""
    import numpy as np
    from pyspark.sql import types as T

    from kowari_spark.fsutil import collect_vectors, local_df
    from kowari_spark.operators.hnsw import HNSW
    from kowari_spark.operators.lsh import MultiSignLSH

    field = df.schema[id_col]
    if not isinstance(field.dataType, (T.IntegralType, T.StringType)):
        return None  # only these order identically in Python and Spark
    got = collect_vectors(df.select(id_col, vec_col), fsutil._DRIVER_MAX_ROWS)
    if got is None:
        return None
    rows, V = got
    n, width = V.shape
    ids = [r[0] for r in rows]
    if (dim is not None and width != dim) or len(set(ids)) != n:
        return None
    # position == id rank: bucket mins and id_a < id_b are positional
    order = sorted(range(n), key=ids.__getitem__)
    ids = [ids[i] for i in order]
    V = V[order]
    sq = np.zeros(n)
    for j in range(width):  # magnitude's fold, left to right
        sq = sq + V[:, j] * V[:, j]
    tiny = np.finfo(np.float64).tiny
    if not np.isfinite(sq).all() or ((sq > 0.0) & (sq < tiny)).any():
        return None
    nn = np.sqrt(sq)

    buckets = MultiSignLSH(width, num_planes, num_tables, seed).buckets(V)
    groups = []
    for t in range(num_tables):
        _, inv, size = np.unique(buckets[:, t], return_inverse=True,
                                 return_counts=True)
        by_bucket = np.argsort(inv, kind="stable")  # id order inside
        groups += np.split(by_bucket, np.cumsum(size)[:-1])
    if edges == "auto":
        edges = "pairs"
        if any(len(g) > _AUTO_STAR_BUCKET for g in groups):
            _warn_star(["__tbl", "bucket"], _AUTO_STAR_BUCKET, stacklevel=4)
            edges = "star"

    budget = HNSW.BEAM_MAX_EDGES
    keys, cos = [np.zeros(0, dtype=np.int64)], [np.zeros(0)]
    for g in groups:
        if len(g) < 2:
            continue
        got = _cosine_pairs(V[g], nn[g], threshold, round_to,
                            star=edges == "star", max_pairs=budget)
        if got is None:
            return None
        ia, ib, c = got
        budget -= len(ia)
        keys.append(g[ia] * n + g[ib])
        cos.append(c)
    keys, first = np.unique(np.concatenate(keys), return_index=True)
    cos = np.concatenate(cos)[first]
    out = [(ids[k // n], ids[k % n], c)
           for k, c in zip(keys.tolist(), cos.tolist())]
    schema = T.StructType([
        T.StructField("id_a", field.dataType, field.nullable),
        T.StructField("id_b", field.dataType, field.nullable),
        T.StructField("cos", T.DoubleType()),
    ])
    return local_df(df.sparkSession, out, schema)


def embedding_near_dups_lsh(
    df: DataFrame,
    threshold: float,
    num_planes: int = 4,
    num_tables: int = 4,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "embedding",
    round_to: int | None = None,
    dim: int | None = None,
    edges: str = "auto",
) -> DataFrame:
    """Approximate near-dup via sign-LSH OR-construction: ``num_tables``
    independent plane sets; a pair becomes a candidate when it collides
    in ANY table (recall 1-(1-p^planes)^tables, p = 1 - θ/π), and every
    candidate is verified by its exact cosine (rounded to ``round_to``)
    against ``threshold``. Output: (id_a, id_b, cos), id_a < id_b.

    Two executions of one algorithm, chosen by the input alone:

    - bounded: one zero-column size check (``fsutil.fits_driver``)
      against ``fsutil._DRIVER_MAX_ROWS``;
      when the rows fit, one collect of (id, vector), and
      ``_near_dups_in_memory`` hashes, buckets and scores them in
      numpy and returns the identical rows through ``fsutil.local_df``
      — two Spark jobs, whatever the arguments;
    - distributed: every other case — a larger corpus, or input the
      in-memory path declines — runs the plan below. Each table's join
      shuffles by bucket, so candidate pairs only form inside buckets
      — never the n² explosion — and candidates are verified by the
      SQL cosine fold. This is the 100 TB path; ``embedding_near_dups``
      is the exact oracle baseline.

    Pass ``dim`` when known (a Collection always knows) — on the
    distributed plan the ``fsutil.infer_dim`` fallback (the first
    non-null vector's length) costs one Spark job (ADVICE r5). Both
    executions hash with ``MultiSignLSH``'s kernel: one GEMM per Arrow
    batch or driver matrix, with the SQL fold's sign bits. A pair whose
    cosine is NaN is dropped.

    ``edges="star"`` verifies only member↔bucket-min candidates (O(B)
    per (table, bucket) instead of O(B²) — an embedding corpus with a
    100k-copy boilerplate image/doc family puts them all in ONE bucket
    per table): every surviving edge still passes the exact cosine
    threshold, with the verified-variant component-splitting trade
    documented in the module docstring. ``"auto"`` (default) stays on
    "pairs" until some (table, bucket) holds more than 1,024 rows —
    a bounded probe on the distributed plan, the exact bucket sizes in
    memory — pin "pairs" when the complete verified pair list is the
    contract."""
    _check_edges(edges)
    # vectors are collected only for a corpus that fits
    if fsutil.fits_driver(df, fsutil._DRIVER_MAX_ROWS):
        pairs = _near_dups_in_memory(
            df, threshold, num_planes, num_tables, seed, id_col, vec_col,
            round_to, dim, edges,
        )
        if pairs is not None:
            return pairs

    from kowari_spark.fsutil import infer_dim, scan_parallelism
    from kowari_spark.operators.lsh import MultiSignLSH

    if dim is None:
        dim = infer_dim(df, vec_col)
    # all tables' buckets in ONE pass over the data: posexplode the
    # per-table bucket array, then a single (table, bucket) self-join —
    # instead of num_tables scans + joins + a union
    buckets = MultiSignLSH(dim, num_planes, num_tables, seed).bucket_col(
        vec_col
    )
    # few-split scans serialize the T*p plane-dot hash pass in one task
    # (guide §2.5); no-op at scale, value-safe (per-row hashing, pair
    # outputs are set-shaped)
    df = scan_parallelism(df.select(F.col(id_col), F.col(vec_col)))
    # lazy checkpoint: the bucketed relation feeds the auto probe AND
    # both self-join sides — hash once
    bucketed = df.select(
        F.col(id_col), F.posexplode(buckets).alias("__tbl", "bucket")
    ).localCheckpoint(eager=False)
    edges = resolve_edges(edges, bucketed, ["__tbl", "bucket"])
    if edges == "star":
        cand = bucket_star_edges(bucketed, id_col, ["__tbl", "bucket"])
    else:
        a = bucketed.select(F.col(id_col).alias("id_a"), "__tbl", "bucket")
        b = bucketed.select(F.col(id_col).alias("id_b"), "__tbl", "bucket")
        cand = (
            a.join(b, ["__tbl", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )

    from kowari_spark.functions.vector import magnitude

    normed = df.select(
        F.col(id_col), F.col(vec_col), magnitude(vec_col).alias("__n")
    )
    va = normed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col("__n").alias("na")
    )
    vb = normed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("__n").alias("nb")
    )
    cos = _pair_cosine()
    if round_to is not None:
        cos = F.round(cos, round_to) + F.lit(0.0)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(_kept_cosine(threshold))
    )


def winnow_fps(
    df: DataFrame,
    k: int = 4,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document winnowing fingerprint relation (id_col, fp),
    distinct — the selected window-min gram hashes of
    functions/text.winnow_fingerprints. This is the relation the
    persisted winnow layout stores (operators/dedup_index.py) and every
    winnow consumer joins on.

    Winnowing is per-document by definition, so the selection runs
    ROW-LOCALLY in one ``mapInPandas`` pass: no gram shuffle at all,
    where the ``Window.partitionBy(id)`` aggregation form shuffled
    EVERY gram hash (the heaviest build of the four signature families:
    463 s at 5M docs, 11x slower, BASELINE.md r10). Same k-token grams
    (whole-text fallback below k tokens), same md5-prefix hash
    (``numerics.py_hash64``), same window-start-min selection over
    starts 0..max(n-window, 0) as the DuckDB replay. NULL text
    fingerprints as the empty string, like every fingerprint family
    here."""
    import pandas as pd

    from kowari_spark.fsutil import scan_parallelism
    from kowari_spark.numerics import py_hash64

    # few-split scans serialize the per-gram md5 pass (guide §2.5)
    df = scan_parallelism(df.select(F.col(id_col), F.col(text_col)))
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, fp long"

    def fps(batches):
        for pdf in batches:
            ids, vals = [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                toks = ("" if txt is None else txt).split(" ")
                if len(toks) - (k - 1) >= 1:
                    grams = [
                        " ".join(toks[j: j + k])
                        for j in range(len(toks) - k + 1)
                    ]
                else:
                    grams = [" ".join(toks)]
                hs = [py_hash64(g) for g in grams]
                n = len(hs)
                sel = {
                    min(hs[p: p + window])
                    for p in range(0, max(n - window, 0) + 1)
                }
                ids.extend([did] * len(sel))
                vals.extend(sorted(sel))
            yield pd.DataFrame(
                {id_col: ids, "fp": pd.array(vals, dtype="int64")}
            )

    return df.mapInPandas(fps, schema)


def winnow_pairs(
    df: DataFrame,
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    edges: str = "auto",
) -> DataFrame:
    """Substring-robust near-dup candidates via winnowing
    (functions/text.winnow_fingerprints): documents sharing at least
    ``min_shared`` selected fingerprints. Unlike minhash (whole-document
    set similarity) this catches documents that share a long RUN of
    tokens — boilerplate, quoted passages, templated text — because any
    common token run of length >= window + k - 1 is guaranteed a shared
    fingerprint.

    Scale shape: candidate pairs only form inside fingerprint groups
    (equi-join on the fingerprint hash), never all-pairs; the per-doc
    fingerprint count is ~2/(window+1) of its token count, so the join
    input is a tunable fraction of the corpus.

    ``edges="star"`` emits member↔bucket-min edges per fingerprint
    group (O(B) per group instead of O(B²)); ``shared`` then counts
    fingerprint groups where THAT member co-buckets with THAT min — a
    subset of the pairwise shared count, so ``min_shared`` prunes at
    least as hard as in pairs mode and a family whose min fingerprints
    drift can split components pairs mode would join (the verified-
    variant trade, module docstring). The ``min_shared=1`` sub-case is
    exact: star components == pairs components. ``"auto"`` (default)
    probes the fingerprint-group sizes and stays on "pairs" until one
    could go quadratic — pin "pairs" when the complete pair list is
    the contract."""
    _check_edges(edges)
    # lazy checkpoint: the fingerprint subtree (posexplode + md5 + two
    # windows + distinct) feeds BOTH sides of the self-join and Spark
    # does not reuse it across them (verified: 2 Generates, 4 Windows
    # in the executed plan) — cache it, compute once
    fps = winnow_fps(df, k, window, id_col, text_col).localCheckpoint(
        eager=False
    )
    edges = resolve_edges(edges, fps, ["fp"])
    if edges == "star":
        star = bucket_star_edges(fps, id_col, ["fp"], dedupe=False)
        return (
            star.groupBy("id_a", "id_b")
            .agg(F.count("*").cast("long").alias("shared"))
            .filter(F.col("shared") >= min_shared)
        )
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


# -- semantic dedup (SemDeDup) ----------------------------------------------

def _cosine_pairs(V, nn, threshold: float, round_to: int | None,
                  star: bool = False, max_pairs: int | None = None):
    """Position pairs (ia, ib, cos), ia < ib, among the rows of ``V``
    (id-ordered, ``nn`` their norms) whose cosine — rounded HALF_UP to
    ``round_to`` — is at least ``threshold``: every pair, or with
    ``star`` each row against row 0 (the group's min id). The numpy
    core of every GEMM pair scorer; None once more than ``max_pairs``
    pairs pass.

    The GEMM only SELECTS candidates, with a margin wider than its
    ~d·eps float error, one block of rows at a time: no block holds
    more than ``HNSW.BEAM_MAX_EDGES`` scores, so memory is O(block·B),
    never B×B (star needs one GEMV). Every candidate is then
    re-scored with the exact sequential (x·y) fold and decimal HALF_UP
    rounding of the SQL cosine (``similarity_expr``), so the pairs and
    values are the exact cosine's."""
    import numpy as np

    from kowari_spark.numerics import round_half_up
    from kowari_spark.operators.hnsw import HNSW

    n = len(V)
    # a rounded cos >= t implies the raw cos >= t - 0.5*10^-round_to;
    # widen by 1e-9 (>> the GEMM's accumulated float error at any sane
    # dimension) so no pair over the threshold can escape selection
    floor = threshold - 1e-9 - (
        0.5 * 10.0 ** (-round_to) if round_to is not None else 0.0
    )
    VT = np.ascontiguousarray(V.T)

    def exact(ia, ib):
        # accumulate dimension by dimension (one vectorized op per
        # dim): the SAME sequential left fold the SQL cosine runs, so
        # each value is bit-identical to aggregate(zip_with)
        if not len(ia):
            return ia, ib, np.zeros(0)
        acc = np.zeros(len(ia), dtype=np.float64)
        for d in range(len(VT)):
            acc += VT[d, ia] * VT[d, ib]
        zero = (nn[ia] == 0.0) | (nn[ib] == 0.0)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(zero, 0.0, acc / (nn[ia] * nn[ib]))
        if round_to is not None:
            cos = np.fromiter(
                (round_half_up(float(c), round_to) + 0.0 for c in cos),
                dtype=np.float64, count=len(cos),
            )
        keep = cos >= threshold
        return ia[keep], ib[keep], cos[keep]

    if star:
        ib = np.arange(1, n, dtype=np.int64)
        denom = nn[ib] * nn[0]
        with np.errstate(divide="ignore", invalid="ignore"):
            c0 = np.where(denom == 0.0, 0.0, (V[ib] @ V[0]) / denom)
        ib = ib[c0 >= floor]
        blocks = [exact(np.zeros(len(ib), dtype=np.int64), ib)]
    else:
        blocks, kept = [], 0
        step = max(1, HNSW.BEAM_MAX_EDGES // max(n, 1))
        for i0 in range(0, max(n, 1), step):
            i1 = min(n, i0 + step)
            denom = np.outer(nn[i0:i1], nn[i0:])
            with np.errstate(divide="ignore", invalid="ignore"):
                C = np.where(denom == 0.0, 0.0,
                             (V[i0:i1] @ VT[:, i0:]) / denom)
            r, c = np.nonzero(C >= floor)
            upper = c > r  # column i0+c, row i0+r
            blocks.append(exact(r[upper] + i0, c[upper] + i0))
            kept += len(blocks[-1][0])
            if max_pairs is not None and kept > max_pairs:
                return None
    ia, ib, cos = (np.concatenate(x) for x in zip(*blocks))
    if max_pairs is not None and len(ia) > max_pairs:
        return None
    return ia, ib, cos


def _semantic_pairs_gemm(
    normed: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    round_to: int | None,
    edges: str = "pairs",
) -> DataFrame:
    """Cell-local GEMM pair scorer: each cluster's pairs score in
    ``_cosine_pairs`` inside ``applyInPandas`` — a per-pair
    interpreted expression fold is the bottleneck at scale (the same
    Python/JVM boundary the sign-LSH kernel and HNSW GEMM refine sit
    behind). The emitted (id_a, id_b, cos) set is the exact cosine's
    (checked row for row against the contract's DuckDB replay). Only
    the skinny surviving pairs ever leave the worker.

    ``edges="star"`` scores member↔cell-min only: one GEMV per cell —
    O(B·d) compute and O(B) candidate memory instead of the pair
    matrix's O(B²) — the hot-cell escape (VERDICT r8 missing #2)."""
    import numpy as np
    import pandas as pd

    id_type = normed.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cos double"
    star = edges == "star"

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        V = np.stack(pdf[vec_col].to_list()).astype(np.float64)
        nn = pdf["__n"].to_numpy(dtype=np.float64)
        ia, ib, cos = _cosine_pairs(V, nn, threshold, round_to, star)
        return pd.DataFrame({"id_a": ids[ia], "id_b": ids[ib], "cos": cos})

    return normed.groupBy("list_id").applyInPandas(score, out_schema)


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | str = 16,
    ivf=None,
    round_to: int | None = 6,
    max_iter_cc: int = 20,
    edges: str = "auto",
    max_cell: int = 8192,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    semantic deduplication — cluster the corpus with k-means, compare
    pairs only WITHIN a cluster, connect near-duplicates, keep one
    representative per component.

    Returns one row per input: (id_col, list_id, rep_id, is_kept) —
    ``rep_id`` is the min-id member of the row's near-dup component
    (itself when un-duplicated), ``is_kept`` the survivor flag, so both
    the keep-filter and the dup-audit read off the same output.

    Spark shape and why it scales: the quadratic step is confined to
    single clusters — pairs are scored per ``list_id`` group, so each
    cell's pair generation is cluster-local work after ONE hash
    shuffle, never an all-pairs cross join (that confinement is the
    SemDeDup algorithm itself; size ``n_lists`` so cells fit a task,
    growing it with the corpus). The k-means fit is the deterministic
    seeded IVF quantizer (one seeding collect, Lloyd updates shuffling
    n_lists*d partial sums); vector norms are computed once per row
    before the grouping; the assigned+normed relation is lazily
    checkpointed so the cell-size probe and the pair pass share one
    assignment; components use the adaptive CC operator (label
    propagation with star-contraction fall-through).

    A fitted ``ivf`` (operators/ivf.IVF) can be passed to reuse an
    existing quantizer; otherwise one is fitted with ``n_lists`` cells
    (``"auto"`` = IVF's sqrt-n sizing — cells grow as sqrt(n), keeping
    the cluster-local quadratic step at O(n) pairs per cell decade),
    centroids on the 1e-6 decimal grid (cross-engine parity), sampled
    seeding. Cosines are rounded to ``round_to`` before the threshold
    compare so the keep/drop decision is engine-portable.

    Pairs score in ``_semantic_pairs_gemm``: each cell's pair matrix is
    one numpy GEMM in ``applyInPandas`` with an exact sequential-fold
    rescore of candidates, so the pairs equal the SQL cosine's. Rows
    IVF leaves unassigned (null or wrong-length vectors) are never
    paired: each comes out as its own representative.

    Hot-cell bound (``edges``/``max_cell``, VERDICT r8 missing #2): the
    per-cell pairwise step is O(B²) in compute AND task memory — one
    pathologically dense cell (an all-boilerplate shard: near-identical
    embeddings quantize together) makes a single task quadratic. ``edges="star"`` scores
    member↔cell-min edges only — O(B·d) per cell, every emitted edge
    still passes the exact (rounded) cosine threshold — with the same
    verified-star trade as the banded text generators: a cell whose
    min is outside the threshold of some members can split components
    all-pairs would bridge through intermediates. On the dense cells
    that NEED the bound the trade vanishes: near-identical members are
    all within threshold of the min, so the component is identical.
    ``edges="auto"`` (default) probes cell sizes (bounded, the
    resolve_edges pattern) and stays on exact all-pairs until a cell
    exceeds ``max_cell`` members (8192² ≈ 67M pair-matrix entries, the
    largest a single task should hold). Each cell's vectors still load
    into one task (O(B·d) memory) — size n_lists so cells fit a task
    regardless of edge mode.
    """
    from kowari_spark.functions.vector import magnitude
    from kowari_spark.operators.ivf import IVF

    if "list_id" in df.columns:
        # a prebuilt IVF layout (ivf.load) arrives pre-assigned — reuse
        # its cells instead of re-running the quantizer expression
        assigned = df.select(id_col, vec_col, "list_id")
    else:
        if ivf is None:
            ivf = IVF(n_lists=n_lists, round_centroids=6)
        if ivf.centroids is None:
            ivf.fit(df, id_col=id_col, vec_col=vec_col)
        assigned = ivf.with_lists(df.select(id_col, vec_col), vec_col)
    normed = assigned.select(
        F.col(id_col),
        "list_id",
        F.col(vec_col),
        magnitude(vec_col).alias("__n"),
    ).localCheckpoint(eager=False)

    # IVF gives null and wrong-length vectors no cell (list_id NULL):
    # they are never paired, so they neither size nor join a group
    cells = normed.filter(
        F.col("list_id").isNotNull() & F.col(vec_col).isNotNull()
    )
    edges = resolve_edges(edges, cells, ["list_id"], threshold=max_cell)
    pairs = _semantic_pairs_gemm(
        cells, float(threshold), id_col, vec_col, round_to, edges=edges,
    )
    cc = dedup_clusters(pairs, max_iter_cc)
    return (
        normed.select(id_col, "list_id")
        .join(cc.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            "list_id",
            F.coalesce("cluster_id", F.col(id_col)).alias("rep_id"),
            (F.coalesce("cluster_id", F.col(id_col)) == F.col(id_col)).alias(
                "is_kept"
            ),
        )
    )
