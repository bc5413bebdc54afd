"""Random-hyperplane (sign) LSH index.

Semantics parity (SURVEY.md §2.3 Q3/Q4): the reference samples
``num_planes`` random hyperplanes, buckets each vector by the packed sign
bits of v·plane (src/index.rs:99-107,124-156), probes the query's bucket,
and — crucially — falls back to a FULL brute-force scan whenever the
bucket holds fewer than ``top_k`` candidates (src/index.rs:161-170; its
tests rely on this, tests/integration_tests.rs:240-245). Hyperplanes here
are seeded (the reference uses unseeded thread_rng — SURVEY.md §7.2), so
declared queries are reproducible.

One hasher computes every sign bit in the package (:func:`sign_buckets`):
one float64 GEMM over the stacked planes per Arrow batch or driver
matrix, with every entry whose sign the GEMM cannot certify re-folded in
dimension order. Its bits are those of the SQL dot fold
``aggregate(zip_with(v, plane, x * y), 0.0D, acc + x) >= 0.0D`` that the
contract's DuckDB oracle replays, on every input: a vector that is null,
holds a null or is not ``dim`` long gets bucket 0 (its products are null,
so every comparison is), and a NaN projection sets its bit (Spark orders
NaN above 0.0). :func:`probe_sequences` is the one multi-probe sequence,
called on the driver for a single query and in the batch column.

Spark-first design:
- the bucket is a plain LONG column computed per Arrow batch
  (``bucket_col``), the only Python stage of a hash pass;
- ``build`` writes the table ``partitionBy("bucket")`` so a bucket probe
  is PARTITION PRUNING — at 100 TB a probe reads one partition, not the
  table (SURVEY.md §4.1 maps the reference's bucket probe to exactly
  this);
- batch probe = equi-join of queries to base on bucket (hash-partitioned
  both sides, co-located), fallback handled per-query by a union with the
  exact path for only the starved queries.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kowari_spark.operators.topk import knn

_LSH_META_NAME = "_lsh_meta.json"
_LSH_LAYOUT_VERSION = "lsh-layout-v1"

#: literal (table, bucket) IN-predicates stay readable and plan-cheap
#: below this many probed pairs; bigger query batches fall back to the
#: broadcast equi-join (the simhash _BLOCK_ISIN_MAX discipline)
_BUCKET_ISIN_MAX = 4096

#: low-margin planes a multi-probe sequence may flip: 2^_FLIP subsets
#: are ranked per query, so keep it small
_FLIP = 5


# -- the sign kernel ---------------------------------------------------------

def _fold(X: np.ndarray, P: np.ndarray, rows: np.ndarray,
          cols: np.ndarray) -> np.ndarray:
    """X[rows[i]]·P[cols[i]] for each i, folded from 0.0 left to right
    in dimension order: the SQL dot fold bit for bit (numpy rounds each
    product and each sum, as the JVM does). O(len(rows)) memory."""
    acc = np.zeros(len(rows))
    with np.errstate(over="ignore", invalid="ignore"):
        for j in range(X.shape[1]):
            acc = acc + X[rows, j] * P[cols, j]
    return acc


def _projections(X: np.ndarray, P: np.ndarray) -> np.ndarray:
    """X·Pᵀ in which every entry has the fold's sign: one GEMM, and the
    fold for each entry the GEMM cannot certify.

    The GEMM and the fold each lie within γ_d·(|X|·|P|ᵀ) + d·2⁻¹⁰⁷⁴
    of the exact dot (γ_d = d·u/(1 − d·u), u = 2⁻⁵³; the second term
    covers underflow), so an entry more than twice that from 0 has one
    sign in both. |X|·|P|ᵀ is bounded by ‖x‖₁·‖p‖_∞ (an outer product,
    not a second GEMM), and the factor 4 covers the rounding of the
    bound itself. A row whose ‖x‖₁·max‖p‖_∞ is not below 2¹⁰⁰⁰ — a
    NaN or ±inf entry, a fold that may overflow — certifies nothing."""
    d = X.shape[1]
    gamma = d * 2.0 ** -53 / (1.0 - d * 2.0 ** -53)
    pmax = np.abs(P).max(axis=1)
    with np.errstate(over="ignore", invalid="ignore"):
        G = X @ P.T
        l1 = np.abs(X).sum(axis=1)
        l1[~(l1 * pmax.max() < 2.0 ** 1000)] = np.inf
        bound = np.outer(4.0 * gamma * l1, pmax)
        bound += 4.0 * d * 2.0 ** -1074
        rows, cols = np.nonzero(~(np.abs(G) > bound))
    G[rows, cols] = _fold(X, P, rows, cols)
    return G


def _pack(bits: np.ndarray, num_planes: int) -> np.ndarray:
    """(rows × T·p) sign bits -> (rows × T) buckets, bit i = plane i."""
    bits = bits.reshape(len(bits), bits.shape[1] // num_planes, num_planes)
    return bits @ (1 << np.arange(num_planes))


def sign_buckets(X: np.ndarray, P: np.ndarray, num_planes: int) -> np.ndarray:
    """(rows × T) packed sign-bit buckets of ``X``'s rows under the
    stacked planes ``P`` (T·``num_planes`` rows): the fold's bit of
    every projection, NaN included (see :func:`_projections`)."""
    G = _projections(X, P)
    return _pack((G >= 0.0) | np.isnan(G), num_planes)


def probe_sequences(X: np.ndarray, whole: np.ndarray, P: np.ndarray,
                    probes: int) -> np.ndarray:
    """(rows × min(probes, 2^f)) multi-probe bucket sequences of one
    table (Lv et al., multi-probe LSH), f = min(num_planes, ``_FLIP``).

    A near neighbor that missed the query's bucket disagrees on the
    planes where the query's margin |v·p| is smallest, so the sequence
    flips sign subsets of the f lowest-margin planes, ordered by total
    flipped margin², ties by xor mask; the empty flip — the bucket
    itself — comes first. ``X`` holds the ``whole`` rows (see
    ``_whole_rows``); the others have no margin and take Spark's order
    of null costs: every nonempty subset of planes 0..f-1 by mask, then
    bucket 0. Margins are the folded dots themselves, so the order does
    not depend on the batch a query is hashed in; queries are few."""
    n, p = len(whole), len(P)
    f = min(p, _FLIP)
    masks = np.arange(1 << f)
    w = min(max(probes, 1), 1 << f)
    out = np.empty((n, w), dtype=np.int64)
    out[~whole] = np.roll(masks, -1)[:w] if probes > 1 else 0
    k = len(X)
    rows, cols = np.divmod(np.arange(k * p), p)
    D = _fold(X, P, rows, cols).reshape(k, p)
    base = _pack((D >= 0.0) | np.isnan(D), p)
    if probes <= 1:
        out[whole] = base
        return out
    with np.errstate(over="ignore"):
        M2 = D * D
        low = np.argsort(M2, axis=1, kind="stable")[:, :f]  # NaN last
        sel = np.take_along_axis(M2, low, axis=1)
        inc = (masks[:, None] >> np.arange(f)) & 1 == 1  # (2^f × f)
        cost = np.zeros((k, len(masks)))
        for j in range(f):  # margin² summed in mask-bit order, as in SQL
            cost = cost + np.where(inc[:, j], sel[:, j, None], 0.0)
    flips = (inc[None] * (1 << low)[:, None, :]).sum(axis=2)
    order = np.lexsort((flips, cost), axis=1)[:, :w]
    out[whole] = base ^ np.take_along_axis(flips, order, axis=1)
    return out


def _whole_rows(vecs: pa.ListArray, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(X, whole) for a ``pyarrow`` list array of vectors: ``whole``
    marks the rows the SQL fold sees entirely — not null, ``dim`` long,
    no null entry — and ``X`` holds them as float64 rows (float entries
    widen exactly, like ``CAST(x AS DOUBLE)``). Any other row has a null
    product in every fold, so every bit of it is 0."""
    lens = vecs.value_lengths().fill_null(0).to_numpy()
    flat = vecs.flatten()
    owner = np.repeat(np.arange(len(vecs)), lens)
    whole = ~vecs.is_null().to_numpy(zero_copy_only=False) & (lens == dim)
    if flat.null_count:
        whole[owner[flat.is_null().to_numpy(zero_copy_only=False)]] = False
    vals = flat.to_numpy(zero_copy_only=False).astype(np.float64)
    return vals[whole[owner]].reshape(-1, dim), whole


def _hash_col(vec_col: Column | str, dim: int,
              fn: Callable[[np.ndarray, np.ndarray], np.ndarray]) -> Column:
    """Arrow UDF over ``vec_col``: each batch of vectors becomes
    ``fn(*_whole_rows(batch, dim))`` — a (rows × w) int64 matrix — as an
    array<long> per row. The planes ride the task closure (T·p·d
    floats, ~57 KB at p=14, T=8, d=64)."""
    from pyspark.sql.types import ArrayType, LongType

    @F.arrow_udf(ArrayType(LongType()))
    def sign_lsh(vecs: pa.Array) -> pa.Array:
        out = fn(*_whole_rows(vecs, dim))
        return pa.ListArray.from_arrays(
            pa.array(np.arange(0, out.size + 1, out.shape[1], dtype=np.int32)),
            pa.array(out.ravel()),
        )

    return sign_lsh(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def _bucket_col(vec_col: Column | str, dim: int, P: np.ndarray,
                num_planes: int) -> Column:
    """Per-table buckets as array<long>, 0 for a row that is not whole."""

    def fn(X: np.ndarray, whole: np.ndarray) -> np.ndarray:
        out = np.zeros((len(whole), len(P) // num_planes), dtype=np.int64)
        out[whole] = sign_buckets(X, P, num_planes)
        return out

    return _hash_col(vec_col, dim, fn)


def _write_lsh_meta(spark, path: str, params: dict,
                    vec_col: str, id_col: str) -> None:
    """Persist the layout's params sidecar (hashing provenance + the
    column names probes need). Written AFTER the data so a sidecar's
    presence implies a complete build."""
    import json

    from kowari_spark.fsutil import write_bytes

    write_bytes(
        spark, f"{path}/{_LSH_META_NAME}",
        json.dumps(dict(params, vec_col=vec_col, id_col=id_col)).encode(),
    )


def _check_lsh_meta(spark, path: str, params: dict) -> None:
    """Refuse to read a layout whose stored params disagree with THIS
    instance's hashing (subset compare: provenance extras like
    vec_col/id_col don't participate). A param-mismatched reader
    hashes queries into the wrong buckets and silently misses every
    duplicate — the exact failure the sidecar exists to refuse.
    Legacy layouts without a sidecar load unchecked (rebuild to get
    the check)."""
    import json

    from kowari_spark.fsutil import exists, read_bytes

    meta_path = f"{path}/{_LSH_META_NAME}"
    if not exists(spark, meta_path):
        return
    saved = json.loads(read_bytes(spark, meta_path).decode())
    _refuse_gemm_buckets(saved, path)
    if {k: saved.get(k) for k in params} != params:
        raise ValueError(
            f"LSH layout at {path} was built with {saved}, but this "
            f"index hashes with {params}; rebuild the layout or "
            "construct a matching instance (or open it param-free via "
            "dedup_index.open_lsh_layout)"
        )


def _refuse_gemm_buckets(saved: dict, path: str) -> None:
    """Refuse a sidecar that records ``"hasher": "gemm"``: that layout
    was bucketed by plain GEMM signs, which can differ from the fold's
    at ULP ties, so probing it with the fold's buckets could miss rows.
    No key, or ``"expr"``, means the fold's buckets: those load."""
    if saved.get("hasher", "expr") != "expr":
        raise ValueError(
            f"LSH layout at {path} was bucketed by the removed "
            f"hasher={saved['hasher']!r}, whose sign bits can differ "
            "from the fold's; rebuild the layout"
        )


def _refuse_empty_build(df: DataFrame, what: str) -> None:
    """Bounded emptiness probe (limit(1).count(), one short job) run
    BEFORE any layout file is written: a build over an empty frame would
    stamp the params sidecar onto a data-less directory, violating the
    'sidecar presence implies committed data' invariant — loaders accept
    it and the first probe crashes on parquet schema inference (same
    rule as build_bm25_layout's empty-corpus refusal)."""
    if df.limit(1).count() == 0:
        raise ValueError(
            f"{what} over an empty DataFrame: a layout's params sidecar "
            "must never exist without committed data — build once data "
            "exists, then append/stream"
        )


class SignLSH:
    """Seeded random-hyperplane LSH (reference defaults: 16 planes,
    src/index.rs:183-185)."""

    def __init__(self, dim: int, num_planes: int = 16, seed: int = 42):
        if num_planes > 62:
            raise ValueError("bucket is packed into a signed 64-bit long")
        self.dim = dim
        self.num_planes = num_planes
        self.seed = seed
        rng = np.random.RandomState(seed)
        # uniform [-1, 1) hyperplanes, matching the reference generator's
        # range (src/index.rs:134-143, utils.rs:26-39)
        self.planes = rng.uniform(-1.0, 1.0, size=(num_planes, dim))

    def _params(self) -> dict:
        """The hashing-provenance dict the layout sidecar records and
        ``load`` validates (planes are a pure function of these)."""
        return {
            "version": _LSH_LAYOUT_VERSION,
            "family": "sign",
            "dim": self.dim,
            "num_planes": self.num_planes,
            "seed": self.seed,
        }

    # -- hashing ---------------------------------------------------------

    def bucket_col(self, vec_col: Column | str) -> Column:
        """Packed sign-bit bucket as a LONG column, hashed per Arrow
        batch by the module's kernel."""
        return _bucket_col(vec_col, self.dim, self.planes, self.num_planes)[0]

    def probe_buckets(self, vec: Sequence[float] | None,
                      probes: int) -> list[int]:
        """One query's probe sequence on the driver (no Spark job), the
        same as ``probe_col`` gives its row: the resulting literal list
        lets the bucket filter prune partitions STATICALLY at the
        scan."""
        X, whole = _whole_rows(
            pa.array([None if vec is None else list(vec)],
                     pa.list_(pa.float64())),
            self.dim,
        )
        return probe_sequences(X, whole, self.planes, probes)[0].tolist()

    def probe_col(self, vec_col: Column | str, probes: int) -> Column:
        """Array of up to ``probes`` bucket ids per row, in
        :func:`probe_sequences` order; the probe set rides along each
        query row into the bucket equi-join."""
        planes = self.planes
        return _hash_col(
            vec_col, self.dim,
            lambda X, whole: probe_sequences(X, whole, planes, probes),
        )

    def with_buckets(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        return df.withColumn("bucket", self.bucket_col(vec_col))

    # -- build (offline) --------------------------------------------------

    def build(self, df: DataFrame, path: str, vec_col: str = "embedding",
              max_records_per_file: int | None = None,
              id_col: str = "id") -> None:
        """Materialize the bucketed layout: partitionBy(bucket) parquet
        plus a ``_lsh_meta.json`` params sidecar (family, dim, planes,
        seed, column names) that ``load`` validates — probing a stored
        layout with a differently-seeded/planed instance silently
        misses every duplicate, so stored state must refuse mismatched
        readers (the reference's ingest-time dimension check,
        collection_manager.rs:147-152, applied to hash provenance).
        ``id_col`` is recorded for param-free opens
        (``dedup_index.open_lsh_layout`` / ``SignatureLayout.open``);
        it does not affect the layout itself.

        With 2^p buckets the probe becomes partition pruning; at scale
        this is the difference between reading one bucket and scanning
        the table. The repartition by bucket co-locates each bucket in
        one task so the write emits one file per bucket — without it
        every task writes a sliver of every bucket and the file count
        explodes as tasks x buckets. Size num_planes to the data: 2^p
        buckets should each hold many vectors (p=16 means 65k partitions
        — right at 100 TB, pathological at sf0.1).

        ``max_records_per_file`` is the file-size control for big
        buckets: the writer rolls to a new file inside a bucket dir
        after that many rows, so a hot bucket becomes several
        scan-parallel files instead of one monolith (file count stays
        proportional to data, not tasks x buckets)."""
        _refuse_empty_build(df, "SignLSH.build")
        from kowari_spark.fsutil import write_parallelism

        w = self.with_buckets(df, vec_col).repartition(
            write_parallelism(df), F.col("bucket")
        ).write.mode("overwrite")
        if max_records_per_file is not None:
            w = w.option("maxRecordsPerFile", str(max_records_per_file))
        w.partitionBy("bucket").parquet(path)
        _write_lsh_meta(df.sparkSession, path, self._params(), vec_col, id_col)

    def load(self, spark: SparkSession, path: str) -> DataFrame:
        """Open a built layout, verifying the params sidecar against
        THIS instance's hashing when present (legacy sidecar-less
        layouts load unchecked — rebuild them to get the check)."""
        _check_lsh_meta(spark, path, self._params())
        return spark.read.parquet(path)

    # -- query ------------------------------------------------------------

    def query(
        self,
        df: DataFrame,
        query: Sequence[float],
        k: int,
        metric: str = "cosine",
        id_col: str = "id",
        vec_col: str = "embedding",
        round_to: int | None = None,
        probes: int = 1,
    ) -> DataFrame:
        """Single-query probe with the reference's fallback semantic: if
        the probed bucket(s) yield < k candidates, rank the FULL table
        instead (src/index.rs:158-173).

        The probe set is computed driver-side (``probe_buckets`` —
        pure numpy, no Spark job) so the candidate filter is a LITERAL
        ``bucket IN (...)`` that prunes partitions statically on a
        ``build`` layout. Two pruned jobs follow: the candidate count
        (the fallback decision — on a built layout this reads
        probes/2^p of the partitions' footers, not the table) and a
        TakeOrderedAndProject top-k over the same pruned scan. Routing
        n=1 through the batch machinery was measured 4-8x slower (its
        size-aggregate + broadcast stages dominate a single
        query), so the batch path is reserved for actual batches."""
        buckets = self.probe_buckets(query, probes)
        base = df if "bucket" in df.columns else self.with_buckets(df, vec_col)
        candidates = base.filter(F.col("bucket").isin(buckets))
        if candidates.count() < k:
            candidates = base  # brute-force fallback
        return knn(
            candidates, query, k, metric=metric, id_col=id_col,
            vec_col=vec_col, round_to=round_to,
        )

    def query_batch(
        self,
        df: DataFrame,
        queries: DataFrame,
        k: int,
        metric: str = "cosine",
        id_col: str = "id",
        vec_col: str = "embedding",
        query_id_col: str = "query_id",
        query_vec_col: str = "embedding",
        round_to: int | None = None,
        probes: int = 1,
    ) -> DataFrame:
        """Batch probe: equi-join queries to base on bucket + per-query
        top-k; queries whose probed buckets hold < k candidates total are
        re-run through the exact path and unioned in (per-query fallback,
        reference semantics). ``probes > 1`` widens each query to a
        query-directed multi-probe bucket sequence (``probe_col``) —
        the recall knob that costs probes/2^p of the table instead of a
        rebuild.

        Scale shape (round 15): on a ``build`` layout the batch's
        probed buckets are collected once (bounded by Q·probes — the
        query side, small by premise) and compiled into a LITERAL
        ``bucket IN (...)`` filter, the MultiSignLSH/bm25 static-
        pruning discipline — the previous broadcast-join-only shape
        relied on dynamic partition pruning that does NOT fire inside
        the fallback-sizing broadcast subquery (measured: the sizing
        scan read the ENTIRE layout, 5000/5000 rows, while the probe
        scan read 742). Candidate counts for the <k fallback now
        derive from the SAME pruned candidate join (per-query row
        counts equal the old per-bucket-size sums: one table, each id
        in exactly one bucket, a query's probed buckets distinct), so
        one pruned scan feeds sizing, scoring and the starved
        anti-join instead of a second full-table pass."""
        from pyspark.sql.window import Window

        prebuilt = "bucket" in df.columns
        base = df if prebuilt else self.with_buckets(df, vec_col)
        # the <k fallback must rank the FULL table (reference
        # semantics) — keep it before any probe pruning below
        full = base
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("__qvec"),
        )
        # one row per (query, probed bucket); buckets of one query are
        # distinct by construction (distinct xor masks), so no candidate
        # is scored twice
        qp = q.withColumn(
            "bucket", F.explode(self.probe_col("__qvec", probes))
        )

        if prebuilt:
            probed_buckets = sorted(
                {
                    r["bucket"]
                    for r in qp.select("bucket").distinct().collect()
                    if r["bucket"] is not None
                }
            )
            if len(probed_buckets) <= _BUCKET_ISIN_MAX and probed_buckets:
                base = base.filter(F.col("bucket").isin(probed_buckets))

        from kowari_spark.operators.topk import (
            _rounded,
            _score,
            brute_force_fallback,
        )

        # ONE candidate join feeds the fallback sizing, the scoring and
        # (via ok_ids) the starved anti-join; the vector rides the
        # candidate rows so scoring needs no second corpus join
        cand = base.join(F.broadcast(qp), "bucket").select(
            "query_id", F.col(id_col), F.col(vec_col), F.col("__qvec")
        )
        sizes = cand.groupBy("query_id").agg(F.count("*").alias("__n"))
        ok_ids = sizes.filter(F.col("__n") >= k).select("query_id")
        q_fallback = q.join(F.broadcast(ok_ids), "query_id", "left_anti")

        probed = (
            cand.join(F.broadcast(ok_ids), "query_id")
            .select(
                "query_id",
                F.col(id_col),
                _rounded(_score(metric, vec_col, "__qvec"), round_to).alias(
                    "score"
                ),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
        probed_topk = (
            probed.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
        )

        # single-table layout: one row per id, so no dedup needed
        fb = brute_force_fallback(
            full.drop("bucket"), q_fallback, k, metric, id_col, vec_col,
            round_to,
        )
        return probed_topk.unionByName(fb)


class MultiSignLSH:
    """OR-construction over ``num_tables`` independent sign-LSH tables
    (seeds seed..seed+T-1): a base row is a candidate for a query when
    they share a bucket in ANY table — recall 1-(1-p^planes)^tables for
    per-plane collision p = 1 - θ/π. Same amplification the near-dup
    pipeline uses (dedup.embedding_near_dups_lsh), exposed on the knn
    path as the recall knob the single-table probe lacks.

    Scale shape: ``build`` writes the exploded (table, bucket) layout
    partitionBy(__tbl, bucket) — storage ×T, but a batch probe reads only
    the probed (table, bucket) partitions and candidate pairs only form
    inside buckets. The tradeoff vs single-table multi-probe: multi-probe
    costs extra probes at query time with no storage blowup; multi-table
    buys independent hash views (better recall for weakly-clustered data)
    at ×T storage. Both are knobs on the same machinery.
    """

    def __init__(self, dim: int, num_planes: int = 4, num_tables: int = 8,
                 seed: int = 42):
        self.dim = dim
        self.num_planes = num_planes
        self.num_tables = num_tables
        self.seed = seed
        self.tables = [
            SignLSH(dim=dim, num_planes=num_planes, seed=seed + t)
            for t in range(num_tables)
        ]
        # every table's planes, hashed by one GEMM
        self.planes = np.concatenate([t.planes for t in self.tables])

    def _params(self) -> dict:
        """Sidecar provenance (planes are a pure function of these)."""
        return {
            "version": _LSH_LAYOUT_VERSION,
            "family": "multisign",
            "dim": self.dim,
            "num_planes": self.num_planes,
            "num_tables": self.num_tables,
            "seed": self.seed,
        }

    def buckets(self, V: np.ndarray) -> np.ndarray:
        """(rows × T) buckets of the float64 matrix ``V``'s rows."""
        return sign_buckets(V, self.planes, self.num_planes)

    def bucket_col(self, vec_col: Column | str) -> Column:
        """Array of per-table buckets: all tables hashed in ONE pass,
        one GEMM per Arrow batch."""
        return _bucket_col(vec_col, self.dim, self.planes, self.num_planes)

    def with_buckets(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """Exploded (one row per table) bucketed relation."""
        return df.select(
            "*", F.posexplode(self.bucket_col(vec_col)).alias("__tbl", "bucket")
        )

    def build(self, df: DataFrame, path: str, vec_col: str = "embedding",
              max_records_per_file: int | None = None,
              id_col: str = "id") -> None:
        """Exploded multi-table layout, partitionBy(__tbl, bucket) —
        2^p·T dirs — plus the ``_lsh_meta.json`` params sidecar
        ``load`` validates (see SignLSH.build). ``max_records_per_file``
        rolls big (table, bucket) dirs into several scan-parallel
        files."""
        _refuse_empty_build(df, "MultiSignLSH.build")
        from kowari_spark.fsutil import write_parallelism

        w = self.with_buckets(df, vec_col).repartition(
            write_parallelism(df), F.col("__tbl"), F.col("bucket")
        ).write.mode("overwrite")
        if max_records_per_file is not None:
            w = w.option("maxRecordsPerFile", str(max_records_per_file))
        w.partitionBy("__tbl", "bucket").parquet(path)
        _write_lsh_meta(df.sparkSession, path, self._params(), vec_col, id_col)

    def load(self, spark: SparkSession, path: str) -> DataFrame:
        """Open a built layout, verifying the params sidecar against
        THIS instance's hashing when present (legacy sidecar-less
        layouts load unchecked)."""
        _check_lsh_meta(spark, path, self._params())
        return spark.read.parquet(path)

    def query_batch(
        self,
        df: DataFrame,
        queries: DataFrame,
        k: int,
        metric: str = "cosine",
        id_col: str = "id",
        vec_col: str = "embedding",
        query_id_col: str = "query_id",
        query_vec_col: str = "embedding",
        round_to: int | None = None,
    ) -> DataFrame:
        """Batch OR-probe: (table, bucket) equi-join, candidate pairs
        de-duplicated across tables, exact score + per-query top-k;
        queries with < k distinct candidates fall back to the exact scan
        (the single-table reference semantic, generalized).

        Scale shape (round 12): candidates carry their STORED vector out
        of the probed partitions, so the exact re-score never touches
        the rest of the layout — every stage is bounded by
        |candidates| ≈ Q · T · n/2^p, the quantity ``num_planes``
        exists to control, never by the corpus. (CrossPolytopeLSH keeps
        the skinny-dedup + table-0-join shape instead: its bucket count
        is FIXED at 2·dim per table, so with T=40 the matched rows are
        a large corpus fraction and shuffling their vectors measured
        3× worse — the same measurement that picked this plan here
        says the opposite there; BASELINE.md r12 hybrid_serve decade.)
        """
        from pyspark.sql.window import Window

        from kowari_spark.operators.topk import (
            _rounded,
            _score,
            brute_force_fallback,
        )

        prebuilt = "__tbl" in df.columns
        # table 0 of a built layout holds every id exactly once — a
        # duplicate-free vector set from 1/T of the partitions; used by
        # the FALLBACK exact scan only (the happy path re-scores from
        # the probed partitions' own rows)
        base_vecs = (
            df.filter(F.col("__tbl") == 0).select(id_col, vec_col)
            if prebuilt
            else df.select(id_col, vec_col)
        )
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("__qvec"),
        )
        qb = q.select(
            "query_id", F.posexplode(self.bucket_col("__qvec")).alias("__tbl", "bucket")
        )
        if prebuilt:
            # STATIC partition pruning via the literal-IN discipline
            # (bm25_batch_indexed / simhash_dedup_against precedent):
            # the batch's probed (table, bucket) pairs are Q·T values —
            # bounded by the QUERY side, the operator's small relation
            # by premise — collected once and compiled into a per-table
            # literal predicate, so the candidate scan reads ONLY
            # probed partitions. Spark's dynamic pruning is not enough
            # here: against a (__tbl, bucket) layout it emits a filter
            # on __tbl alone (measured), which prunes nothing — every
            # table is probed — and the vector column would be read
            # from every bucket. Past _BUCKET_ISIN_MAX pairs the plan
            # falls back to the broadcast equi-join (pruning lost,
            # still candidate-bounded downstream).
            probed = [
                (r["__tbl"], r["bucket"])
                for r in qb.select("__tbl", "bucket").distinct().collect()
                if r["bucket"] is not None
            ]
            if len(probed) <= _BUCKET_ISIN_MAX:
                by_tbl: dict = {}
                for t, b in probed:
                    by_tbl.setdefault(t, []).append(b)
                pred = F.lit(False)
                for t, bs in sorted(by_tbl.items()):
                    pred = pred | (
                        (F.col("__tbl") == t)
                        & F.col("bucket").isin(*sorted(bs))
                    )
                src = df.filter(pred)
            else:
                src = df
            bucketed = src.select(
                F.col(id_col), F.col(vec_col), "__tbl", "bucket"
            )
        else:
            bucketed = df.select(
                F.col(id_col),
                F.col(vec_col),
                F.posexplode(self.bucket_col(vec_col)).alias("__tbl", "bucket"),
            )
        # one candidate computation feeds the sizes, the re-score and
        # the fallback anti-join: the subtree ends in the dedup's
        # Exchange and exchange reuse serves all consumers from that one
        # shuffle — plan construction stays action-free. The dedup
        # carries the vector (identical across a candidate's T copies —
        # same source row exploded — so which copy survives is
        # immaterial); the exchange widens by one vector per CANDIDATE,
        # and in return the re-score needs no corpus-sized join
        cand = (
            bucketed.join(F.broadcast(qb), ["__tbl", "bucket"])
            .select("query_id", id_col, vec_col)
            .dropDuplicates(["query_id", id_col])
        )
        sizes = cand.groupBy("query_id").agg(F.count("*").alias("__n"))
        ok_ids = sizes.filter(F.col("__n") >= k).select("query_id")
        starved = q.join(F.broadcast(ok_ids), "query_id", "left_anti")

        scored = (
            cand.join(F.broadcast(ok_ids), "query_id")
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id",
                F.col(id_col),
                _rounded(
                    _score(metric, vec_col, "__qvec"), round_to
                ).alias("score"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
        topk = scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )

        fb = brute_force_fallback(
            base_vecs, starved, k, metric, id_col, vec_col, round_to
        )
        return topk.unionByName(fb)
