"""PQ (product quantization) ANN index — per-subspace codebooks +
asymmetric-distance (ADC) scoring over compressed codes.

Beyond-reference surface (task north star "similarity search"): the
reference ships brute force, sign-LSH and HNSW (src/index.rs); PQ
(Jegou, Douze, Schmid 2011 "Product quantization for nearest neighbor
search") is the classic memory-side scale path the roster was missing —
split each d-dim vector into ``m`` subvectors, quantize every subspace
independently against its own ``k_sub``-centroid codebook, and store
each vector as ``m`` small integer codes. At 100 TB the probe never
touches the raw vectors: it scans the (id, codes) relation — a
``m*4``-byte row instead of ``d*8`` bytes, 32x smaller at the default
shape — and scores each row by ``m`` table lookups into a per-query
distance table computed ONCE driver-side (ADC).

Spark-first design:
- **fit** reuses the IVF fit discipline (ivf.py): deterministic
  farthest-first (Gonzalez maxmin) seeding from ONE md5-ordered sample
  collect, then Lloyd iterations — but all ``m`` subspaces train in the
  SAME pass: one projection computes every subspace's assignment (the
  shared numpy argmin encoder), one posexplode keyed by
  (sub, code, dim) reduces the per-centroid sums map-side, so each
  Lloyd iteration shuffles m*k_sub*(d/m) = k_sub*d tiny rows total,
  never vectors, regardless of m. A corpus within the driver bound
  (``fsutil._DRIVER_MAX_ROWS`` rows) skips that plan: it is collected
  once and fitted in numpy by the same seeding, argmin kernel and Lloyd
  update (operators/quantizer.py) — two Spark jobs, no shuffle.
  Centroids land on a fixed decimal grid (HALF_UP) each round so the
  whole fit is bit-reproducible across engines — same contract as IVF,
  and the SQL oracle re-derives the entire fit (seeding + Lloyd +
  encode + ADC) independently.
- **encode/build** is one row-local ``mapInPandas`` pass (all m
  argmins per row in vectorized numpy — no shuffle; 9.6x faster at x10
  than m·k_sub interpreted fold lambdas per row, BASELINE.md); ``build``
  writes ONLY (id, codes) plus a ``_pq_meta.json`` sidecar (codebooks +
  params + hash version), so a later session probes the compressed
  layout without refitting or rereading vectors.
- **query** computes the m*k_sub distance table driver-side with the
  same sequential (x-y)^2 fold the encoder uses (bit-parity), then scores
  every code row with ``m`` element_at lookups summed in FIXED subspace
  order (float addition order is part of the plan) — one skinny scan,
  top-k via TakeOrderedAndProject (single query) or a per-query window
  (batch). Scores are approximate-by-construction (that's PQ); exact
  re-ranking composes via ann.PQIndex, whose candidates() takes the ADC
  top-(rerank*k) and the shared AnnIndex.search re-scores exactly.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


_META_NAME = "_pq_meta.json"
#: bump when the fit/encode arithmetic changes — load() refuses a layout
#: whose codes were produced by a different algorithm (the CP-LSH sidecar
#: lesson: probing with mismatched hashing silently loses recall)
_ALGO_VERSION = "pq-maxmin-v1"


class PQ:
    #: default sample size for "auto" seeding — one driver collect that
    #: seeds ALL m subspaces (the rows are sliced driver-side)
    AUTO_SEED_PER_CENTROID = 64

    def __init__(self, m: int = 4, k_sub: int = 16, max_iter: int = 3,
                 seed: int = 42, round_centroids: int | None = 6,
                 seed_sample: int | str | None = "auto"):
        if m < 1:
            raise ValueError(f"m must be >= 1, got {m}")
        if k_sub < 1:
            raise ValueError(f"k_sub must be >= 1, got {k_sub}")
        self.m = m
        self.k_sub = k_sub
        self.max_iter = max_iter
        self.seed = seed
        # same cross-engine reproducibility contract as IVF: the only
        # ulp-level divergence (summation order inside a cell mean) is
        # absorbed by the decimal grid, after which every distance,
        # argmin and rank is exact IEEE arithmetic on identical inputs
        self.round_centroids = round_centroids
        self.seed_sample = seed_sample
        if isinstance(seed_sample, str) and seed_sample != "auto":
            raise ValueError(
                f"seed_sample must be an int, None (exact full-table "
                f"traversal) or 'auto', got {seed_sample!r}"
            )
        self.dim: int | None = None
        self.codebooks: np.ndarray | None = None  # (m, k_sub, d/m)

    # -- helpers ------------------------------------------------------------

    @property
    def _ds(self) -> int:
        if self.dim is None:
            raise ValueError("fit() or load() first")
        return self.dim // self.m

    # -- fit ----------------------------------------------------------------

    def fit(self, df: DataFrame, id_col: str = "id",
            vec_col: str = "embedding", dim: int | None = None) -> "PQ":
        """Deterministic per-subspace k-means: ONE seeding sample covers
        all m subspaces, and each Lloyd round assigns and reduces every
        subspace together. Two executions of one algorithm, chosen by
        the input alone (``quantizer.fit_input``):

        - in memory: a corpus of at most ``fsutil._DRIVER_MAX_ROWS``
          rows is collected once (a zero-column size check and one
          collect: two Spark jobs, no shuffle, no ``first()``) and
          seeded and fitted in numpy with the arithmetic of the
          distributed plan — bit-identical codebooks on a
          single-partition input;
        - distributed: every other corpus, or input the in-memory path
          declines. Pass ``dim=`` to skip the ``fsutil.infer_dim``
          job. The (id, vector) projection is persisted for the
          duration of the fit — every iteration re-scans it, and at
          100 TB re-reading the source per iteration would dominate
          the build.

        ``dim`` None is the first non-null vector's length. Degraded
        rows (null / shorter than dim) can't be fully encoded (encode
        yields null codes by design) — they carry no fittable signal,
        so both executions fit on the fully-covered rows only. Overlong
        vectors keep encode's ignore-the-tail semantics."""
        from kowari_spark.fsutil import infer_dim
        from kowari_spark.operators import quantizer

        if dim is not None:
            self._set_dim(dim)
        got = quantizer.fit_input(df, id_col, vec_col, dim=dim, cut=True)
        if got is not None:
            ids, V = got
            self._set_dim(V.shape[1])
            self.codebooks = quantizer.fit_in_memory(
                ids, V, self.seed, self._seed_sample_size(),
                self._seeds_from, self.max_iter, self.round_centroids,
            )
            return self

        if dim is None:
            self._set_dim(infer_dim(df, vec_col))
        vecs = (
            df.select(id_col, vec_col)
            .filter(F.col(vec_col).isNotNull()
                    & (F.size(vec_col) >= self.dim))
            .persist()
        )
        try:
            return self._fit(vecs, id_col, vec_col)
        finally:
            vecs.unpersist()

    def _set_dim(self, dim: int) -> None:
        if dim % self.m != 0:
            raise ValueError(
                f"dim={dim} is not divisible by m={self.m} subspaces"
            )
        self.dim = dim

    def _seed_sample_size(self) -> int | None:
        """Rows of the md5-ordered seeding sample (None: every row, the
        exact-traversal opt-in)."""
        n = (
            self.AUTO_SEED_PER_CENTROID * self.k_sub
            if self.seed_sample == "auto"
            else self.seed_sample
        )
        if n is not None and n < self.k_sub:
            raise ValueError(f"seed_sample={n} < k_sub={self.k_sub}")
        return n

    def _seeds_from(self, pts) -> np.ndarray:
        """(m, k_sub, ds) seed codebooks: the shared Gonzalez maxmin
        traversal (operators/quantizer.gonzalez_maxmin, also IVF's
        seeding) per subspace, over the (id, vector) seeding sample
        ``pts`` in md5 order — so the SQL replay is identical
        CTE-for-CTE."""
        if len(pts) < self.k_sub:
            raise ValueError(
                f"need >= {self.k_sub} vectors to fit {self.k_sub} "
                f"centroids per subspace, got {len(pts)}"
            )
        ds = self._ds
        return np.asarray([
            self._gonzalez([(i, v[j * ds:(j + 1) * ds]) for i, v in pts])
            for j in range(self.m)
        ], dtype=np.float64)

    def _gonzalez(self, pts) -> list[list[float]]:
        """Farthest-first traversal over (id, subvector) points — the
        SAME shared maxmin loop IVF's sampled seeding runs
        (operators/quantizer.gonzalez_maxmin), so the SQL replay is
        identical CTE-for-CTE."""
        from kowari_spark.operators.quantizer import gonzalez_maxmin

        return gonzalez_maxmin(pts, self.k_sub)

    def _fit(self, df: DataFrame, id_col: str, vec_col: str) -> "PQ":
        """The distributed fit over the persisted projection ``df``."""
        from kowari_spark.operators.quantizer import lloyd

        ordered = df.select(id_col, vec_col).orderBy(
            F.md5(F.concat(F.col(id_col).cast("string"),
                           F.lit(f"#{self.seed}")))
        )
        n = self._seed_sample_size()
        if n is not None:
            ordered = ordered.limit(n)
        seeds = self._seeds_from([
            (r[id_col], [float(x) for x in r[vec_col]])
            for r in ordered.collect()
        ])
        ds = self._ds

        def sums_of(books):
            self.codebooks = books  # what with_codes encodes against
            # one pass: every subspace's code, then (sub, code, local
            # dim) partial sums — k_sub*d skinny rows total on the wire;
            # an overlong vector's tail is cut, as encode ignores it
            coded = self.with_codes(
                df.select(vec_col), vec_col, code_col="__codes"
            ).select(
                "__codes",
                F.posexplode(F.slice(vec_col, 1, self.dim)).alias("dim", "val"),
            ).select(
                (F.col("dim") / ds).cast("int").alias("sub"),
                (F.col("dim") % ds).alias("ldim"),
                F.element_at(
                    "__codes", (F.col("dim") / ds).cast("int") + 1
                ).alias("code"),
                F.col("val").cast("double").alias("val"),
            )
            rows = (
                coded.groupBy("sub", "code", "ldim")
                .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
                .collect()
            )
            sums = np.zeros(books.shape)
            counts = np.zeros(books.shape[:2], dtype=np.int64)
            for r in rows:
                sums[r["sub"], r["code"], r["ldim"]] = r["s"]
                counts[r["sub"], r["code"]] = r["n"]
            return sums, counts

        self.codebooks = lloyd(seeds, sums_of, self.max_iter,
                               self.round_centroids)
        return self

    # -- encode / build -----------------------------------------------------

    def with_codes(self, df: DataFrame, vec_col: str = "embedding",
                   code_col: str = "codes") -> DataFrame:
        """Append ``code_col`` (array<int>, one code per subspace): the
        shared quantizer argmin encoder (operators/quantizer.
        argmin_codes_arrow, also the IVF cell assignment) — all m
        argmins per row from vectorized numpy inside ONE mapInPandas
        pass, zero shuffles. Distances accumulate DIMENSION-BY-DIMENSION
        (the sequential left fold the SQL replay runs) and np.argmin
        ties break on the lowest code, like array_position(array_min)."""
        if self.codebooks is None:
            raise ValueError("fit() or load() first")
        from kowari_spark.operators.quantizer import argmin_codes_arrow

        return argmin_codes_arrow(df, self.codebooks, vec_col, code_col)

    def build(self, df: DataFrame, path: str, id_col: str = "id",
              vec_col: str = "embedding") -> None:
        """Materialize the compressed layout: ONLY (id, codes) — the
        whole point of PQ at scale is that the probe never reads the
        raw vectors. Codebooks + params ride the sidecar so ``load()``
        is probe-ready with no fit (offline-build/online-probe split)."""
        self.with_codes(df, vec_col).select(id_col, "codes").write.mode(
            "overwrite"
        ).parquet(path)
        meta = {
            "version": _ALGO_VERSION,
            "m": self.m,
            "k_sub": self.k_sub,
            "max_iter": self.max_iter,
            "seed": self.seed,
            "round_centroids": self.round_centroids,
            # full fit provenance, so load() restores an equivalent
            # instance
            "seed_sample": self.seed_sample,
            "dim": self.dim,
            "codebooks": [
                [[float(x) for x in c] for c in book] for book in self.codebooks
            ],
        }
        from kowari_spark.fsutil import write_bytes

        write_bytes(
            df.sparkSession, f"{path}/{_META_NAME}", json.dumps(meta).encode()
        )

    def load(self, spark: SparkSession, path: str) -> DataFrame:
        """Open a built codes layout; restores the codebooks from the
        sidecar and REFUSES a layout written by a different fit/encode
        algorithm version (mismatched codes silently lose recall) — or
        one with no sidecar at all: PQ codes are meaningless without the
        exact codebooks that produced them, so a bare parquet dir is a
        provenance failure, not a loadable layout (CP-LSH precedent:
        `_cplsh_meta.json` rejection)."""
        from kowari_spark.fsutil import exists, read_bytes

        meta_path = f"{path}/{_META_NAME}"
        if not exists(spark, meta_path):
            raise ValueError(
                f"no {_META_NAME} sidecar at {path}: not a PQ codes "
                "layout built by PQ.build() — codes are unusable "
                "without their codebooks; rebuild the layout"
            )
        meta = json.loads(read_bytes(spark, meta_path).decode())
        ver = meta.get("version")
        if ver != _ALGO_VERSION:
            raise ValueError(
                f"PQ layout at {path} was built by {ver!r}; this "
                f"code probes {_ALGO_VERSION!r} — rebuild the layout"
            )
        self.m = meta["m"]
        self.k_sub = meta["k_sub"]
        self.max_iter = meta["max_iter"]
        self.seed = meta["seed"]
        self.round_centroids = meta["round_centroids"]
        self.seed_sample = meta.get("seed_sample", self.seed_sample)
        self.dim = meta["dim"]
        self.codebooks = np.asarray(meta["codebooks"], dtype=np.float64)
        return spark.read.parquet(path)

    # -- query (ADC) --------------------------------------------------------

    def _dist_table(self, query: Sequence[float]) -> list[list[float]]:
        """dt[j][c] = ||q_j - cb[j][c]||^2 with the same SEQUENTIAL fold
        the fit uses (bit-identical to aggregate(zip_with(...)) and to
        the oracle's list_dot_product on the difference)."""
        v = [float(x) for x in query]
        ds = self._ds
        dt = []
        for j in range(self.m):
            qj = v[j * ds:(j + 1) * ds]
            row = []
            for c in self.codebooks[j]:
                acc = 0.0
                for x, y in zip(qj, c):
                    acc += (x - float(y)) * (x - float(y))
                row.append(acc)
            dt.append(row)
        return dt

    def _adc_expr(self, dt: list[list[float]], code_col) -> "F.Column":
        """ADC distance = sum_j dt[j][codes[j]], folded in FIXED
        subspace order (float addition order is part of the plan — the
        oracle adds the same terms left-to-right)."""
        codes = F.col(code_col) if isinstance(code_col, str) else code_col
        acc = None
        for j in range(self.m):
            term = F.element_at(
                F.expr("array(" + ",".join(f"{float(x)!r}D" for x in dt[j]) + ")"),
                F.element_at(codes, j + 1) + 1,
            )
            acc = term if acc is None else acc + term
        return acc

    def query(self, codes_df: DataFrame, query: Sequence[float], k: int,
              id_col: str = "id", code_col: str = "codes",
              round_to: int | None = None) -> DataFrame:
        """Single-query ADC probe over the compressed codes relation:
        one skinny scan, m element_at lookups per row, top-k by
        (distance ASC, id ASC) via TakeOrderedAndProject. The distance
        is the PQ approximation (that's the operator); compose with
        ann.PQIndex for exact re-ranking."""
        if self.codebooks is None:
            raise ValueError("fit() or load() first")
        dist = self._adc_expr(self._dist_table(query), code_col)
        if round_to is not None:
            dist = F.round(dist, round_to) + F.lit(0.0)
        return (
            codes_df.select(F.col(id_col), dist.alias("distance"))
            .orderBy(F.asc("distance"), F.asc(id_col))
            .limit(k)
        )

    def query_batch(self, codes_df: DataFrame, queries: DataFrame, k: int,
                    id_col: str = "id", code_col: str = "codes",
                    query_id_col: str = "query_id",
                    query_vec_col: str = "embedding",
                    round_to: int | None = None) -> DataFrame:
        """Batch ADC: each query's flattened distance table broadcasts
        against ONE scan of the codes relation (lookup index =
        j*k_sub + code_j), per-query window top-k. The codes scan —
        the only big relation — is read exactly once for the whole
        batch."""
        from pyspark.sql.window import Window

        if self.codebooks is None:
            raise ValueError("fit() or load() first")
        qrows = queries.select(query_id_col, query_vec_col).collect()
        flat = [
            (r[0], [d for row in self._dist_table(r[1]) for d in row])
            for r in qrows
        ]
        spark = codes_df.sparkSession
        qtype = queries.schema[query_id_col].dataType.simpleString()
        from kowari_spark.fsutil import local_df

        dt_df = local_df(
            spark, flat, f"query_id {qtype}, __dt array<double>"
        )
        acc = None
        for j in range(self.m):
            term = F.element_at(
                "__dt", F.lit(j * self.k_sub) + F.element_at(code_col, j + 1) + 1
            )
            acc = term if acc is None else acc + term
        if round_to is not None:
            acc = F.round(acc, round_to) + F.lit(0.0)
        scored = codes_df.crossJoin(F.broadcast(dt_df)).select(
            "query_id", F.col(id_col), acc.alias("distance")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.asc("distance"), F.asc(id_col)
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
