"""Random-hyperplane (sign) LSH index.

Semantics parity (SURVEY.md §2.3 Q3/Q4): the reference samples
``num_planes`` random hyperplanes, buckets each vector by the packed sign
bits of v·plane (src/index.rs:99-107,124-156), probes the query's bucket,
and — crucially — falls back to a FULL brute-force scan whenever the
bucket holds fewer than ``top_k`` candidates (src/index.rs:161-170; its
tests rely on this, tests/integration_tests.rs:240-245). Hyperplanes here
are seeded (the reference uses unseeded thread_rng — SURVEY.md §7.2), so
declared queries are reproducible.

Spark-first design:
- the bucket is a plain LONG column computed by native zip_with/aggregate
  expressions (whole-stage codegen, no Python);
- ``build`` writes the table ``partitionBy("bucket")`` so a bucket probe
  is PARTITION PRUNING — at 100 TB a probe reads one partition, not the
  table (SURVEY.md §4.1 maps the reference's bucket probe to exactly
  this);
- batch probe = equi-join of queries to base on bucket (hash-partitioned
  both sides, co-located), fallback handled per-query by a union with the
  exact path for only the starved queries.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kowari_spark.functions.vector import dot as dot_expr
from kowari_spark.functions.vector import lit_vec
from kowari_spark.operators.topk import knn

_LSH_META_NAME = "_lsh_meta.json"
_LSH_LAYOUT_VERSION = "lsh-layout-v1"

#: literal (table, bucket) IN-predicates stay readable and plan-cheap
#: below this many probed pairs; bigger query batches fall back to the
#: broadcast equi-join (the simhash _BLOCK_ISIN_MAX discipline)
_BUCKET_ISIN_MAX = 4096


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
    if {k: saved.get(k) for k in params} != params:
        raise ValueError(
            f"LSH layout at {path} was built with {saved}, but this "
            f"index hashes with {params}; rebuild the layout or "
            "construct a matching instance (or open it param-free via "
            "dedup_index.open_lsh_layout)"
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

    def bucket_sql(self, vec_sql: str) -> str:
        """SQL-string twin of the per-plane Column builder: the parsed
        tree constant-folds to the IDENTICAL expression (same zip_with/
        aggregate fold, same comparison, same long arithmetic — value
        parity pinned by test_lsh), but the driver builds it in ONE
        ``F.expr`` parse instead of ~10 py4j roundtrips per plane
        (measured 0.78 s -> 0.005 s for an 8-plane bucket; probe-shaped
        lines are driver-construction-bound once their plans are lean)."""
        out = "CAST(0 AS BIGINT)"
        for i, plane in enumerate(self.planes):
            arr = ",".join(repr(float(v)) + "D" for v in plane)
            d = (
                f"aggregate(zip_with({vec_sql}, array({arr}), "
                "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                "0.0D, (acc, x) -> acc + x)"
            )
            out = f"({out} + (CASE WHEN {d} >= 0.0D THEN {1 << i}L ELSE 0L END))"
        return out

    def bucket_expr(self, vec_col: Column | str) -> Column:
        """Packed sign-bit bucket as a native column expression."""
        if isinstance(vec_col, str):
            return F.expr(self.bucket_sql(f"`{vec_col}`"))
        col = vec_col
        acc = F.lit(0).cast("long")
        for i, plane in enumerate(self.planes):
            d = dot_expr(col, lit_vec(plane))
            acc = acc + F.when(d >= 0.0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        return acc

    def buckets_fold(self, V: np.ndarray) -> np.ndarray:
        """numpy twin of ``bucket_sql`` over the rows of ``V``: each
        plane's dot folds ``x_j·p_j`` left to right in dimension order,
        as the SQL ``aggregate`` does, so every bucket is bit-identical.
        A projection that overflows to NaN sets its bit, because Spark
        orders NaN above 0.0."""
        acc = np.zeros((len(V), self.num_planes))
        for j in range(V.shape[1]):
            acc = acc + V[:, j, None] * self.planes[None, :, j]
        bits = (acc >= 0.0) | np.isnan(acc)
        return (bits << np.arange(self.num_planes)).sum(axis=1)

    def bucket_of(self, vec: Sequence[float]) -> int:
        """Driver-side bucket for a single query vector."""
        v = np.asarray(vec, dtype=np.float64)
        signs = (self.planes @ v) >= 0.0
        return int(sum(1 << i for i, s in enumerate(signs) if s))

    def probe_buckets_of(self, vec: Sequence[float], probes: int) -> list[int]:
        """Driver-side twin of ``probe_buckets_expr`` (same ordering:
        sign-flip subsets of the lowest-margin planes by total flipped
        margin², ties by xor mask) — a single query's probe set needs no
        Spark job, and the resulting literal list lets the bucket filter
        prune partitions STATICALLY at the scan."""
        base_bucket = self.bucket_of(vec)
        if probes <= 1:
            return [base_bucket]
        v = np.asarray(vec, dtype=np.float64)
        dots = self.planes @ v
        fp = min(self.num_planes, self._FLIP)
        ranked = sorted(
            ((float(d * d), 1 << i) for i, d in enumerate(dots))
        )[:fp]
        subsets = []
        for mask in range(1 << fp):
            cost = sum(ranked[j][0] for j in range(fp) if (mask >> j) & 1)
            xorv = sum(ranked[j][1] for j in range(fp) if (mask >> j) & 1)
            subsets.append((cost, xorv))
        subsets.sort()
        return [base_bucket ^ x for _, x in subsets[:probes]]

    # number of low-margin planes eligible for multi-probe perturbation;
    # 2^_FLIP subsets are enumerated in the plan, so keep it small
    _FLIP = 5

    def probe_buckets_expr(self, vec_col: Column | str, probes: int) -> Column:
        """Query-directed multi-probe sequence as ONE native expression:
        an array of up to ``probes`` bucket ids, ordered by how likely the
        bucket is to hold missed neighbors (Lv et al., multi-probe LSH).

        A near neighbor that missed the query's bucket disagrees on the
        planes where the query's margin |v·p| is smallest, so the probe
        sequence enumerates sign-flip subsets of the ``_FLIP``
        lowest-margin planes ordered by the total flipped margin². All of
        it — margins, subset costs, xor masks — is array/struct algebra
        inside whole-stage codegen; nothing runs in Python and the probe
        set rides along each query row into the bucket equi-join."""
        # bucket_expr / dot take the one-parse SQL path on string input
        # (construction cost only; trees identical — see bucket_sql)
        if probes <= 1:
            if isinstance(vec_col, str):
                return F.expr(f"array({self.bucket_sql(f'`{vec_col}`')})")
            return F.array(self.bucket_expr(vec_col))
        base_bucket = self.bucket_expr(vec_col)
        col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
        fp = min(self.num_planes, self._FLIP)
        if isinstance(vec_col, str):
            from kowari_spark.functions.vector import dot_sql, lit_vec_sql

            dots = [
                F.expr(dot_sql(f"`{vec_col}`", lit_vec_sql(plane)))
                for plane in self.planes
            ]
        else:
            dots = [
                dot_expr(col, lit_vec(plane))
                for plane in self.planes
            ]
        margins = F.array_sort(
            F.array(
                *[
                    F.struct(
                        (d * d).cast("double").alias("m2"),
                        F.lit(1 << i).cast("long").alias("bit"),
                    )
                    for i, d in enumerate(dots)
                ]
            )
        )
        sel = [F.element_at(margins, j + 1) for j in range(fp)]
        subsets = []
        for mask in range(1 << fp):
            cost: Column | None = None
            xorv: Column | None = None
            for j in range(fp):
                if (mask >> j) & 1:
                    cost = sel[j]["m2"] if cost is None else cost + sel[j]["m2"]
                    xorv = sel[j]["bit"] if xorv is None else xorv + sel[j]["bit"]
            subsets.append(
                F.struct(
                    (F.lit(0.0) if cost is None else cost).alias("c"),
                    (F.lit(0).cast("long") if xorv is None else xorv.cast("long")).alias("x"),
                )
            )
        ordered = F.slice(F.array_sort(F.array(*subsets)), 1, probes)
        return F.transform(ordered, lambda s: base_bucket.bitwiseXOR(s["x"]))

    def with_buckets(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        return df.withColumn("bucket", self.bucket_expr(vec_col))

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

        The probe set is computed driver-side (``probe_buckets_of`` —
        pure numpy, no Spark job) so the candidate filter is a LITERAL
        ``bucket IN (...)`` that prunes partitions statically on a
        ``build`` layout. Two pruned jobs follow: the candidate count
        (the fallback decision — on a built layout this reads
        probes/2^p of the partitions' footers, not the table) and a
        TakeOrderedAndProject top-k over the same pruned scan. Routing
        n=1 through the batch machinery was measured 4-8x slower (its
        size-aggregate + broadcast stages dominate a single
        query), so the batch path is reserved for actual batches."""
        buckets = self.probe_buckets_of(query, probes)
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
        query-directed multi-probe bucket sequence (probe_buckets_expr) —
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
            "bucket", F.explode(self.probe_buckets_expr("__qvec", probes))
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
                 seed: int = 42, hasher: str = "expr"):
        self.dim = dim
        self.num_planes = num_planes
        self.num_tables = num_tables
        self.seed = seed
        # hasher: "expr" (default) hashes with native aggregate/zip_with
        # folds — pure JVM, bit-parity with a SQL oracle replaying the
        # same sequential fold, but higher-order functions are
        # INTERPRETED per element, so T·p folds per row dominate large
        # corpora (measured 283 s of the x1000 scale-bench probe vs
        # 56 s for CP-LSH, which hashes with one GEMM). "gemm" computes
        # all T·p dots per Arrow batch as one numpy float64 GEMM — the
        # same "built-ins can't express it" boundary as CP-LSH hashing.
        # Sign bits agree with the fold except when |v·p| is below the
        # two summation orders' ulp gap (measure-zero on real data;
        # parity-tested on the bench corpus) — keep one hasher per
        # LAYOUT: probe a layout with the hasher that built it.
        if hasher not in ("expr", "gemm"):
            raise ValueError(f"hasher must be expr|gemm, got {hasher!r}")
        self.hasher = hasher
        self.tables = [
            SignLSH(dim=dim, num_planes=num_planes, seed=seed + t)
            for t in range(num_tables)
        ]

    def _params(self) -> dict:
        """Sidecar provenance. ``hasher`` participates: expr and gemm
        sign bits can differ at ulp-margin vectors (see __init__), so
        one hasher per LAYOUT is part of the stored contract."""
        return {
            "version": _LSH_LAYOUT_VERSION,
            "family": "multisign",
            "dim": self.dim,
            "num_planes": self.num_planes,
            "num_tables": self.num_tables,
            "seed": self.seed,
            "hasher": self.hasher,
        }

    def buckets_expr(self, vec_col: Column | str) -> Column:
        """Array of per-table buckets — all tables hashed in ONE pass.
        String columns take the SQL-string builder (one parse for ALL
        T tables — see SignLSH.bucket_sql)."""
        if isinstance(vec_col, str):
            return F.expr(
                "array("
                + ",".join(t.bucket_sql(f"`{vec_col}`") for t in self.tables)
                + ")"
            )
        return F.array(*[t.bucket_expr(vec_col) for t in self.tables])

    def buckets_gemm_udf(self) -> Column:
        """pandas_udf column factory hashing every table with one
        float64 GEMM per Arrow batch: signs of (batch × d) @ (d × T·p),
        bits packed per table. The plane stack is T·p·d floats (~57 KB
        at p=14, T=8, d=64) — small enough to ride the task closure; a
        plane stack big enough to need a broadcast variable wants
        CrossPolytopeLSH's machinery instead."""
        from pyspark.sql.types import ArrayType, LongType

        gemm = self.buckets_gemm

        @F.pandas_udf(ArrayType(LongType()))
        def _buckets(vecs: pd.Series) -> pd.Series:
            mat = np.array(vecs.tolist(), dtype=np.float64)
            if mat.size == 0:
                return pd.Series([], dtype=object)
            return pd.Series(list(gemm(mat)))

        return _buckets

    def buckets_gemm(self, mat: np.ndarray) -> np.ndarray:
        """(rows × T) buckets of ``mat``'s rows: the signs of one
        ``mat @ P.T`` GEMM over the stacked planes, packed per table —
        the kernel of ``buckets_gemm_udf``."""
        P = np.concatenate([t.planes for t in self.tables], axis=0)
        T, p = self.num_tables, self.num_planes
        signs = ((mat @ P.T) >= 0.0).reshape(len(mat), T, p)
        return (signs * (1 << np.arange(p, dtype=np.int64))).sum(axis=2)

    def buckets_local(self, V: np.ndarray) -> np.ndarray:
        """(rows × T) buckets of ``V``'s rows on the driver, identical
        to the configured hasher's Spark column: ``buckets_gemm`` for
        "gemm", each table's ``SignLSH.buckets_fold`` for "expr"."""
        if self.hasher == "gemm":
            return self.buckets_gemm(V)
        return np.stack([t.buckets_fold(V) for t in self.tables], axis=1)

    def _buckets_col(self, vec_col: Column | str) -> Column:
        """The per-table bucket array under the configured hasher."""
        if self.hasher == "gemm":
            col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
            return self.buckets_gemm_udf()(col)
        return self.buckets_expr(vec_col)

    def with_buckets(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """Exploded (one row per table) bucketed relation."""
        return df.select(
            "*", F.posexplode(self._buckets_col(vec_col)).alias("__tbl", "bucket")
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
            "query_id", F.posexplode(self._buckets_col("__qvec")).alias("__tbl", "bucket")
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
                F.posexplode(self._buckets_col(vec_col)).alias("__tbl", "bucket"),
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
