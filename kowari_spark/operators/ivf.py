"""IVF (inverted-file) ANN index — seeded k-means coarse quantizer +
partition-pruned probe.

Beyond-reference surface (task north star "similarity search"): the
reference ships brute force, sign-LSH and HNSW (src/index.rs); IVF is
the standard scale path the task asks for — partition the vector space
into ``n_lists`` Voronoi cells, store each cell as a partition, and at
query time score only the ``n_probe`` cells nearest the query.

Spark-first design:
- **fit** is Lloyd's k-means with deterministic farthest-first seeding
  (Gonzalez 1985 "maxmin" traversal — the deterministic analog of
  k-means++ D² sampling: instead of sampling the next seed proportional
  to D², take its argmax; no RNG state, no transcendentals, so the
  whole fit stays bit-reproducible across engines), in two executions
  of one algorithm (operators/quantizer.py). A corpus within the driver
  bound (``fsutil._DRIVER_MAX_ROWS`` rows) is collected once and fitted
  in numpy: two Spark jobs, no shuffle. Any larger corpus runs the
  distributed plan: the seeds come from ONE md5-ordered sample collect
  (``seed_sample``; the exact opt-in runs one distributed argmax job
  per seed — min distance to the chosen set is a native fold over a
  literal centroid matrix, TakeOrderedAndProject picks the farthest
  row); assignment is the shared numpy argmin kernel in one row-local
  ``mapInPandas`` pass; the update step reduces (cell, dim) partial
  sums map-side, so each Lloyd iteration shuffles at most n_lists*d
  tiny rows, never vectors. Both executions share the seeding
  traversal, the argmin kernel and the Lloyd update, and give
  bit-identical centroids on a single-partition input.
- **build** writes the assigned table ``partitionBy("list_id")`` — a
  probe then reads n_probe/n_lists of the data via partition pruning
  (same layout trick as the LSH index, SURVEY.md §4.1).
- **query** scores only the probed cells with the exact knn operators,
  so results are exact *within* the probed region; recall is tuned by
  n_probe and asserted against brute force in tests (the reference's own
  acceptance style, utils.rs:64-79).
"""

from __future__ import annotations

import json
from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kowari_spark.operators.topk import knn, knn_batch

_META_NAME = "_ivf_meta.json"
#: bump when fit/assignment/probe arithmetic changes — rides the IVF×PQ
#: composed sidecar (ivfpq.py) so a stale composed layout is refused on
#: load rather than silently probed with diverged semantics
_ALGO_VERSION = "ivf-maxmin-v1"


class IVF:
    #: default sample size per list for "auto" seeding — large enough
    #: that the maxmin traversal sees the space's spread, small enough
    #: that one driver collect stays trivial (64*n_lists rows)
    AUTO_SEED_PER_LIST = 64

    def __init__(self, n_lists: int | str = 16, n_probe: int | str = 2,
                 max_iter: int = 5,
                 seed: int = 42, round_centroids: int | None = None,
                 seed_sample: int | str | None = "auto"):
        # n_lists="auto" resolves to round(sqrt(n)) at fit time — the
        # sizing that balances build vs probe: assignment cost per
        # Lloyd pass is O(n·n_lists·d) and probe cost is
        # O(n_probe·n/n_lists·d), so sqrt(n) keeps the BUILD at
        # O(n^1.5·d) while a fixed-cell-size rule (n_lists = n/c) makes
        # it O(n²·d/c) — the super-linear growth BASELINE.md's round-7
        # addendum measured. Crossover intuition: fixed-cell wins probe
        # latency once n is large enough that sqrt(n) cells are bigger
        # than the target cell size (n > c²; c=4000 → n > 16M), but you
        # pay the quadratic build to get there — pass an explicit
        # n_lists when you want that trade. n is the number of fitted
        # rows: in memory, the collected rows; distributed, the
        # persist-warming count of the fit projection (the fit persists
        # and re-scans the projection every Lloyd pass anyway, so
        # materializing it once adds no extra pass; explicit int
        # n_lists keeps the count-free fit path).
        if isinstance(n_lists, str) and n_lists != "auto":
            raise ValueError(f"n_lists must be an int or 'auto', got {n_lists!r}")
        if isinstance(n_probe, str) and n_probe != "auto":
            raise ValueError(f"n_probe must be an int or 'auto', got {n_probe!r}")
        self.n_lists = n_lists
        self.n_probe = n_probe
        # the constructor-time sizing SPEC ("auto" or the explicit int)
        # survives on the instance so every fit() re-derives the auto
        # sizing from ITS corpus — without this, refitting one instance
        # on a 100x bigger DataFrame silently reuses the first fit's
        # sqrt(n) (ADVICE r8)
        self._n_lists_spec = n_lists
        self._n_probe_spec = n_probe
        self.max_iter = max_iter
        self.seed = seed
        # seed_sample: run the farthest-first traversal driver-side over
        # the md5-top-``seed_sample`` rows (ONE collect) instead of k
        # distributed argmax jobs — the 100 TB shape, where k full scans
        # for seeding would dominate the build. The traversal arithmetic
        # is identical, so seed_sample >= n reproduces the distributed
        # result bit-for-bit (tested). The DEFAULT is "auto"
        # (= 64*n_lists): a user calling IVF(n_lists=256) must not get
        # 255 sequential full-table argmax scans by accident (VERDICT
        # r5); pass seed_sample=None to opt IN to the exact distributed
        # traversal.
        self.seed_sample = seed_sample
        if isinstance(seed_sample, str) and seed_sample != "auto":
            # catch typos at construction, not as a TypeError deep in fit
            raise ValueError(
                f"seed_sample must be an int, None (exact traversal) or "
                f"'auto', got {seed_sample!r}"
            )
        # rounding the centroids to a fixed decimal grid after every
        # Lloyd update makes the fit reproducible ACROSS ENGINES: the
        # only cross-engine divergence in the whole pipeline is the
        # summation order inside each cell mean (ulp-level), which the
        # grid absorbs — distances, argmin and ranking are then exact
        # IEEE arithmetic on identical inputs everywhere
        self.round_centroids = round_centroids
        self.centroids: np.ndarray | None = None  # (n_lists, d)

    # -- fit ---------------------------------------------------------------

    def fit(self, df: DataFrame, id_col: str = "id", vec_col: str = "embedding") -> "IVF":
        """Deterministic k-means (Lloyd, ``max_iter`` rounds) from
        farthest-first seeds, in one of two executions chosen by the
        input alone (``quantizer.fit_input``):

        - in memory: a corpus of at most ``fsutil._DRIVER_MAX_ROWS``
          rows is collected once (a zero-column size check and one
          collect: two Spark jobs, no shuffle) and seeded and fitted
          in numpy with the arithmetic of the distributed plan —
          bit-identical centroids on a single-partition input;
        - distributed: every other corpus, or input the in-memory path
          declines. The (id, vector) projection is persisted for the
          duration of the fit — every iteration re-scans it, and at
          100 TB re-reading the source per iteration would dominate
          the build.

        Degraded rows (null / wrong-length vectors) carry no fittable
        signal — they assign a null list_id by design — and are
        filtered before seeding AND the Lloyd reduce, mirroring
        PQ.fit's degraded-row rule: a short vector reaching the seed
        sample would yield a ragged centroid matrix, and a null list_id
        reaching the driver accumulation would broadcast over the whole
        centroid array (ADVICE r7). The expected dimension is taken
        from the first non-null row, exactly like PQ's dim inference."""
        from kowari_spark.operators import quantizer

        # per-fit sizing hygiene: restore the constructor spec so an
        # "auto" instance refit on a different-size corpus re-derives
        # sqrt(n) / n_lists//16 instead of reusing the stale resolution
        # (ADVICE r8)
        self.n_lists = self._n_lists_spec
        self.n_probe = self._n_probe_spec
        got = quantizer.fit_input(df, id_col, vec_col)
        if got is not None:
            ids, V = got
            self._resolve_sizes(len(ids))
            # the sample, or every row: the traversal over every row in
            # md5 order is the exact mode's argmax scans (tested)
            self.centroids = quantizer.fit_in_memory(
                ids, V, self.seed, self._seed_sample_size(),
                lambda pts: self._seeds_from(pts)[None],
                self.max_iter, self.round_centroids,
            )[0]
            return self

        first = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
        if first is None:
            raise ValueError("cannot fit an IVF on an empty DataFrame")
        dim = len(first[0])
        vecs = (
            df.select(id_col, vec_col)
            .filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
            .persist()
        )
        try:
            # persist-warming count (the PQ.fit pattern): every Lloyd
            # pass re-scans the persisted projection, so materializing
            # it here adds no extra pass over the data — and it gives
            # the exact n the sqrt sizing needs
            self._resolve_sizes(
                vecs.count() if self.n_lists == "auto" else None
            )
            return self._fit(vecs, id_col, vec_col)
        finally:
            vecs.unpersist()

    def _resolve_sizes(self, n: int | None) -> None:
        """Resolve "auto" sizing from the fit's row count ``n``."""
        if self.n_lists == "auto":
            import math

            self.n_lists = max(1, min(n, int(round(math.sqrt(n)))))
        if self.n_probe == "auto":
            # ~1/16 of the cells per probe (the measured ~6%-of-
            # corpus operating point from BASELINE's x1000 table)
            self.n_probe = max(1, int(self.n_lists) // 16)

    def _seed_sample_size(self) -> int | None:
        """Rows the sampled traversal seeds from (None: every row)."""
        if self.seed_sample is None:
            return None
        sample = (
            self.AUTO_SEED_PER_LIST * self.n_lists
            if self.seed_sample == "auto"
            else self.seed_sample
        )
        if sample < self.n_lists:
            raise ValueError(
                f"seed_sample={sample} < n_lists={self.n_lists}"
            )
        return sample

    def _check_rows(self, n: int) -> None:
        if n < self.n_lists:
            raise ValueError(
                f"need >= {self.n_lists} vectors to fit {self.n_lists} lists"
            )

    def _seeds_from(self, pts) -> np.ndarray:
        """Gonzalez maxmin seeds over (id, vector) ``pts`` in md5
        order — the shared traversal (operators/quantizer.py)."""
        from kowari_spark.operators.quantizer import gonzalez_maxmin

        if not pts:
            raise ValueError("cannot fit an IVF on an empty DataFrame")
        # cardinality check for free from the seed rows — no extra
        # scan (ADVICE r5)
        self._check_rows(len(pts))
        return np.asarray(gonzalez_maxmin(pts, self.n_lists),
                          dtype=np.float64)

    def _seed_farthest_first(self, df: DataFrame, id_col: str,
                             vec_col: str) -> np.ndarray:
        """Deterministic farthest-first traversal (Gonzalez maxmin — the
        greedy analog of k-means++ D² sampling). Seed 0 is the row with
        the smallest md5(id#seed); seed i+1 is the row maximizing the
        min squared distance to seeds 0..i (ties -> lowest id). Every
        selected seed is an EXACT data vector (no arithmetic on it), and
        min-of-distances is order-independent, so an external engine
        re-running the same traversal lands on identical seeds."""
        from kowari_spark.operators.quantizer import cents_lit, d2_fold

        md5 = F.md5(F.concat(F.col(id_col).cast("string"),
                             F.lit(f"#{self.seed}")))
        sample = self._seed_sample_size()
        if sample is not None:
            # sampled traversal: collect the md5-top-``sample`` rows
            # once, then run the identical maxmin loop driver-side —
            # same sequential (x-y)² fold, same max-mind / lowest-id
            # tie-break, so with ``seed_sample >= n`` the seeds are
            # bit-identical to the exact loop below. Seeds only need to
            # cover the space; at scale a few-thousand-row sample does
            # that while k full argmax scans would dominate the build.
            rows = (
                df.select(id_col, vec_col).orderBy(md5).limit(sample)
                .collect()
            )
            return self._seeds_from(
                [(r[id_col], [float(x) for x in r[vec_col]]) for r in rows]
            )
        # exact mode (opt-in): n_lists-1 distributed argmax scans. The
        # cardinality check rides the cheap limit collect — never a full
        # count (ADVICE r5).
        self._check_rows(
            len(df.select(id_col).limit(self.n_lists).collect())
        )
        first = df.select(id_col, vec_col).orderBy(md5).limit(1).collect()
        if not first:
            raise ValueError("cannot fit an IVF on an empty DataFrame")
        seeds = [[float(x) for x in first[0][vec_col]]]
        for _ in range(self.n_lists - 1):
            mind = F.array_min(
                F.transform(cents_lit(seeds),
                            lambda c: d2_fold(F.col(vec_col), c))
            )
            row = (
                df.select(F.col(id_col), F.col(vec_col), mind.alias("__mind"))
                .orderBy(F.desc("__mind"), F.asc(id_col))
                .limit(1)
                .collect()[0]
            )
            seeds.append([float(x) for x in row[vec_col]])
        return np.asarray(seeds, dtype=np.float64)

    def _fit(self, df: DataFrame, id_col: str, vec_col: str) -> "IVF":
        """The distributed fit over the persisted projection ``df``.
        Cardinality validation happens inside the seeding (from the
        seed collect itself, or a limit-n_lists probe) — an
        unconditional count() here was a whole-table scan per fit at
        the 100 TB design point (ADVICE r5)."""
        from kowari_spark.operators.quantizer import lloyd

        def sums_of(books):
            self.centroids = books[0]  # what with_lists assigns against
            # degraded rows (null/short/overlong vectors) carry a null
            # list_id by design — drop them before the reduce: an
            # unfiltered null key would reach the driver accumulation
            # as an index, and numpy treats None as np.newaxis — the
            # assignment would broadcast over the ENTIRE centroid array
            # (silent total corruption; ADVICE r7)
            assigned = self.with_lists(
                df.select(vec_col), vec_col
            ).select("list_id", vec_col).filter(F.col("list_id").isNotNull())
            # element-wise sum per cell: explode (cell, dim, value) and
            # reduce — map-side partial aggregation keeps the shuffle at
            # n_lists*d rows
            rows = (
                assigned.select("list_id",
                                F.posexplode(vec_col).alias("dim", "val"))
                .groupBy("list_id", "dim")
                .agg(F.sum(F.col("val").cast("double")).alias("s"),
                     F.count("*").alias("n"))
                .collect()
            )
            sums = np.zeros(books.shape)
            counts = np.zeros(books.shape[:2], dtype=np.int64)
            for r in rows:
                sums[0, r["list_id"], r["dim"]] = r["s"]
                counts[0, r["list_id"]] = r["n"]
            return sums, counts

        seeds = self._seed_farthest_first(df, id_col, vec_col)
        self.centroids = lloyd(seeds[None], sums_of, self.max_iter,
                               self.round_centroids)[0]
        return self

    # -- build (offline layout) -------------------------------------------

    def with_lists(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """Append ``list_id`` = argmin_i ||v - c_i||² (ties -> lowest
        index): the shared quantizer argmin encoder with a single
        subspace (= the centroid matrix), one row-local mapInPandas
        pass — the interpreted n_lists-lambda fold per row was the
        measured scale killer at large n_lists. Distances fold
        dimension-by-dimension like the SQL replay. Degraded rows:
        null/short/overlong vectors assign a null list_id (the SQL
        zip_with null-padding poisons every distance for those shapes),
        NaN-poisoned full-length vectors resolve to cell 0."""
        if self.centroids is None:
            raise ValueError("fit() first")
        from kowari_spark.operators.quantizer import argmin_codes_arrow

        dim = int(self.centroids.shape[1])
        coded = argmin_codes_arrow(
            df, self.centroids[None, :, :], vec_col, "__cells"
        )
        return coded.withColumn(
            "list_id",
            F.when(
                F.size(vec_col) == dim, F.element_at("__cells", 1)
            ).otherwise(F.lit(None).cast("int")),
        ).drop("__cells")

    def build(self, df: DataFrame, path: str, vec_col: str = "embedding") -> None:
        """Materialize the inverted-file layout: one partition per cell;
        probing n_probe cells is partition pruning, not a scan. The
        fitted quantizer (centroids + params) is saved alongside as
        ``_ivf_meta.json`` so a later session can ``load()`` and probe
        without refitting — the offline-build/online-probe split this
        index exists for (at 100 TB the build is a scheduled job, the
        probe a sub-second partition-pruned read)."""
        self.with_lists(df, vec_col).write.mode("overwrite").partitionBy(
            "list_id"
        ).parquet(path)
        meta = {
            "n_lists": self.n_lists,
            "n_probe": self.n_probe,
            "max_iter": self.max_iter,
            "seed": self.seed,
            "round_centroids": self.round_centroids,
            "seed_sample": self.seed_sample,
            "centroids": [[float(x) for x in c] for c in self.centroids],
        }
        # sidecar goes through the Hadoop FileSystem API so the layout
        # works wherever the parquet itself landed (file:, hdfs://,
        # s3a://) — a local open() would silently scope the index to the
        # driver's disk
        from kowari_spark.fsutil import write_bytes

        write_bytes(
            df.sparkSession, f"{path}/{_META_NAME}", json.dumps(meta).encode()
        )

    def load(self, spark: SparkSession, path: str) -> DataFrame:
        """Open a built layout. Restores the saved quantizer into this
        instance when the ``_ivf_meta.json`` sidecar exists (so
        ``IVF().load(...)`` is probe-ready with no fit). Sidecar IO uses
        the Hadoop FileSystem API — any scheme the session can read."""
        from kowari_spark.fsutil import exists, read_bytes

        meta_path = f"{path}/{_META_NAME}"
        if exists(spark, meta_path):
            meta = json.loads(read_bytes(spark, meta_path).decode())
            self.n_lists = meta["n_lists"]
            self.n_probe = meta["n_probe"]
            self.max_iter = meta["max_iter"]
            self.seed = meta["seed"]
            self.round_centroids = meta["round_centroids"]
            self.seed_sample = meta.get("seed_sample")
            self.centroids = np.asarray(meta["centroids"], dtype=np.float64)
        return spark.read.parquet(path)

    # -- query -------------------------------------------------------------

    def _probes_of(self, vec: Sequence[float]) -> list[int]:
        """n_probe nearest cells by squared L2, ties -> lowest cell id.
        The distance is a SEQUENTIAL left fold over dimensions (not a
        numpy pairwise sum) so the value is bit-identical to the same
        fold computed by Spark's aggregate(zip_with(...)) or an external
        engine's list_dot_product — probe choice never diverges."""
        v = [float(x) for x in vec]
        d2 = []
        for c in self.centroids:
            acc = 0.0
            for x, y in zip(v, c):
                acc += (x - float(y)) * (x - float(y))
            d2.append(acc)
        order = sorted(range(len(d2)), key=lambda i: (d2[i], i))
        return [int(i) for i in order[: self.n_probe]]

    def query(
        self,
        df: DataFrame,
        query: Sequence[float],
        k: int,
        metric: str = "cosine",
        id_col: str = "id",
        vec_col: str = "embedding",
        round_to: int | None = None,
    ) -> DataFrame:
        """Single-query probe: exact knn over the n_probe nearest cells."""
        base = df if "list_id" in df.columns else self.with_lists(df, vec_col)
        probes = self._probes_of(query)
        cand = base.filter(F.col("list_id").isin(probes))
        return knn(cand, query, k, metric=metric, id_col=id_col,
                   vec_col=vec_col, round_to=round_to)

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
        """Batch probe: queries join their probed cells (broadcast of the
        exploded (query, probe) pairs), per-query window top-k."""
        from pyspark.sql.window import Window
        from kowari_spark.operators.topk import _rounded, _score

        base = df if "list_id" in df.columns else self.with_lists(df, vec_col)
        qrows = queries.select(query_id_col, query_vec_col).collect()
        pairs = [
            (r[0], list(map(float, r[1])), p)
            for r in qrows
            for p in self._probes_of(r[1])
        ]
        spark = df.sparkSession
        from kowari_spark.fsutil import local_df

        probe_df = local_df(
            spark,
            pairs, f"query_id {queries.schema[query_id_col].dataType.simpleString()}, "
                   f"__qvec array<double>, list_id int"
        )
        # static partition pruning BEFORE the join: on a built
        # partitionBy(list_id) layout this turns the scan into
        # len(probed)/n_lists of the files; the broadcast join then only
        # fans out rows that survived the prune
        probed = sorted({p for _, _, p in pairs})
        scored = base.filter(F.col("list_id").isin(probed)).join(
            F.broadcast(probe_df), "list_id"
        ).select(
            "query_id",
            F.col(id_col),
            _rounded(_score(metric, F.col(vec_col), F.col("__qvec")), round_to).alias("score"),
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
