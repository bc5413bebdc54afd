"""Unified ANN index-strategy contract (SURVEY.md §2.6).

The reference hides its three index strategies behind one trait —
``build / query / clear`` over ``&[(id, data)]`` (src/index.rs:8-12) —
and the engine's four strategies (sign-LSH, cross-polytope LSH, IVF,
HNSW) grew similar-but-different ``query_batch`` signatures. This
module is the Spark-shaped version of that trait, so callers (and
``Collection.search(index=...)``) dispatch without knowing which
strategy is behind the handle:

- ``build_df(base)``  -> the index RELATION (bucketed layout, cell
  assignment, or edge set) — write it with ``partitionBy(...)`` for the
  offline layout, or pass it straight back in;
- ``candidates(built, base, queries)`` -> ``(query_id, id)`` candidate
  pairs — the only strategy-specific step;
- ``search(...)`` (shared) -> exact re-score of the candidates with
  native column expressions, per-query window top-k, and the
  reference's brute-force fallback for queries whose candidate set is
  smaller than k (src/index.rs:158-173 semantics, generalized).

The shared path is exactly the machinery every strategy already used —
one scoring join, one window — so an index plugged in here inherits the
scale shape for free: candidates broadcast into the base table, the
base scan stays partition-pruned when ``built`` is a loaded
``partitionBy`` layout, and nothing ever materializes driver-side
except the (contract-small) query batch where a strategy needs it
(IVF probe selection).
"""

from __future__ import annotations

import abc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kowari_spark.operators.topk import _rounded, _score, brute_force_fallback


class AnnIndex(abc.ABC):
    """Index-strategy contract: build_df -> candidates -> (shared) search."""

    name: str = "ann"

    @abc.abstractmethod
    def build_df(self, base: DataFrame, id_col: str = "id",
                 vec_col: str = "embedding",
                 metric: str = "cosine") -> DataFrame:
        """The index relation for ``base`` (bucketed/cell/edge table).
        ``metric`` matters where the index structure itself is
        metric-aware (HNSW edge selection); hash/cell strategies may
        ignore it."""

    @abc.abstractmethod
    def candidates(
        self,
        built: DataFrame,
        base: DataFrame,
        queries: DataFrame,
        k: int,
        id_col: str = "id",
        vec_col: str = "embedding",
        query_id_col: str = "query_id",
        query_vec_col: str = "embedding",
        metric: str = "cosine",
    ) -> DataFrame:
        """(query_id, <id_col>) candidate pairs, deduplicated.

        ``metric`` is the metric the caller will re-score with;
        strategies whose candidate generation is metric-aware (HNSW
        graph navigation, IVF probe selection via its own distance)
        must honor it — hash-bucket strategies (sign-LSH, CP-LSH) are
        cosine-family by construction and may ignore it."""

    def search(
        self,
        base: DataFrame,
        queries: DataFrame,
        k: int,
        metric: str = "cosine",
        built: DataFrame | None = None,
        id_col: str = "id",
        vec_col: str = "embedding",
        query_id_col: str = "query_id",
        query_vec_col: str = "embedding",
        round_to: int | None = None,
        where=None,
    ) -> DataFrame:
        """Shared candidate -> exact-rescore -> top-k -> fallback drive.

        Returns (query_id, <id_col>, score, rank) like every
        ``query_batch``. ``built`` defaults to ``build_df(base)`` — pass
        a loaded offline layout to keep the probe partition-pruned.

        ``where`` (Column or SQL string) is a metadata PRE-filter over
        ``base`` (reference F8 composed with Q4 — filtered vector
        search, local_storage_demo.rs:115-130): candidate pairs are
        filtered BEFORE starvation accounting, so a query whose
        filtered candidate set shrinks below k falls back to brute
        force over the FILTERED base — identical semantics to running
        exact filtered knn, which post-filtering the top-k hits would
        NOT give (it silently returns < k rows and loses recall). The
        index probe itself stays unfiltered (the layout was built on
        the full corpus); the filter lands on the skinny candidate
        relation and on the fallback/rescore scans, where Catalyst
        pushes it into the base read.

        Selectivity guidance: as the predicate gets more selective the
        index shortlist runs dry post-filter more often, and every
        starved query pays an exact scan of the FILTERED corpus —
        correct by construction (recall 1.0 vs exact filtered knn for
        starved queries) but O(n_filtered) per query. At ~1%
        selectivity most queries live in that regime (see
        ``filtered_ann_selectivity`` in bench_full.json: recall and
        starved fraction per selectivity decade); when the predicate is
        BOTH highly selective and known ahead of time, a per-partition
        layout on that column (or a dedicated index over the filtered
        subset) beats filtering a full-corpus index.

        The brute-force fallback for starved queries (< k candidates —
        reference src/index.rs:158-173 semantics) is built
        UNCONDITIONALLY from the left-anti lineage and unioned in: no
        ``isEmpty()`` driver action fires at plan time, so the whole
        search is one declarative plan. When no query is starved the
        fallback's broadcast side materializes empty at runtime and
        AQE's empty-relation propagation collapses that subtree before
        the base scan runs."""
        if built is None:
            built = self.build_df(base, id_col, vec_col, metric)
        # candidate generation always sees the UNFILTERED base (HNSW
        # navigates base vectors; a filtered graph walk would change
        # the visited set) — the predicate lands after, on the skinny
        # candidate pairs and the fallback/rescore scans
        fbase = base
        if where is not None:
            pred = F.expr(where) if isinstance(where, str) else where
            fbase = base.filter(pred)
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("__qvec"),
        )
        # ONE computation feeds sizes + scoring + fallback: every
        # strategy's candidates() ends in an Exchange (distinct) or an
        # already-materialized checkpoint (HNSW), so exchange reuse
        # serves all three consumers without an eager barrier here
        cand = self.candidates(
            built, base, queries, k, id_col, vec_col, query_id_col,
            query_vec_col, metric,
        )
        if where is not None:
            # pre-filter the skinny candidate relation so the >= k
            # starvation check below counts only rows the caller can
            # actually receive; the fallback and rescore relations below
            # are built from the filtered base, so a starved query brute-
            # forces the FILTERED corpus (exact-filtered-knn semantics)
            cand = (
                cand.join(fbase.select(id_col), id_col)
                .select("query_id", id_col)
            )
        sizes = cand.groupBy("query_id").agg(F.count("*").alias("__n"))
        ok_ids = sizes.filter(F.col("__n") >= k).select("query_id")
        starved = q.join(F.broadcast(ok_ids), "query_id", "left_anti")

        vecs = fbase.select(id_col, vec_col)
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
        scored = (
            cand.join(F.broadcast(ok_ids), "query_id")
            .join(vecs, id_col)
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id",
                F.col(id_col),
                _rounded(
                    _score(metric, F.col(vec_col), F.col("__qvec")), round_to
                ).alias("score"),
            )
        )
        topk = scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
        fb = brute_force_fallback(
            vecs, starved, k, metric, id_col, vec_col, round_to
        )
        return topk.unionByName(fb)


class SignLSHIndex(AnnIndex):
    """Random-hyperplane LSH behind the contract (operators/lsh.py)."""

    name = "sign_lsh"

    def __init__(self, lsh, probes: int = 1):
        self.lsh = lsh
        self.probes = probes

    def build_df(self, base, id_col="id", vec_col="embedding",
                 metric="cosine"):
        return self.lsh.with_buckets(base, vec_col)

    def candidates(self, built, base, queries, k, id_col="id",
                   vec_col="embedding", query_id_col="query_id",
                   query_vec_col="embedding", metric="cosine"):
        # hyperplane buckets are cosine-family by construction; `metric`
        # only affects the shared exact re-score
        qp = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(
                self.lsh.probe_col(F.col(query_vec_col), self.probes)
            ).alias("bucket"),
        )
        return (
            built.select(F.col(id_col), "bucket")
            .join(F.broadcast(qp), "bucket")
            .select("query_id", id_col)
            .distinct()
        )


class CrossPolytopeIndex(AnnIndex):
    """Cross-polytope LSH behind the contract (operators/cplsh.py)."""

    name = "cp_lsh"

    def __init__(self, cp, probes: int = 1):
        self.cp = cp
        self.probes = probes

    def build_df(self, base, id_col="id", vec_col="embedding",
                 metric="cosine"):
        return self.cp.with_buckets(base, vec_col)

    def candidates(self, built, base, queries, k, id_col="id",
                   vec_col="embedding", query_id_col="query_id",
                   query_vec_col="embedding", metric="cosine"):
        # cross-polytope buckets are cosine-family by construction;
        # `metric` only affects the shared exact re-score
        spark = queries.sparkSession
        if self.probes <= 1:
            qp = queries.select(
                F.col(query_id_col).alias("query_id"),
                F.posexplode(
                    self.cp.buckets_udf(spark)(F.col(query_vec_col))
                ).alias("__tbl", "bucket"),
            )
        else:
            qp = (
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    F.posexplode(
                        self.cp.probes_udf(self.probes, spark)(
                            F.col(query_vec_col)
                        )
                    ).alias("__tbl", "__pb"),
                )
                .select("query_id", "__tbl", F.explode("__pb").alias("bucket"))
            )
        return (
            built.select(F.col(id_col), "__tbl", "bucket")
            .join(F.broadcast(qp), ["__tbl", "bucket"])
            .select("query_id", id_col)
            .distinct()
        )


class IVFIndex(AnnIndex):
    """IVF coarse quantizer behind the contract (operators/ivf.py).
    ``build_df`` fits the quantizer when needed; ``candidates`` selects
    n_probe cells per query (query batch collected driver-side —
    contract-small, same as ivf.query_batch) and partition-prunes the
    built layout to them."""

    name = "ivf"

    def __init__(self, ivf):
        self.ivf = ivf

    def build_df(self, base, id_col="id", vec_col="embedding",
                 metric="cosine"):
        # cells are L2-Voronoi regardless of the re-score metric (IVF
        # module docstring)
        if self.ivf.centroids is None:
            self.ivf.fit(base, id_col=id_col, vec_col=vec_col)
        return self.ivf.with_lists(base, vec_col)

    def candidates(self, built, base, queries, k, id_col="id",
                   vec_col="embedding", query_id_col="query_id",
                   query_vec_col="embedding", metric="cosine"):
        # probe selection is L2-to-centroid by IVF design for every
        # re-score metric (module docstring of operators/ivf.py)
        spark = queries.sparkSession
        qrows = queries.select(query_id_col, query_vec_col).collect()
        pairs = [
            (r[0], p) for r in qrows for p in self.ivf._probes_of(r[1])
        ]
        qtype = queries.schema[query_id_col].dataType.simpleString()
        from kowari_spark.fsutil import local_df

        probe_df = local_df(
            spark, pairs, f"query_id {qtype}, list_id int"
        )
        probed = sorted({p for _, p in pairs})
        return (
            built.filter(F.col("list_id").isin(probed))
            .join(F.broadcast(probe_df), "list_id")
            .select("query_id", id_col)
            .distinct()
        )


class PQIndex(AnnIndex):
    """Product quantizer behind the contract (operators/pq.py).
    ``candidates`` takes each query's ADC top-(rerank*k) over the
    compressed codes relation — the classic PQ serving shape (Jegou et
    al. 2011: ADC shortlist, exact re-rank) — and the shared search
    re-scores the shortlist exactly under the caller's metric. The
    shortlist scan never touches raw vectors; only the rerank*k
    surviving ids join back to the vector table. ADC is squared-L2 on
    the codes; for cosine-family re-scores the shortlist is
    metric-mismatched the same way IVF's L2 probe selection is
    (documented there) — ``rerank`` widens the shortlist to absorb it."""

    name = "pq"

    def __init__(self, pq, rerank: int = 8):
        self.pq = pq
        self.rerank = rerank

    def build_df(self, base, id_col="id", vec_col="embedding",
                 metric="cosine"):
        # codebooks are L2-Voronoi per subspace regardless of the
        # re-score metric (operators/pq.py module docstring)
        if self.pq.codebooks is None:
            self.pq.fit(base, id_col=id_col, vec_col=vec_col)
        return self.pq.with_codes(base, vec_col).select(id_col, "codes")

    def candidates(self, built, base, queries, k, id_col="id",
                   vec_col="embedding", query_id_col="query_id",
                   query_vec_col="embedding", metric="cosine"):
        shortlist = self.pq.query_batch(
            built, queries, max(k * self.rerank, k), id_col=id_col,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        )
        # rank is unique per (query, id) — already deduplicated
        return shortlist.select("query_id", id_col)


class IVFPQIndex(AnnIndex):
    """IVF×PQ composed index behind the contract (operators/ivfpq.py):
    ``candidates`` takes each query's pruned-ADC top-(rerank*k) — cell
    pruning from IVF, compressed ADC scoring from PQ — and the shared
    search re-scores the shortlist exactly under the caller's metric,
    with starvation fallback and ``where=`` filtering inherited. The
    shortlist scan reads only the probed cells' code partitions. Like
    flat PQIndex, the ADC shortlist is squared-L2; ``rerank`` widens it
    to absorb metric mismatch for cosine-family re-scores."""

    name = "ivfpq"

    def __init__(self, ivfpq, rerank: int = 8):
        self.ivfpq = ivfpq
        self.rerank = rerank

    def build_df(self, base, id_col="id", vec_col="embedding",
                 metric="cosine"):
        # cells and codebooks are L2-Voronoi regardless of the re-score
        # metric (ivf.py / pq.py module docstrings)
        self.ivfpq.fit(base, id_col=id_col, vec_col=vec_col)
        return self.ivfpq.with_cells_codes(base, vec_col).select(
            id_col, "list_id", "codes"
        )

    def candidates(self, built, base, queries, k, id_col="id",
                   vec_col="embedding", query_id_col="query_id",
                   query_vec_col="embedding", metric="cosine"):
        shortlist = self.ivfpq.query_batch(
            built, queries, max(k * self.rerank, k), id_col=id_col,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        )
        # rank is unique per (query, id) — already deduplicated
        return shortlist.select("query_id", id_col)


class HNSWIndex(AnnIndex):
    """HNSW graph behind the contract (operators/hnsw.py). The
    candidate set is the beam-search visited set (ef wide), which the
    shared path then re-scores exactly — identical ranking to
    hnsw.query_batch because that, too, ends in an exact rank of the
    visited set."""

    name = "hnsw"

    def __init__(self, hnsw, hops: int = 4, entry_budget: int = 2048,
                 dim: int | None = None):
        self.hnsw = hnsw
        self.hops = hops
        self.entry_budget = entry_budget
        # vector dimension, when the caller knows it (a Collection
        # always does) — skips the first() inference job in build
        self.dim = dim

    def build_df(self, base, id_col="id", vec_col="embedding",
                 metric="cosine"):
        # edges are the M nearest UNDER THE SEARCH METRIC — a cosine
        # graph navigated for l2 queries visits the wrong neighborhood
        return self.hnsw.build(base, id_col=id_col, vec_col=vec_col,
                               metric=metric, dim=self.dim)

    def candidates(self, built, base, queries, k, id_col="id",
                   vec_col="embedding", query_id_col="query_id",
                   query_vec_col="embedding", metric="cosine"):
        # the graph is NAVIGATED with the caller's metric — a cosine
        # walk over an l2 search would visit the wrong neighborhood
        visited = self.hnsw.query_batch(
            base, built, queries, max(k, self.hnsw.ef), metric=metric,
            id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
            hops=self.hops, entry_budget=self.entry_budget,
        )
        return visited.select("query_id", id_col)
