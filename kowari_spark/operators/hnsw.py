"""HNSW-style layered graph index — offline Spark build, batch query.

Semantics parity (SURVEY.md §2.3 Q5/Q6): the reference builds a simplified
HNSW — geometric random levels (p=0.5, src/index.rs:218-225), each new
node connected to prior nodes at shared levels and pruned to the M
closest by cosine distance (:231-282); queries greedily descend levels
then run an ef-bounded BFS at level 0 (:284-355).

The reference build is inherently sequential (every insert mutates the
global graph). A faithful distributed re-implementation is a research
problem (SURVEY.md §7.2), so this engine builds the *batch equivalent*:
per level L, the layer is {nodes with level >= L} and its edges are each
node's M (approximate) nearest neighbors within the layer. Quality is
validated by recall against brute force, not graph isomorphism.

A graph of at most ``HNSW.BUILD_MAX_NODES`` nodes (measured break-even,
inside the driver beam's ``HNSW.BEAM_MAX_NODES``) is built in memory on
the driver by the same algorithm with the same arithmetic, so its edge
set is identical to the distributed build's (``HNSW.build`` states the
rule and its fall-through). Every other graph is built WITHOUT any
driver-side collect, in one declarative plan covering every level at
once:

1. each node explodes into rows for levels 0..node_level, so a single
   (level, table, bucket) grouping builds all layers together;
2. candidate pairs come from a multi-table sign-LSH OR-construction
   (same machinery as dedup.embedding_near_dups_lsh) — pairs only form
   inside buckets, never the n² cross product;
3. pairs score INSIDE their bucket — one numpy GEMM per bucket group
   via applyInPandas for the four built-in metrics (candidate scoring
   is the dominant build cost and a per-pair fold never enters
   whole-stage codegen); a custom ``register_metric`` metric has no
   numpy form and scores through native JVM expressions — with an
   exact per-(bucket, src) top-m pushdown so only skinny rows reach
   the global per-(level, src) top-M window;
4. ``refine_rounds`` rounds of NN-descent (candidates = neighbors of
   neighbors over forward ∪ reverse edges, re-scored, re-pruned) repair
   LSH misses — the standard distributed kNN-graph refinement;
5. nodes the LSH missed entirely are patched with an edge to the entry
   point so every node has out-degree ≥ 1.

At 100 TB the shuffles are keyed by (level, bucket) and (level, src) —
bucket width is tuned by ``num_planes`` (2^p buckets; size p so a
bucket holds ~100-1000 vectors), and no stage ever materializes a
layer on one node.

A row whose vector is null, or is not the graph's dimension long
(``dim`` when given, else the first non-null vector's length), is not a
graph node in either build: no edge leaves or reaches it.

Levels are assigned DETERMINISTICALLY (geometric via a seeded hash, same
distribution as the reference's coin flips) so builds are reproducible —
the reference uses unseeded thread_rng (SURVEY.md §7.2).

Online single-query serving sits outside Spark's lane (BASELINE.json
spark_approach); the batch query here evaluates query *sets* through the
graph with frontier-expansion joins (broadcast frontier × graph table),
each hop bounded by ef.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kowari_spark.fsutil import collect_vectors, fits_driver, infer_dim
from kowari_spark.functions.vector import _BUILTIN_METRICS
from kowari_spark.operators.topk import _score, _rounded


def assign_levels(
    df: DataFrame, id_col: str = "id", seed: int = 42, max_level: int = 16
) -> DataFrame:
    """Geometric(p=0.5) level per node, deterministic in (id, seed).

    u = uniform hash of id in (0,1]; level = floor(-log2(u)) capped.
    Matches the reference's coin-flip distribution (src/index.rs:218-225).
    """
    u = (
        F.conv(F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"#{seed}"))), 1, 13), 16, 10)
        .cast("double")
        / F.lit(float(16**13))
    )
    # guard u=0; floor(-log2(u)) is the geometric level
    lvl = F.floor(-F.log2(F.greatest(u, F.lit(1e-15))))
    return df.withColumn("node_level", F.least(lvl, F.lit(max_level)).cast("int"))


def _stable_topk(A, k: int):
    """``np.argsort(A, axis=1, kind="stable")[:, :k]`` without sorting
    whole rows: a partition finds each row's k-th smallest value, and
    only the entries at or below it are ordered by (value, column).
    Rows holding NaN take the full sort (NaN orders last there)."""
    import numpy as np

    rows, width = A.shape
    if k <= 0 or k >= width or np.isnan(A).any():
        return np.argsort(A, axis=1, kind="stable")[:, :k]
    kth = np.partition(A, k - 1, axis=1)[:, k - 1:k]
    r, c = np.nonzero(A <= kth)  # >= k per row; row-major
    o = np.lexsort((c, A[r, c], r))
    r, c = r[o], c[o]
    rank = np.arange(len(r)) - np.searchsorted(r, r)
    return c[rank < k].reshape(rows, k)


class HNSW:
    """Offline-built layered neighbor graph (reference defaults M=16,
    ef=32, src/index.rs:364-368)."""

    def __init__(self, m: int = 16, ef: int = 32, seed: int = 42,
                 max_level: int = 16, num_planes: int = 4,
                 num_tables: int = 6, refine_rounds: int = 1):
        self.m = m
        self.ef = ef
        self.seed = seed
        # levels are capped (the reference caps too, src/index.rs:218-225)
        self.max_level = max_level
        # candidate-generation knobs: 2^num_planes buckets per table,
        # num_tables independent tables OR-ed together. Size num_planes
        # to the corpus (p ≈ log2(n / target_bucket_size)); more tables
        # = higher build recall at linear candidate cost.
        self.num_planes = num_planes
        self.num_tables = num_tables
        self.refine_rounds = refine_rounds
        # pair scoring follows the metric, not an option: the four
        # built-in metrics score each candidate group with one numpy
        # GEMM (in memory up to BUILD_MAX_NODES, inside applyInPandas
        # above it) — candidate scoring is the whole build cost at scale
        # (~n·bucket·T pairs, and a higher-order-function fold per pair
        # never enters whole-stage codegen), the same "built-ins
        # genuinely can't express it" boundary CP-LSH hashing sits
        # behind. A custom ``register_metric`` metric has no numpy form
        # and takes the pure-JVM native-expression plan. GEMM and fold
        # scores agree to ulp; only score-tied edge choices could differ
        # between the two plans, and each is deterministic run-to-run.

    #: ``build`` runs in memory only up to this many nodes (and within
    #: the beam's node bound). Measured on 64-d vectors at local[4]
    #: (4 cores), in-memory vs distributed wall time: the library
    #: defaults win 18.6 vs 57.4 s at 10k nodes, 42.0 vs 110.7 s at 20k
    #: and 112.5 vs 212.8 s at 40k; the cheapest build (num_tables=2,
    #: refine_rounds=0) wins 5.7 vs 8.9 s at 10k and 10.8 vs 11.5 s at
    #: 20k but loses 26.9 vs 19.3 s at 40k, where the driver's serial
    #: kernel calls fall behind four executor cores. More executor
    #: cores move the break-even lower.
    BUILD_MAX_NODES = 20000

    # -- build -------------------------------------------------------------

    @staticmethod
    def _graph_nodes(df: DataFrame, id_col: str, vec_col: str,
                     dim: int) -> DataFrame:
        """The rows that are graph nodes: a null vector, or one that is
        not ``dim`` long, gets no edge from or to it in any plan."""
        v = F.col(vec_col)
        return df.select(id_col, vec_col).filter(
            v.isNotNull() & (F.size(v) == F.lit(dim))
        )

    def _exploded_levels(self, leveled: DataFrame, id_col: str,
                         vec_col: str) -> DataFrame:
        """One row per (node, level in 0..node_level), with ``leveled``'s
        other columns: a single bucket grouping over this relation
        builds every layer's graph at once."""
        return leveled.select(
            F.col(id_col).alias("__vid"),
            F.col(vec_col).alias("__v"),
            *[c for c in leveled.columns
              if c not in (id_col, vec_col, "node_level")],
            F.explode(F.sequence(F.lit(0), F.col("node_level"))).alias("level"),
        )

    def candidate_graph(
        self,
        df: DataFrame,
        id_col: str = "id",
        vec_col: str = "embedding",
        metric: str = "cosine",
        dim: int | None = None,
    ) -> DataFrame:
        """First-round edge set as ONE un-materialized declarative plan.

        Shape (either scoring): LSH (level, table, bucket) grouping →
        score pairs INSIDE their bucket (map-side; no pair ever
        shuffles carrying vectors) → per-(bucket, src) top-m pushdown —
        EXACT, because any edge in a src's global top-M beats all but
        <M candidates overall, hence all but <M within any one bucket —
        → skinny (level, src, dst, score) dedupe across tables →
        per-(level, src) top-M window. At bucket width b the pair count
        is ~n·b·T; the pushdown means only n·T·m skinny rows reach the
        global shuffle (the round-5 shape shuffled the full pair
        relation through a distinct and two vector-attach joins).

        Scoring follows the metric (see ``__init__``): a built-in
        metric computes each bucket's score matrix as one numpy GEMM
        inside ``applyInPandas`` (measured ~10x the expression fold on
        the 20k/200k-row scale benches); a custom registered metric
        scores in native JVM expressions. Either way the buckets come
        from the sign-LSH kernel, one Arrow batch GEMM.

        Only graph nodes take part (``_graph_nodes``). Pass ``dim`` when
        the caller knows the vector dimension (a Collection always
        does) — the ``fsutil.infer_dim`` fallback costs one Spark job per
        build (ADVICE r5, same pattern as dedup)."""
        from kowari_spark.operators.lsh import MultiSignLSH

        if dim is None:
            dim = infer_dim(df, vec_col)
        leveled = assign_levels(self._graph_nodes(df, id_col, vec_col, dim),
                                id_col, self.seed, self.max_level)
        # a node's buckets do not depend on its level: hash once per
        # node, before the level explode
        buckets = MultiSignLSH(dim, self.num_planes, self.num_tables,
                               self.seed).bucket_col(vec_col)
        hashed = leveled.select(id_col, vec_col, "node_level",
                                F.posexplode(buckets).alias("__tbl", "__bkt"))
        bucketed = self._exploded_levels(hashed, id_col, vec_col).select(
            "level", "__vid", "__v", "__tbl", "__bkt"
        )

        if metric in _BUILTIN_METRICS:
            per_bucket = self._bucket_topm_gemm(bucketed, metric)
        else:
            per_bucket = self._bucket_topm_expr(bucketed, metric)

        # a pair colliding in several tables scores identically each
        # time — max() is the distinct() it replaces
        deduped = per_bucket.groupBy("level", "src", "dst").agg(
            F.max("__s").alias("__s")
        )
        w = Window.partitionBy("level", "src").orderBy(F.desc("__s"), F.asc("dst"))
        return (
            deduped.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= self.m)
            .select("src", "dst", "level")
        )

    def _bucket_topm_expr(self, bucketed: DataFrame, metric: str) -> DataFrame:
        """Native-expression bucket scoring: vectors ride one exchange
        into per-bucket member lists (n·T·levels rows, bounded), every
        member pairs with every other member of its list and pairs score
        map-side, and the per-(bucket, src) top-m window needs NO extra
        exchange (its keys are a superset of the grouping keys). One
        grouping instead of a bucket self-join: the relation, and the
        hash kernel under it, is computed once, not once per side."""
        members = bucketed.groupBy("level", "__tbl", "__bkt").agg(
            F.collect_list(F.struct("__vid", "__v")).alias("__m")
        )
        scored = (
            members.select("level", "__tbl", "__bkt", "__m",
                           F.explode("__m").alias("__a"))
            .select("level", "__tbl", "__bkt", "__a",
                    F.explode("__m").alias("__b"))
            .filter(F.col("__a.__vid") != F.col("__b.__vid"))
            .select(
                "level", "__tbl", "__bkt",
                F.col("__a.__vid").alias("src"),
                F.col("__b.__vid").alias("dst"),
                _score(metric, F.col("__b.__v"), F.col("__a.__v")).alias("__s"),
            )
        )
        wb = Window.partitionBy("level", "__tbl", "__bkt", "src").orderBy(
            F.desc("__s"), F.asc("dst")
        )
        return (
            scored.withColumn("__rn", F.row_number().over(wb))
            .filter(F.col("__rn") <= self.m)
            .select("level", "src", "dst", "__s")
        )

    def _pair_topm(self, V, metric: str):
        """Score every ordered pair of the rows of ``V`` (one group,
        rows in id order) and keep each row's top-m — the shared kernel
        of the bucket scorer (groups = (level, table, bucket)), the GEMM
        refine (groups = (level, common-neighbor)) and the in-memory
        build. Returns (row, col, score) arrays, row-major. Per-row
        reductions only, so scores are independent of grouping and
        Arrow batching — the same pair scores identically in every
        group that contains it, which is what lets the downstream
        groupBy(level, src, dst).max dedupe across groups."""
        import numpy as np

        n, d = V.shape
        k = min(self.m, n - 1)
        if metric == "cosine":
            norms = np.linalg.norm(V, axis=1, keepdims=True)
            zero = (norms == 0.0).ravel()
            norms[norms == 0.0] = 1.0
            Vn = V / norms
        if metric == "manhattan":
            # the |diff| broadcast temp is (chunk, b, d) — budget it
            chunk = max(1, min(1024, (1 << 24) // max(n * d, 1)))
        else:
            chunk = max(1, min(1024, (1 << 22) // max(n, 1)))
        out_r, out_c, out_s = [], [], []
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            if metric == "cosine":
                S = Vn[lo:hi] @ Vn.T
                # zero-norm rows score 0.0 (reference utils.rs:9-13)
                if zero.any():
                    S[:, zero] = 0.0
                    S[zero[lo:hi], :] = 0.0
            elif metric == "dot":
                S = V[lo:hi] @ V.T
            elif metric == "euclidean":
                d2 = (
                    np.sum(V[lo:hi] * V[lo:hi], axis=1)[:, None]
                    + np.sum(V * V, axis=1)[None, :]
                    - 2.0 * (V[lo:hi] @ V.T)
                )
                S = -np.sqrt(np.maximum(d2, 0.0))
            else:  # manhattan
                S = -np.abs(V[lo:hi, None, :] - V[None, :, :]).sum(axis=2)
            # vectorized top-k selection: self-score -> -inf, stable
            # order over id-ordered columns == (-score, id) ranking,
            # then drop non-finite picks (self, NaN-poisoned)
            rows = np.arange(lo, hi)
            S[rows - lo, rows] = -np.inf
            order = _stable_topk(-S, k)
            picked = S[np.arange(hi - lo)[:, None], order]
            r, c = np.nonzero(np.isfinite(picked))
            out_r.append(r + lo)
            out_c.append(order[r, c])
            out_s.append(picked[r, c])
        return (np.concatenate(out_r), np.concatenate(out_c),
                np.concatenate(out_s))

    def _group_topm_fn(self, metric: str, id_type: str):
        """(pandas fn, output schema) running ``_pair_topm`` over one
        ``applyInPandas`` group. The group's rows must carry ``level``,
        ``__vid`` and ``__v``; extra group-key columns are ignored."""
        import numpy as np
        import pandas as pd

        out_schema = f"level int, src {id_type}, dst {id_type}, __s double"

        def group_topm(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) < 2:
                return pd.DataFrame(
                    {"level": [], "src": [], "dst": [], "__s": []}
                )
            level = int(pdf["level"].iloc[0])
            # id-ascending row order: the stable argsort then breaks
            # exact score ties by POSITION = by id, the (-score, id)
            # ordering of the windows downstream. Scores are
            # position-independent (same vectors, same BLAS reduction),
            # so this only fixes the tie-break frame.
            pdf = pdf.sort_values("__vid", kind="mergesort")
            ids = pdf["__vid"].to_numpy()
            V = np.asarray(list(pdf["__v"]), dtype=np.float64)  # (b, d)
            r, c, s = self._pair_topm(V, metric)
            return pd.DataFrame(
                {"level": level, "src": ids[r], "dst": ids[c], "__s": s}
            )

        return group_topm, out_schema

    def _bucket_topm_gemm(self, bucketed: DataFrame, metric: str) -> DataFrame:
        """Bucket-local GEMM scoring: one ``applyInPandas`` group per
        (level, table, bucket) computes the group's score matrix with
        numpy, row-chunked so the SCORE matrix is O(chunk·b). The
        group's vectors themselves (O(b·d)) must fit in one worker —
        that is the standing LSH sizing rule (num_planes ≈
        log2(n / target_bucket_size), module docstring), not a new
        constraint of this scorer."""
        fn, out_schema = self._group_topm_fn(
            metric, bucketed.schema["__vid"].dataType.simpleString()
        )
        # explicit partition count: AQE coalesces the pre-applyInPandas
        # exchange by BYTES, but group cost here is GEMM compute —
        # measured: the sf0.1 bucket-scoring stage coalesced to 4 tasks
        # (~1.8 s serial) for 100+ groups. repartition(n, keys) hashes
        # each group to exactly one task at any n, satisfies the
        # grouping distribution (no second exchange), and
        # REPARTITION_BY_NUM is exempt from AQE coalescing — the
        # write_parallelism rule applied to compute (guide §2.2/§2.5).
        from kowari_spark.fsutil import write_parallelism

        bucketed = bucketed.repartition(
            write_parallelism(bucketed), "level", "__tbl", "__bkt"
        )
        return bucketed.groupBy("level", "__tbl", "__bkt").applyInPandas(
            fn, out_schema
        )

    def _top_m(self, cand: DataFrame, vecs: DataFrame, metric: str) -> DataFrame:
        """Score candidate (level, src, dst) pairs and keep the M best
        per (level, src). Pure column expressions — no Python eval."""
        scored = (
            cand.join(vecs.select(F.col("__vid").alias("src"),
                                  F.col("__v").alias("__sv")), "src")
            .join(vecs.select(F.col("__vid").alias("dst"),
                              F.col("__v").alias("__dv")), "dst")
            .select(
                "level", "src", "dst",
                _score(metric, "__dv", "__sv").alias("__s"),
            )
        )
        w = Window.partitionBy("level", "src").orderBy(F.desc("__s"), F.asc("dst"))
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= self.m)
            .select("src", "dst", "level")
        )

    def _refine_topm_gemm(self, edges: DataFrame, vecs: DataFrame,
                          metric: str) -> DataFrame:
        """One NN-descent round with group-local GEMM scoring.

        The expression path materializes the two-hop pair relation
        (~n·M² rows per level) and attaches BOTH vectors to it through
        two joins — at x1000 of the scale bench that intermediate is
        hundreds of GB of wide shuffle (it filled the local disk). Here
        the same candidate set scores inside its common-neighbor group:
        every two-hop pair (u, w) shares some mid with u, w ∈
        nbh(mid), so grouping the UNDIRECTED adjacency by (level, mid)
        and scoring all ordered member pairs per group — one numpy GEMM
        each, exact per-(group, src) top-m pushdown (any global top-M
        edge of src beats all but <M candidates overall, hence all but
        <M inside any one group) — reproduces exactly the candidates of
        ``edges ∪ two_hop``; the 1-hop edges themselves (a skinny n·M
        relation) score through the native-expression joins and merge
        before the global window. Only skinny (level, src, dst, score)
        rows ever shuffle; the wide rows are the once-shuffled
        (member, vector) attachment, n·2M·d not n·M²·d."""
        nb = edges.select("level", "src", "dst").unionByName(
            edges.select("level", F.col("dst").alias("src"),
                         F.col("src").alias("dst"))
        )
        members = (
            nb.select("level", F.col("src").alias("__mid"),
                      F.col("dst").alias("__vid"))
            .distinct()  # forward ∪ reverse can list a member twice
            .join(vecs, "__vid")
        )
        fn, out_schema = self._group_topm_fn(
            metric, edges.schema["src"].dataType.simpleString()
        )
        # same explicit-count rule as _bucket_topm_gemm: GEMM group
        # cost is invisible to AQE's byte-based coalescing
        from kowari_spark.fsutil import write_parallelism

        members = members.repartition(
            write_parallelism(members), "level", "__mid"
        )
        grouped = members.groupBy("level", "__mid").applyInPandas(fn, out_schema)
        edge_scored = (
            edges.join(vecs.select(F.col("__vid").alias("src"),
                                   F.col("__v").alias("__sv")), "src")
            .join(vecs.select(F.col("__vid").alias("dst"),
                              F.col("__v").alias("__dv")), "dst")
            .select(
                "level", "src", "dst",
                _score(metric, "__dv", "__sv").alias("__s"),
            )
        )
        deduped = grouped.unionByName(edge_scored).groupBy(
            "level", "src", "dst"
        ).agg(F.max("__s").alias("__s"))
        w = Window.partitionBy("level", "src").orderBy(F.desc("__s"), F.asc("dst"))
        return (
            deduped.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= self.m)
            .select("src", "dst", "level")
        )

    # -- bounded in-memory build --------------------------------------------

    def _top_m_local(self, key, s, n: int):
        """numpy twin of the distributed tail over edges encoded as
        ``key = (level·n + src)·n + dst``: the ``groupBy(level, src,
        dst).max`` dedupe, then the M best per (level, src) ordered by
        (-score, dst). Node positions are id-ordered (see
        ``_build_in_memory``), so position order IS id order."""
        import numpy as np

        order = np.argsort(key, kind="stable")
        key, s = key[order], s[order]
        first = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
        key, s = key[first], np.maximum.reduceat(s, first)
        # stable: score ties keep the key order, i.e. ascending dst
        order = np.lexsort((-s, key // n))
        key = key[order]
        grp = key // n
        pos = np.arange(len(key))
        start = np.r_[True, grp[1:] != grp[:-1]]
        rank = pos - np.maximum.accumulate(np.where(start, pos, 0))
        return key[rank < self.m]

    def _collect_bounded_nodes(self, df: DataFrame, id_col: str,
                               vec_col: str, max_nodes: int,
                               graph: bool = False, dim: int | None = None):
        """(ids, V, levels) of ``df``'s nodes in collect order, with
        their ``assign_levels`` level, through ``fsutil.collect_vectors``
        — the bounded collect and row gate of every driver-side path.
        With ``graph`` (the build), rows that are not graph nodes are
        dropped first, as ``_graph_nodes`` drops them."""
        import numpy as np

        got = collect_vectors(
            assign_levels(df.select(id_col, vec_col), id_col, self.seed,
                          self.max_level),
            max_nodes, drop=graph, dim=dim,
        )
        if got is None:
            return None
        rows, V = got
        levels = np.asarray([r[2] for r in rows], dtype=np.int64)
        return [r[0] for r in rows], V, levels

    def _build_in_memory(self, df: DataFrame, id_col: str, vec_col: str,
                         metric: str, dim: int | None,
                         max_nodes: int) -> DataFrame | None:
        """The GEMM build on the driver, over the graph nodes
        ``_collect_bounded_nodes`` returns for at most ``max_nodes``
        rows. Returns None — the caller then runs the distributed plan
        — when that collect does, and for the other input the
        distributed plan may treat differently: duplicate or
        non-integral/non-string ids, or a score that overflows to NaN.

        Every step repeats one statement of the distributed plan with
        the same arithmetic, so the edge set is identical (pinned by
        tests/test_hnsw.py::test_build_in_memory_parity): sign-LSH
        buckets come from ``MultiSignLSH.buckets``, the kernel the
        plan's ``bucket_col`` runs per batch; pair scores come from the same
        ``_pair_topm`` kernel, called once per (level, table, bucket)
        group and, in each refine round, once per (level, mid) group;
        refine 1-hop edges score through the ``similarity_expr`` fold;
        dedupe, top-M, entry point and isolated-node patch follow
        ``build`` step by step."""
        import numpy as np
        from pyspark.sql import types as T

        from kowari_spark.fsutil import local_df
        from kowari_spark.operators.lsh import MultiSignLSH

        id_type = df.schema[id_col].dataType
        if not isinstance(id_type, (T.IntegralType, T.StringType)):
            return None  # only these order identically in Python and Spark
        nodes = self._collect_bounded_nodes(df, id_col, vec_col, max_nodes,
                                            graph=True, dim=dim)
        if nodes is None:
            return None
        ids, V, levels = nodes
        n, width = V.shape
        if len(set(ids)) != n:
            return None
        # node position == id rank: every id tie-break of the plan
        # becomes a position tie-break
        order = sorted(range(n), key=ids.__getitem__)
        ids = [ids[i] for i in order]
        V, levels = V[order], levels[order]
        top = int(levels.max())

        def fold(term):
            # aggregate(..., 0.0D, (acc, x) -> acc + x): left to right
            acc = 0.0
            for j in range(width):
                acc = acc + term(j)
            return acc

        keys, scores = [], []

        def score_group(level: int, members: np.ndarray) -> None:
            if len(members) >= 2:
                r, c, s = self._pair_topm(V[members], metric)
                keys.append((level * n + members[r]) * n + members[c])
                scores.append(s)

        def merged():
            if not keys:
                return np.empty(0, dtype=np.int64)
            key = self._top_m_local(np.concatenate(keys),
                                    np.concatenate(scores), n)
            keys.clear()
            scores.clear()
            return key

        # candidate pass: one kernel call per (level, table, bucket)
        buckets = MultiSignLSH(width, self.num_planes, self.num_tables,
                               self.seed).buckets(V)
        for bucket in buckets.T:
            for level in range(top + 1):
                layer = np.flatnonzero(levels >= level)
                for b in np.unique(bucket[layer]):
                    score_group(level, layer[bucket[layer] == b])
        edges = merged()

        # connectivity patch (see build): isolated members link to the
        # entry point; an isolated entry point links to the smallest
        # other member of its layer
        ep = int(np.flatnonzero(levels == top)[0])
        patch = []
        for level in range(top + 1):
            layer = np.flatnonzero(levels >= level)
            linked = edges[edges // (n * n) == level] // n % n
            for src in np.setdiff1d(layer, linked):
                if src != ep:
                    patch.append((level * n + src) * n + ep)
                elif len(layer) > 1:
                    patch.append((level * n + ep) * n + layer[layer != ep][0])
        edges = np.concatenate([edges, np.asarray(patch, dtype=np.int64)])

        VT = np.ascontiguousarray(V.T)
        if metric == "cosine":
            norm = np.sqrt(fold(lambda j: VT[j] * VT[j]))
        for _ in range(self.refine_rounds):
            if not len(edges):
                break  # no edge, no 2-hop candidate (one-node graph)
            lvl, src, dst = edges // (n * n), edges // n % n, edges % n
            # two-hop candidates: one kernel call per (level, mid) over
            # mid's undirected neighbors, distinct like the plan's
            und = np.unique(np.concatenate([edges, (lvl * n + dst) * n + src]))
            mids = und // n
            bounds = np.flatnonzero(np.diff(mids)) + 1
            for g in np.split(np.arange(len(und)), bounds):
                score_group(int(mids[g[0]] // n), und[g] % n)
            # 1-hop edges: similarity_expr(metric, dst_vec, src_vec),
            # gathered one dimension at a time (O(edges) memory)
            if metric in ("cosine", "dot"):
                s = fold(lambda j: VT[j, dst] * VT[j, src])
            elif metric == "euclidean":
                s = -np.sqrt(
                    fold(lambda j: np.square(VT[j, dst] - VT[j, src]))
                )
            else:  # manhattan
                s = -fold(lambda j: np.abs(VT[j, dst] - VT[j, src]))
            if metric == "cosine":
                na, nb = norm[dst], norm[src]
                zero = (na == 0.0) | (nb == 0.0)
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = np.where(zero, 0.0, s / (na * nb))
            if not np.isfinite(s).all():
                return None  # Spark orders NaN first; numpy does not
            keys.append(edges)
            scores.append(s)
            edges = merged()

        out = [
            (ids[e // n % n], ids[e % n], e // (n * n))
            for e in edges.tolist()
        ]
        schema = T.StructType([
            T.StructField("src", id_type),
            T.StructField("dst", id_type),
            T.StructField("level", T.IntegerType()),
        ])
        return local_df(df.sparkSession, out, schema)

    def build(
        self,
        df: DataFrame,
        id_col: str = "id",
        vec_col: str = "embedding",
        metric: str = "cosine",
        dim: int | None = None,
    ) -> DataFrame:
        """Edges (src, dst, level): per level, each layer member's M
        approximate nearest neighbors within the layer — built by LSH
        candidate generation + NN-descent. Returns the edge DataFrame
        (persist with .write.partitionBy('level').parquet(...) for the
        pruned-probe layout).

        Only graph nodes get edges (``_graph_nodes``). Two executions
        of one algorithm, chosen by a node bound: ``BUILD_MAX_NODES``
        (the measured break-even) capped by the beam's
        ``BEAM_MAX_NODES``:

        - bounded: for a built-in metric, one zero-column size check
          (``fsutil.fits_driver``); when the rows fit, one collect
          of (id, vector, node_level), and ``_build_in_memory`` runs
          the same steps in numpy and returns the identical edge set
          through ``fsutil.local_df`` — two Spark jobs instead of ~16;
        - distributed: every other case — larger graphs, custom
          metrics, input ``_build_in_memory`` declines — runs the one
          declarative plan of the module docstring, with no
          driver-side collect of any layer."""
        gemm = metric in _BUILTIN_METRICS
        max_nodes = min(self.BEAM_MAX_NODES, self.BUILD_MAX_NODES)
        # vectors are collected only for a graph that fits
        if gemm and fits_driver(df, max_nodes):
            edges = self._build_in_memory(df, id_col, vec_col, metric,
                                          dim, max_nodes)
            if edges is not None:
                return edges

        if dim is None:
            dim = infer_dim(df, vec_col)
        df = self._graph_nodes(df, id_col, vec_col, dim)
        leveled = assign_levels(df, id_col, self.seed, self.max_level)
        exploded = self._exploded_levels(leveled, id_col, vec_col)
        vecs = exploded.filter(F.col("level") == 0).select("__vid", "__v")
        # lazy checkpoints through the build: lineage truncates per
        # stage, but the only blocking actions are the entry-point
        # lookup and the final eager materialization
        edges = self.candidate_graph(
            df, id_col, vec_col, metric, dim=dim
        ).localCheckpoint(eager=False)

        # connectivity patch BEFORE refinement: a node alone in all its
        # buckets has no out-edges; link it to the entry point so the
        # NN-descent rounds below integrate it (its 2-hop candidates via
        # the entry point are real neighbors, and top-M pruning never
        # drops a src's last edge — every src keeps >= 1 edge). The
        # entry point itself gets the same guarantee: when IT is the
        # node the buckets isolated, it links to the smallest other
        # member of the layer (singleton layers have nothing to link to
        # and legitimately stay edgeless).
        entry = self.entry_point(leveled, id_col)
        if entry is None:  # no row is a graph node: an empty graph
            return edges.select("src", "dst", "level").localCheckpoint()
        ep_id = entry[0]
        missing = exploded.select("level", F.col("__vid").alias("src")).join(
            edges.select("level", "src").distinct(), ["level", "src"],
            "left_anti",
        )
        patched = missing.filter(F.col("src") != F.lit(ep_id)).select(
            "level", "src", F.lit(ep_id).alias("dst")
        )
        alt = (
            exploded.filter(F.col("__vid") != F.lit(ep_id))
            .groupBy("level")
            .agg(F.min("__vid").alias("__alt"))
        )
        patched_ep = (
            missing.filter(F.col("src") == F.lit(ep_id))
            .join(alt, "level")  # inner: drops singleton layers
            .select("level", "src", F.col("__alt").alias("dst"))
        )
        edges = edges.select("level", "src", "dst").unionByName(
            patched
        ).unionByName(patched_ep)

        for _ in range(self.refine_rounds):
            # NN-descent: candidates = 2-hop neighbors over the
            # UNDIRECTED edge set (forward ∪ reverse), re-scored and
            # re-pruned; repairs pairs the LSH buckets missed
            if gemm:
                # group-local scoring — identical candidate set, but the
                # n·M² pair relation never shuffles carrying vectors
                # (see _refine_topm_gemm)
                edges = self._refine_topm_gemm(
                    edges, vecs, metric
                ).localCheckpoint(eager=False)
                continue
            nb = edges.select("level", "src", "dst").unionByName(
                edges.select("level", F.col("dst").alias("src"),
                             F.col("src").alias("dst"))
            )
            two_hop = (
                nb.select("level", "src", F.col("dst").alias("__mid"))
                .join(
                    nb.select("level", F.col("src").alias("__mid"), "dst"),
                    ["level", "__mid"],
                )
                .filter(F.col("src") != F.col("dst"))
                .select("level", "src", "dst")
            )
            cand = (
                edges.select("level", "src", "dst")
                .unionByName(two_hop)
                .distinct()
            )
            edges = self._top_m(cand, vecs, metric).localCheckpoint(eager=False)

        # materialize + truncate lineage (executor-side blocks, not a
        # driver collect): downstream query joins replay edges many times
        return edges.select("src", "dst", "level").localCheckpoint()

    # -- query -------------------------------------------------------------

    def entry_point(self, leveled: DataFrame, id_col: str = "id"):
        """(id, node_level) of the smallest id on the top level, or None
        when ``leveled`` has no row."""
        rows = (
            leveled.orderBy(F.desc("node_level"), F.asc(id_col)).limit(1).collect()
        )
        return (rows[0][id_col], rows[0]["node_level"]) if rows else None

    #: driver-beam routing bounds: graphs whose node / edge / query
    #: counts all fit under these run the EXACT same search as a
    #: bounded driver-side fold instead of ~25-30 tiny AQE
    #: materialization jobs (the per-job floor, not the plan, was the
    #: measured cost — VERDICT r15 ask #4). The collect is bounded the
    #: same way the CC union-find bounds its edge collect; any larger
    #: graph takes the distributed path unchanged. ``build`` caps its
    #: in-memory path by the same node bound.
    BEAM_MAX_NODES = 65536
    BEAM_MAX_EDGES = 1 << 20

    def _try_driver_beam(
        self, base, edges, queries, k, metric, id_col, vec_col,
        query_id_col, query_vec_col, hops, round_to, entry_budget,
        max_batch,
    ):
        """Bounded driver-side replica of ``query_batch``'s search.

        Returns None (caller falls through to the distributed plan)
        unless the graph, edge set and query batch ALL fit the beam
        bounds AND the scoring is the rounded numpy-vectorizable kind —
        the same discipline as ``topk._knn_batch_heap`` (numpy float64
        scores under ``round_to`` rounding, re-rounded through
        ``F.round`` on emit) and ``dedup._cc_unionfind`` (bounded
        collect, exact fold). Exact-order parity with the distributed
        search is pinned by tests/test_hnsw.py::
        test_query_batch_driver_beam_parity — every step below mirrors
        one statement of the distributed plan, in order."""
        import hashlib
        import math
        import warnings

        import numpy as np

        if round_to is None or metric not in _BUILTIN_METRICS:
            return None
        max_nodes, max_edges = self.BEAM_MAX_NODES, self.BEAM_MAX_EDGES
        if max_nodes <= 0:
            return None
        q_bound = max_batch or 8192
        q_rows = (
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_vec_col).alias("__qvec"),
            )
            .limit(q_bound + 1)
            .collect()
        )
        if not q_rows or len(q_rows) > q_bound:
            return None
        qids = [r["query_id"] for r in q_rows]
        if len(set(qids)) != len(qids):
            # duplicated query ids share one window partition in the
            # distributed plan; the beam keys per id — don't replicate
            return None
        nodes = self._collect_bounded_nodes(base, id_col, vec_col, max_nodes)
        if nodes is None:
            return None
        e_rows = (
            edges.select("src", "dst", "level").limit(max_edges + 1).collect()
        )
        if len(e_rows) > max_edges:
            return None

        spark = base.sparkSession
        ids, V, levels = nodes
        n = len(ids)
        top_level = int(levels.max())
        idx = {i: j for j, i in enumerate(ids)}
        Q = np.asarray([r["__qvec"] for r in q_rows], dtype=np.float64)
        nq = len(qids)
        if Q.ndim != 2 or V.shape[1] != Q.shape[1]:
            return None  # ragged dims: the distributed fold's zip_with
            # semantics (shorter-array truncation) aren't replicated here
        if not np.isfinite(Q).all():
            return None  # NaN sorts LAST in Python keys but FIRST in
            # Spark's descending double order — don't replicate

        vn = np.linalg.norm(V, axis=1)
        qn = np.linalg.norm(Q, axis=1)

        def score(qi: int, node_idx: np.ndarray) -> np.ndarray:
            """similarity_expr twin over float64, rounded like _rounded
            (np.round + 0.0; the emit below re-applies F.round exactly
            as _knn_batch_heap does)."""
            sub = V[node_idx]
            if metric == "cosine":
                s = sub @ Q[qi]
                denom = vn[node_idx] * qn[qi]
                zero = (vn[node_idx] == 0.0) | (qn[qi] == 0.0)
                denom = np.where(denom == 0.0, 1.0, denom)
                s = np.where(zero, 0.0, s / denom)
            elif metric == "dot":
                s = sub @ Q[qi]
            elif metric == "euclidean":
                d = sub - Q[qi]
                s = -np.sqrt(np.einsum("ij,ij->i", d, d))
            else:  # manhattan
                s = -np.abs(sub - Q[qi]).sum(axis=1)
            return np.round(s, round_to) + 0.0

        l_cut = max(1, math.ceil(math.log2(max(n / max(entry_budget, 1), 1.0))))
        l_cut = min(l_cut, top_level)

        # exact entry over the >= l_cut layer (flat-graph budget cap
        # mirrors the distributed md5-ordered sample, same hash string)
        layer_idx = np.nonzero(levels >= l_cut)[0]
        if l_cut == 0 and n > entry_budget:
            warnings.warn(
                f"hnsw.query_batch: flat graph (top level 0) with n={n} > "
                f"entry_budget={entry_budget}; capping the exact entry "
                "layer to a hash-ordered sample — entry quality degrades "
                "gracefully, but consider rebuilding with a larger "
                "max_level so upper layers exist",
                RuntimeWarning,
                stacklevel=3,
            )
            salted = sorted(
                range(n),
                key=lambda j: hashlib.md5(
                    f"{ids[j]}#entry{self.seed}".encode()
                ).hexdigest(),
            )
            layer_idx = np.asarray(salted[:entry_budget])

        # per-level adjacency: src id -> [dst ids]
        adj: dict[int, dict] = {}
        for r in e_rows:
            adj.setdefault(r["level"], {}).setdefault(r["src"], []).append(
                r["dst"]
            )

        out_rows = []
        for qi in range(nq):
            ls = score(qi, layer_idx)
            order = sorted(
                range(len(layer_idx)), key=lambda j: (-ls[j], ids[layer_idx[j]])
            )
            best_id = ids[layer_idx[order[0]]]
            best_score = float(ls[order[0]])

            # greedy descent l_cut-1 .. 1: score neighbors of the
            # current best, union the best row, keep top-1
            for level in range(l_cut - 1, 0, -1):
                nbrs = [
                    d for d in adj.get(level, {}).get(best_id, []) if d in idx
                ]
                cand = {best_id: best_score}
                if nbrs:
                    nidx = np.asarray([idx[d] for d in nbrs])
                    ns = score(qi, nidx)
                    for d, s in zip(nbrs, ns):
                        # same (query, id) scored twice scores the same;
                        # max matches the distributed row_number dedup
                        cand[d] = max(cand.get(d, -math.inf), float(s))
                best_id, best_score = min(
                    cand.items(), key=lambda kv: (-kv[1], kv[0])
                )

            # level-0 BFS: ef-bounded frontier, `hops` rounds; visited
            # is clipped to ef each round exactly like the distributed
            # window (visited = nxt)
            lvl0 = adj.get(0, {})
            visited = {best_id: best_score}
            frontier = [best_id]
            for _ in range(hops):
                nbr_ids = []
                seen = set()
                for src in frontier:
                    for d in lvl0.get(src, []):
                        if d in idx and d not in seen:
                            seen.add(d)
                            nbr_ids.append(d)
                merged = dict(visited)
                if nbr_ids:
                    nidx = np.asarray([idx[d] for d in nbr_ids])
                    ns = score(qi, nidx)
                    for d, s in zip(nbr_ids, ns):
                        s = float(s)
                        if d not in merged or s > merged[d]:
                            merged[d] = s
                top = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))
                top = top[: self.ef]
                visited = dict(top)
                frontier = [d for d, _ in top]

            ranked = sorted(visited.items(), key=lambda kv: (-kv[1], kv[0]))
            for rank, (d, s) in enumerate(ranked[:k], start=1):
                out_rows.append((qids[qi], d, s, rank))

        from pyspark.sql import types as T

        from kowari_spark.fsutil import local_df

        out_schema = T.StructType([
            T.StructField("query_id", queries.schema[query_id_col].dataType),
            T.StructField(id_col, base.schema[id_col].dataType),
            T.StructField("score", T.DoubleType()),
            T.StructField("rank", T.IntegerType(), False),
        ])
        out = local_df(spark, out_rows, out_schema)
        # re-round through F.round on emit (identical discipline to
        # _knn_batch_heap: numpy rounds for selection, F.round stamps
        # the emitted value)
        return out.select(
            "query_id",
            F.col(id_col),
            _rounded(F.col("score"), round_to).alias("score"),
            "rank",
        )

    def query_batch(
        self,
        base: DataFrame,
        edges: DataFrame,
        queries: DataFrame,
        k: int,
        metric: str = "cosine",
        id_col: str = "id",
        vec_col: str = "embedding",
        query_id_col: str = "query_id",
        query_vec_col: str = "embedding",
        hops: int = 4,
        round_to: int | None = None,
        entry_budget: int = 2048,
        max_batch: int | None = 8192,
    ) -> DataFrame:
        """Batch graph search: exact scoring of the whole layer at a cut
        level (one plan replaces the per-level greedy walk above it),
        greedy descent through the remaining upper levels, then ``hops``
        rounds of ef-bounded frontier expansion at level 0, then exact
        ranking of everything visited (reference lifecycle:
        src/index.rs:314-355 → final ranking :345-353).

        Upper-level routing exists only to find a good level-0 entry per
        query. Layer L holds ~n/2^L nodes, so pick the smallest L_cut
        whose layer fits ``entry_budget`` and score that WHOLE layer
        against the (broadcast) query set in one distributed pass — the
        exact best entry at L_cut, strictly better than the node a
        greedy walk from the global entry point would reach, without the
        one-blocking-job-per-level cost (~8 sequential barriers on a
        10-level graph; the dominant latency term at local[32]). At
        n=1e11 a capped L_cut=16 layer is ~1.5M rows — still one
        broadcast-join map stage, no shuffle.

        Latency shape (round 5): every intermediate checkpoint is LAZY
        (``localCheckpoint(eager=False)`` — lineage still truncates and
        each round's result is computed once and cached, but no blocking
        driver action fires per hop). The whole descent + BFS then runs
        as ONE Spark job when the final (small, queries x k) result is
        eagerly materialized at the end — 2 driver barriers total
        instead of one per checkpointed round.

        Operating bound, ENFORCED: the per-hop broadcast scales with the
        QUERY BATCH (ef·M·~50 bytes per query — a 10k batch is ~250 MB),
        so batches larger than ``max_batch`` are automatically split
        into sub-batches that probe the same graph independently and
        union their (eagerly materialized, |queries|·k-row) results —
        identical output to the unsplit path (tested). Pass
        ``max_batch=None`` to disable the split.
        """
        import math
        import warnings

        # bounded graphs run the exact same search driver-side: ~4
        # bounded collects instead of ~25-30 tiny AQE materialization
        # jobs (the measured per-probe cost at local[32] was the per-job
        # floor, not compute). Result parity is pinned by
        # test_query_batch_driver_beam_parity; anything over the bounds
        # — any at-scale graph — falls through to the distributed plan.
        beam = self._try_driver_beam(
            base, edges, queries, k, metric, id_col, vec_col,
            query_id_col, query_vec_col, hops, round_to, entry_budget,
            max_batch,
        )
        if beam is not None:
            return beam

        if max_batch is not None:
            # bounded probe, not a full count: LIMIT terminates early,
            # so a small batch with expensive lineage never evaluates
            # past max_batch+1 rows just to learn it needs no split
            over = (
                len(
                    queries.select(query_id_col)
                    .limit(max_batch + 1)
                    .collect()
                )
                > max_batch
            )
            if over:
                q_norm = queries.select(
                    F.col(query_id_col).alias("query_id"),
                    F.col(query_vec_col).alias("__qvec"),
                )
                w_split = Window.orderBy("query_id")
                # materialize the chunk assignment ONCE; the true size
                # is then a metadata-cheap count on the checkpoint
                chunked = q_norm.withColumn(
                    "__chunk",
                    F.floor((F.row_number().over(w_split) - 1) / max_batch),
                ).localCheckpoint()
                nq = chunked.count()
                out = None
                for i in range(math.ceil(nq / max_batch)):
                    sub = chunked.filter(F.col("__chunk") == i).drop("__chunk")
                    part = self.query_batch(
                        base, edges, sub, k, metric=metric, id_col=id_col,
                        vec_col=vec_col, query_id_col="query_id",
                        query_vec_col="__qvec", hops=hops,
                        round_to=round_to, entry_budget=entry_budget,
                        max_batch=None,
                    )
                    out = part if out is None else out.unionByName(part)
                return out

        spark = base.sparkSession
        # the search loop touches (id, vector) once per hop/level — pin
        # it in memory for the duration (the eager materialization of
        # the final result below happens BEFORE the unpersist, so the
        # returned DataFrame never recomputes against an unpinned base)
        vecs = base.select(F.col(id_col), F.col(vec_col)).persist()
        leveled = assign_levels(vecs, id_col, self.seed, self.max_level)
        stats = leveled.agg(
            F.count("*").alias("n"), F.max("node_level").alias("top")
        ).first()
        n, top_level = int(stats["n"]), int(stats["top"] or 0)

        l_cut = max(1, math.ceil(math.log2(max(n / max(entry_budget, 1), 1.0))))
        l_cut = min(l_cut, top_level)  # 0 on a flat graph -> score all

        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("__qvec"),
        )

        def with_scores(nodes: DataFrame) -> DataFrame:
            """attach similarity(query, node). ``nodes`` is a frontier
            expansion (ef·|q|·M rows), so it broadcasts into the
            persisted vector table, and the tiny query relation
            broadcasts on top (Spark reuses the one q broadcast across
            every hop via ReusedExchange): zero exchanges per hop, the
            scan side stays wherever it is. Operating bound: the
            broadcast scales with the QUERY BATCH, not the table — at
            ef=32, M=16, ~50 bytes/row a 10k-query batch is ~250 MB;
            ``max_batch`` enforces this bound by auto-splitting larger
            batches into sub-batches (each probes the same layout
            independently) rather than raising the broadcast
            threshold."""
            return (
                F.broadcast(nodes).join(vecs, id_col)
                .join(F.broadcast(q), "query_id")
                .select(
                    "query_id",
                    F.col(id_col),
                    _rounded(
                        _score(metric, vec_col, "__qvec"), round_to
                    ).alias("score"),
                )
            )

        # exact entry: every (query, layer>=L_cut node) pair, one plan.
        # Flat-graph guard: when every node sits at level 0 the "layer"
        # is the whole table and the cross join would score n x |q|
        # pairs with no budget — cap the entry set to a deterministic
        # hash-ordered ``entry_budget`` sample and let the BFS refine.
        # the layer relation still carries each node's vector (leveled
        # derives from the persisted vecs), so entry scoring is a pure
        # map over layer x broadcast(q) — no join back to vecs at all
        layer_vecs = leveled.filter(F.col("node_level") >= l_cut).select(
            id_col, vec_col
        )
        if l_cut == 0 and n > entry_budget:
            warnings.warn(
                f"hnsw.query_batch: flat graph (top level 0) with n={n} > "
                f"entry_budget={entry_budget}; capping the exact entry "
                "layer to a hash-ordered sample — entry quality degrades "
                "gracefully, but consider rebuilding with a larger "
                "max_level so upper layers exist",
                RuntimeWarning,
                stacklevel=2,
            )
            layer_vecs = (
                leveled.select(
                    F.col(id_col),
                    F.col(vec_col),
                    F.md5(F.concat(F.col(id_col).cast("string"),
                                   F.lit(f"#entry{self.seed}"))).alias("__h"),
                )
                .orderBy("__h")
                .limit(entry_budget)
                .select(id_col, vec_col)
            )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
        best = (
            layer_vecs.crossJoin(F.broadcast(q))
            .select(
                "query_id",
                F.col(id_col),
                _rounded(
                    _score(metric, vec_col, "__qvec"), round_to
                ).alias("score"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .localCheckpoint(eager=False)
        )

        # greedy descent through the remaining upper levels. Lazy
        # checkpoints each level: the frontier re-enters the next
        # level's plan on BOTH sides (broadcast probe + union), so
        # unbounded lineage doubles per level — the lazy checkpoint
        # truncates it and caches each level's result WITHOUT a
        # blocking driver action.
        down = list(range(l_cut - 1, 0, -1))
        for level in down:
            nbrs = (
                F.broadcast(best.select("query_id", id_col))
                .join(
                    edges.filter(F.col("level") == level),
                    F.col(id_col) == F.col("src"),
                )
                .select("query_id", F.col("dst").alias(id_col))
            )
            scored = with_scores(nbrs).unionByName(best)
            best = (
                scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
                .localCheckpoint(eager=False)
            )

        # level-0 BFS: expand ef-bounded frontier `hops` times — every
        # round lazily checkpointed (lineage bounded, zero per-hop
        # barriers; the whole BFS executes inside the single job below)
        visited = best
        frontier = best.select("query_id", id_col)
        # the level-0 adjacency is re-probed every hop — pin it (at
        # scale this is the index working set; MEMORY_AND_DISK spills)
        lvl0 = edges.filter(F.col("level") == 0).persist()
        for h in range(hops):
            # no distinct here: duplicate (query, dst) expansions are
            # collapsed by the groupBy below — one less shuffle per hop
            nbrs = (
                F.broadcast(frontier)
                .join(lvl0, F.col(id_col) == F.col("src"))
                .select("query_id", F.col("dst").alias(id_col))
            )
            scored = with_scores(nbrs)
            # ONE exchange per hop: re-cluster by query_id, after which
            # both the dedup groupBy (grouping on a superset of the
            # partition keys) and the ef window plan with no further
            # exchange
            merged = (
                visited.unionByName(scored)
                .repartition(F.col("query_id"))
                .groupBy("query_id", id_col)
                .agg(F.max("score").alias("score"))
            )
            w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
            nxt = merged.withColumn("rn", F.row_number().over(w)).filter(
                F.col("rn") <= self.ef
            ).localCheckpoint(eager=False)
            frontier = nxt.select("query_id", id_col)
            visited = nxt.drop("rn")

        # final exact ranking of the visited set, EAGERLY materialized
        # (small: |queries| x k rows) in the one job that executes the
        # entire lazy pipeline, so the persisted base/adjacency can be
        # released before returning
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
        out = (
            visited.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .localCheckpoint(eager=True)
        )
        vecs.unpersist()
        lvl0.unpersist()
        return out

    # -- incremental maintenance -------------------------------------------

    def insert_edges(
        self,
        base: DataFrame,
        edges: DataFrame,
        new_df: DataFrame,
        id_col: str = "id",
        vec_col: str = "embedding",
        metric: str = "cosine",
        hops: int = 4,
        entry_budget: int = 2048,
    ) -> DataFrame:
        """Edge DELTA for inserting ``new_df`` into a FROZEN graph —
        the batched analog of the reference's sequential insert
        (src/index.rs:227-259: search the existing graph for each new
        node's M nearest, then link both directions).

        Per new node: the frozen graph answers a beam search for its
        nearest EXISTING neighbors (the same ``query_batch`` queries
        run — max(ef, 2·M) wide so upper layers still find M peers
        after level filtering); the node's level is the same
        deterministic (id, seed) geometric draw the batch build uses;
        at every level ``l`` both endpoints occupy, the top-M surviving
        neighbors link new↔neighbor BOTH ways. Returns ONLY the new
        (level, src, dst) rows — append them to the stored edge
        relation (the streaming sink does; a batch caller unions).

        Deliberate trade-offs vs a rebuild, documented not hidden:
        - the batch is inserted CONCURRENTLY against the frozen graph —
          new nodes do not link to each other until the next rebuild
          (the reference's loop sees earlier inserts; a batch of
          mutually-near novel vectors stays mutually unlinked, though
          each remains reachable through its existing-corpus links);
        - existing nodes' adjacency grows without the M-prune a real
          insert applies, so probe fan-out degrades gradually as the
          inserted fraction grows — like the quantized sink's frozen
          codebooks, schedule a full ``build()`` when drift matters
          (recall-equivalence at ~50% inserted is pinned in tests).
        Queries over ``edges ∪ delta`` need no code change."""
        new_named = new_df.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__nvec")
        )
        nn = self.query_batch(
            base, edges,
            new_named.select("query_id", F.col("__nvec").alias(vec_col)),
            max(self.ef, 2 * self.m), metric=metric, id_col=id_col,
            vec_col=vec_col, query_vec_col=vec_col, hops=hops,
            entry_budget=entry_budget,
            # an id colliding with an existing node would otherwise
            # retrieve itself and emit degenerate self-edges
        ).filter(F.col(id_col) != F.col("query_id"))
        new_lvl = assign_levels(
            new_named.select("query_id"), "query_id", self.seed,
            self.max_level
        ).select("query_id", F.col("node_level").alias("__new_lvl"))
        nbr_lvl = assign_levels(
            base.select(id_col), id_col, self.seed, self.max_level
        ).select(id_col, F.col("node_level").alias("__nbr_lvl"))
        leveled = (
            nn.join(F.broadcast(new_lvl), "query_id")
            .join(nbr_lvl, id_col)
            .select(
                "query_id", id_col, "rank",
                F.explode(
                    F.sequence(F.lit(0), F.col("__new_lvl"))
                ).alias("level"),
                F.col("__nbr_lvl"),
            )
            .filter(F.col("__nbr_lvl") >= F.col("level"))
        )
        w = Window.partitionBy("query_id", "level").orderBy(F.asc("rank"))
        topm = (
            leveled.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= self.m)
            .select("level", "query_id", F.col(id_col))
        )
        fwd = topm.select(
            "level", F.col("query_id").alias("src"), F.col(id_col).alias("dst")
        )
        rev = topm.select(
            "level", F.col(id_col).alias("src"), F.col("query_id").alias("dst")
        )
        return fwd.unionByName(rev)

    def insert(
        self,
        base: DataFrame,
        edges: DataFrame,
        new_df: DataFrame,
        id_col: str = "id",
        vec_col: str = "embedding",
        metric: str = "cosine",
        hops: int = 4,
        entry_budget: int = 2048,
    ) -> tuple[DataFrame, DataFrame]:
        """Convenience batch form: returns the updated ``(base, edges)``
        pair — base grows the new (id, vector) rows, edges grow the
        :meth:`insert_edges` delta. See that method for the documented
        frozen-graph trade-offs."""
        delta = self.insert_edges(
            base, edges, new_df, id_col, vec_col, metric, hops,
            entry_budget,
        )
        new_base = base.select(id_col, vec_col).unionByName(
            new_df.select(id_col, vec_col)
        )
        return new_base, edges.select("level", "src", "dst").unionByName(delta)

    # -- offline layout ----------------------------------------------------

    _META_NAME = "_hnsw_meta.json"
    _LAYOUT_VERSION = "hnsw-layout-v1"

    def build_layout(
        self,
        df: DataFrame,
        path: str,
        id_col: str = "id",
        vec_col: str = "embedding",
        metric: str = "cosine",
        dim: int | None = None,
    ) -> None:
        """Materialize the servable graph: ``{path}/edges`` partitioned
        by level (the pruned-probe layout :meth:`build` documents),
        ``{path}/base`` holding (id, vector), and a sidecar with the
        build params — the offline-build/online-probe split the other
        index families already have, and the anchor the streaming sink
        (streaming/ingest.stream_into_hnsw_graph) appends into."""
        import json as _json

        from kowari_spark.fsutil import write_bytes

        edges = self.build(df, id_col=id_col, vec_col=vec_col,
                           metric=metric, dim=dim)
        edges.write.mode("overwrite").partitionBy("level").parquet(
            f"{path}/edges"
        )
        df.select(id_col, vec_col).write.mode("overwrite").parquet(
            f"{path}/base"
        )
        meta = {
            "version": self._LAYOUT_VERSION,
            "m": self.m, "ef": self.ef, "seed": self.seed,
            "max_level": self.max_level,
            "num_planes": self.num_planes, "num_tables": self.num_tables,
            "metric": metric, "id_col": id_col, "vec_col": vec_col,
        }
        write_bytes(
            df.sparkSession, f"{path}/{self._META_NAME}",
            _json.dumps(meta).encode(),
        )

    def load_layout(
        self, spark, path: str
    ) -> tuple[DataFrame, DataFrame, dict]:
        """Open a built graph layout: returns (base, edges, meta) and
        restores the build params into this instance. Refuses
        sidecar-less or version-mismatched dirs (the PQ.load provenance
        rule — a graph probed with different params/metric than it was
        built under silently loses recall)."""
        import json as _json

        from kowari_spark.fsutil import exists, read_bytes

        meta_path = f"{path}/{self._META_NAME}"
        if not exists(spark, meta_path):
            raise ValueError(
                f"no {self._META_NAME} sidecar at {path}: not an HNSW "
                "layout built by build_layout() — rebuild the layout"
            )
        meta = _json.loads(read_bytes(spark, meta_path).decode())
        ver = meta.get("version")
        if ver != self._LAYOUT_VERSION:
            raise ValueError(
                f"HNSW layout at {path} was built by {ver!r}; this code "
                f"probes {self._LAYOUT_VERSION!r} — rebuild the layout"
            )
        self.m, self.ef, self.seed = meta["m"], meta["ef"], meta["seed"]
        self.max_level = meta["max_level"]
        self.num_planes = meta["num_planes"]
        self.num_tables = meta["num_tables"]
        return (
            spark.read.parquet(f"{path}/base"),
            spark.read.parquet(f"{path}/edges"),
            meta,
        )
