"""Exact top-k nearest-neighbor search.

Semantics parity: the reference's brute-force index scores every stored
vector against the query, sorts descending, truncates to k
(reference: src/index.rs:25-48), then resolves hits back to full records
via an id lookup that silently drops missing ids
(vector_db/src/query.rs:15-26).

Spark-first design — two plan shapes, both exact:

* single query: ``orderBy(desc(score)).limit(k)`` which Catalyst plans as
  ``TakeOrderedAndProject`` — a distributed per-partition heap + tree
  merge, NOT a full sort (already better than the reference's full
  ``sort_by``; SURVEY.md §4.1 "Top-k instead of full sort").

* batch of queries: the scalable path computes per-partition top-k with a
  vectorized numpy matmul inside ``mapInPandas`` (Arrow-batched; queries
  broadcast to executors), reducing |partitions|*|Q|*k candidate rows
  before a final per-query window rank. The simple path (small n) is a
  broadcast nested-loop join + window. Both produce identical results.

Ties are broken by id ascending so results are deterministic (the
reference's ``sort_by(partial_cmp)`` tie order is unstable,
src/index.rs:43-45 — determinism here is a declared improvement).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from kowari_spark.functions.vector import _BUILTIN_METRICS, lit_vec_sql, similarity_expr


def _score(metric: str, vec_col: Column | str, query: Column) -> Column:
    return similarity_expr(metric, vec_col, query)


def _rounded(col: Column, round_to: int | None) -> Column:
    # `+ 0.0` normalizes IEEE negative zero so engines hash identically
    return F.round(col, round_to) + F.lit(0.0) if round_to is not None else col


def knn(
    df: DataFrame,
    query: Sequence[float],
    k: int,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "embedding",
    round_to: int | None = None,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact top-k for ONE query vector.

    Plans as TakeOrderedAndProject: each partition keeps a k-heap, the
    driver merges — O(n·d) scan, no global sort, no full shuffle. This is
    the shape that survives 100 TB: work is embarrassingly parallel and
    the merged state is k rows.
    """
    # name + SQL-literal strings take the one-parse F.expr path in
    # similarity_expr (construction cost; values identical — see
    # functions/vector.py SQL twins)
    score = _rounded(_score(metric, vec_col, lit_vec_sql(query)), round_to)
    cols = [F.col(id_col), score.alias("score"), *[F.col(c) for c in keep_cols]]
    return (
        df.select(*cols)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def knn_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    round_to: int | None = None,
    strategy: str = "heap",
) -> DataFrame:
    """Exact top-k for a BATCH of query vectors.

    strategy="heap" (default, the 100 TB path): queries are collected to
    the driver (a query batch is small by definition) and broadcast;
    every base partition computes scores for all queries in one numpy
    matmul and emits only its local top-k per query; a final window over
    |partitions|·|Q|·k rows picks the global top-k. The only shuffle is
    over that tiny candidate set, keyed by query_id.

    strategy="window": broadcast nested-loop join + row_number window —
    simpler plan for small bases; shuffles |Q|·n scored rows.

    Output: (query_id, id, score, rank).
    """
    if strategy == "window":
        return _knn_batch_window(
            df, queries, k, metric, id_col, vec_col, query_id_col, query_vec_col, round_to
        )
    return _knn_batch_heap(
        df, queries, k, metric, id_col, vec_col, query_id_col, query_vec_col, round_to
    )


def _knn_batch_window(
    df, queries, k, metric, id_col, vec_col, query_id_col, query_vec_col, round_to
) -> DataFrame:
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("__qvec")
    )
    scored = df.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col(id_col),
        _rounded(_score(metric, vec_col, "__qvec"), round_to).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _knn_batch_heap(
    df, queries, k, metric, id_col, vec_col, query_id_col, query_vec_col, round_to
) -> DataFrame:
    if metric not in _BUILTIN_METRICS:
        # custom registered metrics fall back to the declarative plan
        return _knn_batch_window(
            df, queries, k, metric, id_col, vec_col, query_id_col, query_vec_col, round_to
        )
    qrows = queries.select(query_id_col, query_vec_col).collect()
    if not qrows:
        raise ValueError("empty query batch")
    qids = [r[0] for r in qrows]
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)  # (Q, d)

    id_field = df.schema[id_col]
    qid_type = queries.schema[query_id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", qid_type, False),
            T.StructField(id_col, id_field.dataType, False),
            T.StructField("score", T.DoubleType(), False),
        ]
    )

    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((qids, qmat))

    def partition_topk(batches):
        q_ids, q = bc.value
        nq = q.shape[0]
        # running per-query top-k across arrow batches of this partition
        best_scores = [None] * nq
        best_ids = [None] * nq

        def select_topk(srow, idrow):
            """Indices of top-k by (score desc, id asc), tie-safe."""
            if len(srow) <= k:
                cand = range(len(srow))
            else:
                kth = np.partition(-srow, k - 1)[k - 1]
                cand = np.nonzero(-srow <= kth)[0]
            order = sorted(cand, key=lambda i: (-srow[i], idrow[i]))
            return list(order[:k])

        if metric == "cosine":
            qn = np.linalg.norm(q, axis=1, keepdims=True)
            qn[qn == 0.0] = 1.0

        for pdf in batches:
            if pdf.empty:
                continue
            vecs = np.asarray(list(pdf[vec_col]), dtype=np.float64)  # (n, d)
            ids = pdf[id_col].to_numpy()
            if metric == "cosine":
                vn = np.linalg.norm(vecs, axis=1, keepdims=True)
                zero = (vn == 0.0).ravel()
                vn[vn == 0.0] = 1.0
                s = (q / qn) @ (vecs / vn).T  # (Q, n)
                # zero-norm rows score 0.0 (reference utils.rs:9-13)
                if zero.any():
                    s[:, zero] = 0.0
                qzero = (np.linalg.norm(q, axis=1) == 0.0)
                if qzero.any():
                    s[qzero, :] = 0.0
            elif metric == "dot":
                s = q @ vecs.T
            elif metric == "euclidean":
                d2 = (
                    np.sum(q * q, axis=1)[:, None]
                    + np.sum(vecs * vecs, axis=1)[None, :]
                    - 2.0 * (q @ vecs.T)
                )
                s = -np.sqrt(np.maximum(d2, 0.0))
            else:  # manhattan
                s = -np.abs(q[:, None, :] - vecs[None, :, :]).sum(axis=2)

            if round_to is not None:
                # round BEFORE selection so id tie-breaks happen at the
                # same precision the final (rounded) ordering uses;
                # +0.0 normalizes negative zero
                s = np.round(s, round_to) + 0.0

            for qi in range(nq):
                srow = s[qi]
                if best_scores[qi] is not None:
                    srow = np.concatenate([best_scores[qi], srow])
                    idrow = np.concatenate([best_ids[qi], ids])
                else:
                    idrow = ids
                part = select_topk(srow, idrow)
                best_scores[qi] = srow[part]
                best_ids[qi] = np.asarray(idrow)[part]

        out_qid, out_id, out_s = [], [], []
        for qi in range(nq):
            if best_scores[qi] is None:
                continue
            out_qid.extend([q_ids[qi]] * len(best_scores[qi]))
            out_id.extend(best_ids[qi].tolist())
            out_s.extend(best_scores[qi].tolist())
        yield pd.DataFrame({"query_id": out_qid, id_col: out_id, "score": out_s})

    candidates = df.select(id_col, vec_col).mapInPandas(partition_topk, schema=out_schema)
    score = _rounded(F.col("score"), round_to)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        candidates.select("query_id", id_col, score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brute_force_fallback(
    vecs: DataFrame,
    starved: DataFrame,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    round_to: int | None,
    qvec_col: str = "__qvec",
) -> DataFrame:
    """Lazy exact-scan fallback shared by every ANN ``query_batch``:
    ``vecs`` x broadcast(``starved`` (query_id, qvec)) scored + per-query
    window top-k — identical results to ``knn_batch`` (module
    docstring), built as pure lineage so no driver action fires at plan
    time; when ``starved`` materializes empty, AQE's empty-relation
    propagation collapses the subtree before the scan runs."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        vecs.select(id_col, vec_col)
        .crossJoin(F.broadcast(starved))
        .select(
            "query_id",
            F.col(id_col),
            _rounded(
                _score(metric, vec_col, qvec_col), round_to
            ).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_two_stage(
    df: DataFrame,
    query: Sequence[float],
    k: int,
    candidates: int | None = None,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Two-stage retrieval: rank ALL vectors on their int8-quantized
    approximation (stage 1 scans 1/4 the bytes of the float column),
    then exactly re-rank only the top ``candidates`` (default 4k) on the
    full-precision vectors. At 100 TB the quantized codes are the column
    the big scan reads; the expensive exact math touches `candidates`
    rows. Recall is governed by candidates/k and asserted in tests."""
    from kowari_spark.functions.quant import dequantize, with_quantized

    c = candidates or 4 * k
    quant = with_quantized(df.select(id_col, vec_col), vec_col)
    deq = quant.select(
        id_col,
        F.col(vec_col),
        dequantize("q_codes", "q_min", "q_scale").alias("__approx"),
    )
    stage1 = (
        deq.select(
            id_col,
            F.col(vec_col),
            _score(metric, "__approx", lit_vec_sql(query)).alias("__ascore"),
        )
        .orderBy(F.desc("__ascore"), F.asc(id_col))
        .limit(c)
    )
    return knn(
        stage1, query, k, metric=metric, id_col=id_col, vec_col=vec_col,
        round_to=round_to,
    )


def resolve(results: DataFrame, base: DataFrame, id_col: str = "id") -> DataFrame:
    """Resolve top-k ids back to full records.

    Inner equi-join — reproduces the reference QueryEngine's silent drop
    of ids missing from storage (vector_db/src/query.rs:18-24). The base
    side is whatever relation the ids came from; Catalyst broadcasts the
    (tiny) results side automatically.
    """
    return results.join(base, on=id_col, how="inner")
