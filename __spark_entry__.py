"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query.

Numerics policy (so Spark and DuckDB hash-match):
- all vector math in float64 (embeddings are float32 at rest; the widening
  cast is exact on both engines), per-row scores rounded to 6 decimals;
- cross-row money aggregations go through exact DECIMAL(18,*) arithmetic
  (order-independent, hence bit-identical across engines) and are cast
  back to DOUBLE for output;
- every top-k breaks score ties by id ascending;
- timestamps are emitted as formatted strings (engine-neutral).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kowari_spark.operators import knn, knn_batch
from kowari_spark.operators.lsh import SignLSH
from kowari_spark.functions.vector import magnitude
from kowari_spark.functions import text as T
from kowari_spark.operators import dedup as D

# embeddings tables are 64-dim at every SF; LSH params mirror the
# reference's test setup (8 planes, tests/integration_tests.rs:237)
_LSH = SignLSH(dim=64, num_planes=8, seed=42)


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    row = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row["embedding"]]


def _dsum(col, typ: str = "decimal(18,2)"):
    """Order-independent sum: exact decimal accumulation, double output.

    Default scale is 2 (money/quantity columns): DuckDB implements
    double->decimal by scaling the double by 10^scale, and at scale 10 a
    ~1e5 money value lands near 2^53 where that multiply itself rounds,
    diverging from Spark's exact BigDecimal cast by 1e-10 per row (caught
    by the strict full-precision hash on rollup/cube grand totals). At
    scale 2 the scaled value is ~1e7 — exact in both engines. Use a wider
    scale explicitly only for genuinely high-precision columns."""
    return F.sum(col.cast(typ)).cast("double")


def _drev(price, disc):
    """Exact-decimal revenue sum: SUM(price * (1 - disc)) with each factor
    cast to decimal BEFORE the multiply. A double product rounds its binary
    expansion to decimal differently across engines at the 1e-10 digit and
    the ulps accumulate over ~1e6 rows past hash tolerance; decimal-first
    makes the arithmetic exact end-to-end so Spark and DuckDB agree bitwise.
    The paired oracle form is _SQL_REV."""
    p = price.cast("decimal(12,2)")
    d = F.lit(1).cast("decimal(12,2)") - disc.cast("decimal(12,2)")
    return F.sum(p * d).cast("double")


# DuckDB-side twin of _drev (format with the price/discount column names)
_SQL_REV = ("CAST(SUM(CAST({p} AS DECIMAL(12,2)) * "
            "(CAST(1 AS DECIMAL(12,2)) - CAST({d} AS DECIMAL(12,2)))) AS DOUBLE)")


def _utc(spark: SparkSession) -> None:
    """Timestamp semantics must not depend on the driver session's zone:
    DuckDB's timestamps are naive, so Spark-side formatting/casting is
    pinned to UTC (runtime-settable conf — works on any session)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with a TIMESTAMP ``ts`` regardless of how the file
    stores it: timestamp[us] reads natively (cast NTZ->TIMESTAMP is
    identity under the pinned UTC session); nanosecond files are read as
    long and converted with integer division (ns magnitudes exceed
    double's 53-bit mantissa, so no float math)."""
    _utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes)["ts"] in ("bigint", "long"):
        return ev.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return ev.withColumn("ts", F.col("ts").cast("timestamp"))


# SQL fragments (DuckDB dialect) --------------------------------------------

_COS = (
    "CASE WHEN sqrt(list_dot_product({a},{a})) = 0 OR sqrt(list_dot_product({b},{b})) = 0 "
    "THEN 0.0 ELSE list_dot_product({a},{b}) / "
    "(sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b}))) END"
)


def _cos_sql(a: str, b: str) -> str:
    return _COS.format(a=a, b=b)


# --------------------------------------------------------------------------
# vector search queries (SURVEY.md §2.3: Q1-Q2, Q7-Q10)
# --------------------------------------------------------------------------

def q_knn_cosine_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    return knn(base, q, 10, metric="cosine", id_col="vec_id", round_to=6)


def q_knn_euclidean_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 1)
    return knn(base, q, 10, metric="euclidean", id_col="vec_id", round_to=6)


def q_knn_batch_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "embeddings")
    queries = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = knn_batch(base, queries, 5, metric="cosine", id_col="vec_id", round_to=6)
    return res.select("query_id", "vec_id", "score", F.col("rank").cast("long").alias("rank"))


def q_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector magnitude + dimension (F5/F6) over the embeddings table."""
    base = _t(spark, sf_dir, "embeddings")
    return base.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(magnitude("embedding"), 6).alias("mag"),
    )


def _oracle_knn_cosine_top10() -> str:
    cos = _cos_sql("(e.embedding::DOUBLE[])", "q.qe")
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id AS vec_id, ROUND({cos}, 6) AS score
FROM embeddings e CROSS JOIN q
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def _oracle_knn_euclidean_top10() -> str:
    return """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 1)
SELECT e.vec_id AS vec_id,
       ROUND(-sqrt(list_reduce(list_transform(list_zip(e.embedding::DOUBLE[], q.qe),
             p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, x) -> acc + x)), 6) + 0.0 AS score
FROM embeddings e CROSS JOIN q
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def _oracle_knn_batch_top5() -> str:
    cos = _cos_sql("(e.embedding::DOUBLE[])", "q.qe")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
           FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id, ROUND({cos}, 6) AS score
  FROM embeddings e CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 5
"""


def _lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline-built partitionBy(bucket) LSH layout, cached per source
    file (same build-once/probe-many shape as ``_ivf_index``): a bucket
    probe against it is STATIC partition pruning."""
    path = _cached_layout(
        sf_dir, "embeddings", f"p{_LSH.num_planes}:s{_LSH.seed}", "lsh",
        "_lsh_meta.json",
        lambda p: _LSH.build(_t(spark, sf_dir, "embeddings"), p),
    )
    return _LSH.load(spark, path)


def q_lsh_knn_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-probe top-10 with brute-force fallback (Q3/Q4),
    probing the prebuilt bucket-partitioned layout: the candidate scan
    and the fallback-decision count read only the probed partition."""
    base = _lsh_index(spark, sf_dir)
    q = _query_vec(spark, sf_dir, 2)
    return _LSH.query(base, q, 10, metric="cosine", id_col="vec_id", round_to=6)


def _bucket_sql(vec_expr: str) -> str:
    terms = []
    for i, plane in enumerate(_LSH.planes):
        lit = "[" + ",".join(repr(float(x)) for x in plane) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {lit}) >= 0 THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _oracle_lsh_knn_top10() -> str:
    cos = _cos_sql("p.emb", "q.qe")
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 2),
b AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
             {_bucket_sql('embedding::DOUBLE[]')} AS bucket
      FROM embeddings),
qb AS (SELECT {_bucket_sql('qe')} AS bucket FROM q),
cand AS (SELECT b.* FROM b JOIN qb ON b.bucket = qb.bucket),
pool AS (
  SELECT * FROM cand WHERE (SELECT count(*) FROM cand) >= 10
  UNION ALL
  SELECT * FROM b WHERE (SELECT count(*) FROM cand) < 10
)
SELECT p.vec_id AS vec_id, ROUND({cos}, 6) + 0.0 AS score
FROM pool p CROSS JOIN q
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def q_knn_manhattan_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: manhattan metric through the open metric registry (negated
    distance as descending similarity, like F7)."""
    base = _t(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 3)
    return knn(base, q, 10, metric="manhattan", id_col="vec_id", round_to=6)


_ORACLE_KNN_MANHATTAN = """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 3)
SELECT e.vec_id AS vec_id,
       ROUND(-list_reduce(list_transform(list_zip(e.embedding::DOUBLE[], q.qe),
             p -> abs(p[1] - p[2])), (acc, x) -> acc + x), 6) + 0.0 AS score
FROM embeddings e CROSS JOIN q
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def q_vector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 normalize: unit-norm invariant + first component, per vector
    (scalars, not arrays, so the cross-engine hash is dtype-stable)."""
    from kowari_spark.functions.vector import magnitude, normalize
    from kowari_spark.fsutil import scan_parallelism

    # interpreted higher-order folds re-evaluate the norm subexpression
    # per element (O(d^2)/row); a one-split scan ran the whole table's
    # evaluation in a single ~3 s task (guide §2.5) — spread is a no-op
    # once the scan has session-parallel splits
    base = scan_parallelism(
        _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    normed = normalize(F.col("embedding"))
    return base.select(
        "vec_id",
        (F.round(magnitude(normed), 6) + F.lit(0.0)).alias("unit_mag"),
        (F.round(F.element_at(normed, 1), 6) + F.lit(0.0)).alias("first_comp"),
    )


_ORACLE_VECTOR_NORMALIZE = """
WITH n AS (
  SELECT vec_id,
         CASE WHEN sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) = 0
              THEN embedding::DOUBLE[]
              ELSE list_transform(embedding::DOUBLE[],
                   x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))
         END AS nv
  FROM embeddings
)
SELECT vec_id,
       ROUND(sqrt(list_dot_product(nv, nv)), 6) + 0.0 AS unit_mag,
       ROUND(nv[1], 6) + 0.0 AS first_comp
FROM n
"""


def q_knn_quantized_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized search (functions/quant.py): scan the 4x-smaller
    code column, score against the dequantized vectors — the first stage
    of two-stage retrieval. Deterministic floor-quantization, so the
    oracle reproduces codes and scores exactly."""
    from kowari_spark.functions.quant import dequantize, with_quantized

    base = with_quantized(_t(spark, sf_dir, "embeddings"))
    deq = base.select(
        "vec_id", dequantize("q_codes", "q_min", "q_scale").alias("embedding")
    )
    q = _query_vec(spark, sf_dir, 6)
    return knn(deq, q, 10, metric="cosine", id_col="vec_id", round_to=6)


def _oracle_knn_quantized_top10() -> str:
    cos = _cos_sql("e.deq", "q.qe")
    return f"""
WITH p AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_min(embedding::DOUBLE[]) AS mn,
         (list_max(embedding::DOUBLE[]) - list_min(embedding::DOUBLE[])) / 255.0 AS sc
  FROM embeddings
),
d AS (
  SELECT vec_id,
         CASE WHEN sc = 0 THEN list_transform(v, x -> mn)
              ELSE list_transform(v, x -> mn + least(255.0, floor((x - mn) / sc)) * sc)
         END AS deq
  FROM p
),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 6)
SELECT e.vec_id AS vec_id, ROUND({cos}, 6) + 0.0 AS score
FROM d e CROSS JOIN q
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def q_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-prefiltered search (F8 composed with Q2): predicate first,
    score+rank only the survivors — at scale the filter prunes the scan
    before any vector math."""
    base = _t(spark, sf_dir, "embeddings").filter(F.col("label") == 3)
    q = _query_vec(spark, sf_dir, 4)
    return knn(base, q, 10, metric="cosine", id_col="vec_id", round_to=6)


def _oracle_filtered_knn() -> str:
    cos = _cos_sql("(e.embedding::DOUBLE[])", "q.qe")
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 4)
SELECT e.vec_id AS vec_id, ROUND({cos}, 6) + 0.0 AS score
FROM embeddings e CROSS JOIN q
WHERE e.label = 3
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def q_filtered_lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN through the unified index contract (reference F8
    composed with Q4 — local_storage_demo.rs:115-130 metadata filtering
    over Q4 bucket probing): ``AnnIndex.search(where=...)`` applies the
    predicate BEFORE starvation accounting — the bucket probe's
    candidate pairs are filtered, and a query whose filtered candidates
    shrink below k brute-forces the FILTERED corpus, so semantics match
    the exact filtered scan (post-filtering top-k hits would silently
    return fewer rows and lose recall). Probes the same prebuilt
    bucket-partitioned layout as lsh_knn_top10."""
    from kowari_spark.operators.ann import SignLSHIndex

    base = _t(spark, sf_dir, "embeddings")
    layout = _lsh_index(spark, sf_dir)
    qdf = base.filter(F.col("vec_id") == 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SignLSHIndex(_LSH).search(
        base, qdf, 10, metric="cosine", built=layout, id_col="vec_id",
        round_to=6, where=(F.col("label") == 3),
    )
    return out.select("vec_id", "score").orderBy(
        F.desc("score"), F.asc("vec_id")
    )


def _oracle_filtered_lsh_knn() -> str:
    """Replay of the filtered contract search: candidates = (bucket
    match AND predicate); pool = those when >= k, else the whole
    FILTERED table (the starvation fallback honors the filter)."""
    cos = _cos_sql("p.emb", "q.qe")
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 5),
b AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb,
             {_bucket_sql('embedding::DOUBLE[]')} AS bucket
      FROM embeddings),
qb AS (SELECT {_bucket_sql('qe')} AS bucket FROM q),
cand AS (SELECT b.* FROM b JOIN qb ON b.bucket = qb.bucket WHERE b.label = 3),
pool AS (
  SELECT * FROM cand WHERE (SELECT count(*) FROM cand) >= 10
  UNION ALL
  SELECT * FROM b WHERE b.label = 3 AND (SELECT count(*) FROM cand) < 10
)
SELECT p.vec_id AS vec_id, ROUND({cos}, 6) + 0.0 AS score
FROM pool p CROSS JOIN q
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def q_lsh_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-quality metric G3 (utils.rs:64-79): per-query recall@10 of
    the LSH bucket-probe path vs exact brute force, for 8 query vectors."""
    from kowari_spark.operators.eval import recall_at_k

    base = _t(spark, sf_dir, "embeddings")
    queries = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_batch(base, queries, 10, metric="cosine", id_col="vec_id", round_to=6)
    approx = _LSH.query_batch(
        base, queries, 10, metric="cosine", id_col="vec_id", round_to=6
    )
    rec = recall_at_k(exact, approx, 10, id_col="vec_id")
    return rec.select(
        "query_id", (F.round(F.col("recall"), 6) + F.lit(0.0)).alias("recall")
    ).orderBy("query_id")


def q_lsh_precision_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-quality metric G4 (utils.rs:81-96): precision@10 of the
    LSH probe against the UNCLAMPED expected set (exact top-20)."""
    from kowari_spark.operators.eval import precision_at_k

    base = _t(spark, sf_dir, "embeddings")
    queries = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact20 = knn_batch(base, queries, 20, metric="cosine", id_col="vec_id", round_to=6)
    approx = _LSH.query_batch(
        base, queries, 10, metric="cosine", id_col="vec_id", round_to=6
    )
    prec = precision_at_k(exact20, approx, 10, id_col="vec_id")
    return prec.select(
        "query_id", (F.round(F.col("precision"), 6) + F.lit(0.0)).alias("precision")
    ).orderBy("query_id")


def _oracle_lsh_quality(metric: str) -> str:
    """Shared oracle for recall@10 (vs exact top-10) and precision@10
    (vs unclamped exact top-20) of the LSH bucket-probe path."""
    expected_k = 10 if metric == "recall" else 20
    cos = _cos_sql("(e.embedding::DOUBLE[])", "q.qe")
    cos_flat = _cos_sql("(e.embedding::DOUBLE[])", "e.qe")
    bucket_e = _bucket_sql("embedding::DOUBLE[]")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe,
                  {bucket_e} AS qbucket
           FROM embeddings WHERE vec_id < 8),
b AS (SELECT vec_id, embedding, {bucket_e} AS bucket FROM embeddings),
sizes AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket),
qs AS (SELECT q.*, coalesce(s.n, 0) AS bn FROM q LEFT JOIN sizes s ON q.qbucket = s.bucket),
cand AS (
  SELECT qs.query_id, qs.qe, b.vec_id, b.embedding
  FROM qs JOIN b ON qs.bn >= 10 AND b.bucket = qs.qbucket
  UNION ALL
  SELECT qs.query_id, qs.qe, b.vec_id, b.embedding
  FROM qs JOIN b ON qs.bn < 10
),
approx AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ROUND({cos_flat}, 6) DESC, vec_id ASC) AS rnk
  FROM (SELECT query_id, qe, vec_id, embedding FROM cand) e
),
exact AS (
  SELECT q.query_id, e.vec_id,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY ROUND({cos}, 6) DESC, e.vec_id ASC) AS rnk
  FROM embeddings e CROSS JOIN q
),
al AS (SELECT query_id, list(vec_id ORDER BY rnk) AS ids FROM approx WHERE rnk <= 10 GROUP BY query_id),
el AS (SELECT query_id, list(vec_id ORDER BY rnk) AS ids FROM exact WHERE rnk <= {expected_k} GROUP BY query_id)
SELECT al.query_id,
       ROUND(len(list_intersect(al.ids, el.ids)) / 10.0, 6) + 0.0 AS {metric}
FROM al JOIN el ON al.query_id = el.query_id
ORDER BY al.query_id
"""


def _oracle_lsh_recall_at_10() -> str:
    return _oracle_lsh_quality("recall")


def _oracle_lsh_precision_at_10() -> str:
    return _oracle_lsh_quality("precision")


_HNSW_PARAMS = dict(m=8, ef=32, seed=42, max_level=3)


def _hnsw_index(spark: SparkSession, sf_dir: str):
    """Offline-built HNSW edge set over the contract's 200-vector
    subset, cached as a level-partitioned parquet layout per source file
    (same build-once/probe-many shape as ``_ivf_index``/``_lsh_index``;
    the per-level greedy descent reads one level partition at a time)."""
    from kowari_spark.operators.hnsw import HNSW

    h = HNSW(**_HNSW_PARAMS)
    base = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    # dim is the fixtures' fixed 64 (every knn row pins it): skips the
    # per-build dim inference job (ADVICE r5 pattern)
    path = _cached_layout(
        sf_dir, "embeddings", str(sorted(_HNSW_PARAMS.items())), "hnsw",
        "_SUCCESS",
        lambda p: h.build(base, id_col="vec_id", dim=64).write.mode(
            "overwrite"
        ).partitionBy("level").parquet(p),
    )
    return h, base, spark.read.parquet(path)


def q_hnsw_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW offline build + batch graph query (Q5/Q6) over a fixed
    200-vector subset: LSH-candidate + NN-descent graph build (a
    200-node graph is built in memory on the driver, with the edges of
    the distributed plan — operators/hnsw.py), prebuilt to a
    level-partitioned layout, then greedy descent + beam search query.
    Graph traversal itself is not SQL-expressible, but the search is
    engineered to achieve recall 1.0 on this contract instance (beam
    ef=32 over a 200-node graph), so the EXACT top-5 SQL is a true
    oracle: any regression in build or search breaks the hash. The
    approximate regime (recall < 1) is gated in tests/test_hnsw.py."""
    h, base, edges = _hnsw_index(spark, sf_dir)
    queries = base.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = h.query_batch(
        base, edges, queries, 5, id_col="vec_id", round_to=6
    )
    return out.select(
        "query_id", "vec_id", "score", F.col("rank").cast("long").alias("rank")
    ).orderBy("query_id", "rank")


def _oracle_hnsw_knn() -> str:
    cos = _cos_sql("(e.embedding::DOUBLE[])", "q.qe")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
           FROM embeddings WHERE vec_id < 4),
scored AS (
  SELECT q.query_id, e.vec_id, ROUND({cos}, 6) + 0.0 AS score
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id < 200
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 5
"""


def q_cp_knn_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-polytope LSH ANN (operators/cplsh.py — Andoni et al. 2015:
    bucket = nearest signed basis vector of a rotated copy, the measured
    recall/cost winner on this data, see BASELINE.md round-4 sweep).
    T=40 tables at 4 probes captures every true top-10 neighbor at the
    contract scale factors (swept: recall 1.0, min 1.0, at sf0.01 AND
    sf0.001), and starved queries brute-force fall back — so the EXACT
    top-10 SQL is a true oracle: any regression in rotation generation,
    bucketing, probe ordering, the candidate join, or fallback breaks
    the hash. The approximate regime (recall < 1) is gated in
    tests/test_cplsh.py and the bench quality block."""
    from kowari_spark.operators.cplsh import CrossPolytopeLSH

    base = _t(spark, sf_dir, "embeddings")
    queries = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cp = CrossPolytopeLSH(dim=64, num_tables=40, seed=100)
    out = cp.query_batch(
        base, queries, 10, id_col="vec_id", round_to=6, probes=4
    )
    return out.select(
        "query_id", "vec_id", "score", F.col("rank").cast("long").alias("rank")
    ).orderBy("query_id", "rank")


def _oracle_cp_knn_top10() -> str:
    cos = _cos_sql("(e.embedding::DOUBLE[])", "q.qe")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
           FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id, ROUND({cos}, 6) + 0.0 AS score
  FROM embeddings e CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 10
"""


# seed_sample=512: the farthest-first traversal runs driver-side over
# the md5-top-512 rows (one collect) — the 100 TB build shape, where
# k full argmax scans would dominate. At the contract scale factors
# (n=500/50 < 512) the sample covers every row, so seeds are
# bit-identical to the unsampled traversal; the oracle still models
# the LIMIT faithfully for any larger n.
_IVF_PARAMS = dict(n_lists=16, n_probe=3, max_iter=3, seed=42,
                   round_centroids=6, seed_sample=512)


def _ivf_index(spark: SparkSession, sf_dir: str):
    """Offline-build / online-probe split: fit + ``build()`` the
    partitionBy(list_id) layout ONCE per (source file, params) into a
    scratch dir, then every query ``load()``s the prebuilt index and
    probes it — the shape this index has at 100 TB, where the build is a
    scheduled job and the probe a partition-pruned read. The cache key
    includes the source mtime/size so a regenerated sf dir rebuilds."""
    from kowari_spark.operators.ivf import IVF

    ivf = IVF(**_IVF_PARAMS)

    def build(path):
        base = _t(spark, sf_dir, "embeddings")
        ivf.fit(base, id_col="vec_id")
        ivf.build(base, path)

    path = _cached_layout(
        sf_dir, "embeddings", str(sorted(_IVF_PARAMS.items())), "ivf",
        "_ivf_meta.json", build,
    )
    lists = ivf.load(spark, path)
    return ivf, lists


def q_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (operators/ivf.py): deterministic
    farthest-first seeding + k-means fit (centroids rounded to the 1e-6
    grid each Lloyd round), offline-built partitionBy(list_id) layout,
    probe 3/16 cells, exact rank within the probed region. The WHOLE
    pipeline — maxmin seed traversal, 3 Lloyd iterations, probe choice,
    in-cell ranking — is deterministic IEEE arithmetic on grid-rounded
    centroids, so the oracle re-derives it independently in SQL
    (unrolled seeding + k-means CTEs) and any regression in fit, layout
    or probe breaks the hash."""
    ivf, lists = _ivf_index(spark, sf_dir)
    queries = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf.query_batch(lists, queries, 10, id_col="vec_id", round_to=6)
    return out.select("query_id", "vec_id", "score", F.col("rank").cast("long").alias("rank")).orderBy(
        "query_id", "rank"
    )


def _ivf_dist_sql(a: str, b: str) -> str:
    d = f"list_transform(list_zip({a}, {b}), x -> x[1] - x[2])"
    return f"list_dot_product({d}, {d})"


def _ivf_fit_sql_ctes() -> list[str]:
    """Shared SQL re-derivation of the IVF fit at ``_IVF_PARAMS`` on
    the embeddings table: deterministic farthest-first seeding (seed 0
    = smallest md5(id#s); seed i+1 = argmax of min squared distance to
    seeds 0..i, ties -> lowest id — unrolled as a select/min-update CTE
    chain), ``max_iter`` unrolled Lloyd iterations (assignment =
    sequential-fold squared L2 argmin, update = per-dim mean ROUNDed to
    the 1e-6 grid, empty cells keep their centroid). Bit-parity holds
    because both engines do the same IEEE ops in the same order: seeds
    are exact data vectors, min/least are order-independent, and Lloyd
    means land on the same decimal grid. The chain ends with ``fa``
    (vec_id, e, cid) — the final cell assignment — consumed by both
    the ivf_knn probe replay and the semantic-dedup replay."""
    n_lists = _IVF_PARAMS["n_lists"]
    seed = _IVF_PARAMS["seed"]
    rc = _IVF_PARAMS["round_centroids"]
    dist = _ivf_dist_sql

    smp = _IVF_PARAMS["seed_sample"]
    ctes = [
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        # the seeding sample: md5-top-seed_sample rows (covers the whole
        # table at contract scale, a true subsample beyond it)
        f"""vs AS MATERIALIZED (
  SELECT vec_id, e FROM v
  ORDER BY md5(CAST(vec_id AS VARCHAR) || '#{seed}') LIMIT {smp})""",
        f"""s0 AS MATERIALIZED (
  SELECT e AS vec FROM vs
  ORDER BY md5(CAST(vec_id AS VARCHAR) || '#{seed}') LIMIT 1)""",
        # MATERIALIZED: each m references its predecessor twice (via s
        # and directly); inlined CTEs would expand the chain 2^k-fold
        f"m0 AS MATERIALIZED (SELECT vs.vec_id, vs.e, {dist('vs.e', 's0.vec')} AS md FROM vs, s0)",
    ]
    for i in range(1, n_lists):
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT e AS vec FROM m{i - 1} "
            f"ORDER BY md DESC, vec_id ASC LIMIT 1)"
        )
        if i < n_lists - 1:
            ctes.append(
                f"m{i} AS MATERIALIZED (SELECT m.vec_id, m.e, "
                f"LEAST(m.md, {dist('m.e', f's{i}.vec')}) AS md "
                f"FROM m{i - 1} m, s{i})"
            )
    ctes.append(
        "c0 AS ("
        + " UNION ALL ".join(
            f"SELECT {i} AS cid, vec FROM s{i}" for i in range(n_lists)
        )
        + ")"
    )
    for i in range(_IVF_PARAMS["max_iter"]):
        ctes.append(f"""a{i} AS (
  SELECT vec_id, e, cid FROM (
    SELECT v.vec_id, v.e, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist('v.e', 'c.vec')}, c.cid) AS rn
    FROM v CROSS JOIN c{i} c) WHERE rn = 1)""")
        ctes.append(f"""g{i} AS (
  SELECT cid, dim, ROUND(SUM(val) / COUNT(*), {rc}) AS mval FROM (
    SELECT cid, generate_subscripts(e, 1) AS dim, unnest(e) AS val FROM a{i})
  GROUP BY cid, dim)""")
        ctes.append(
            f"n{i} AS (SELECT cid, list(mval ORDER BY dim) AS vec FROM g{i} GROUP BY cid)"
        )
        ctes.append(
            f"c{i + 1} AS (SELECT c.cid, coalesce(n.vec, c.vec) AS vec "
            f"FROM c{i} c LEFT JOIN n{i} n USING (cid))"
        )
    fin = f"c{_IVF_PARAMS['max_iter']}"
    ctes.append(f"""fa AS (
  SELECT vec_id, e, cid FROM (
    SELECT v.vec_id, v.e, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist('v.e', 'c.vec')}, c.cid) AS rn
    FROM v CROSS JOIN {fin} c) WHERE rn = 1)""")
    return ctes


def _oracle_ivf_knn() -> str:
    """SQL replay of the IVF probe: the shared fit chain
    (:func:`_ivf_fit_sql_ctes`), probe = n_probe nearest final
    centroids, then exact cosine rank within probed cells."""
    n_probe = _IVF_PARAMS["n_probe"]
    fin = f"c{_IVF_PARAMS['max_iter']}"
    dist = _ivf_dist_sql
    cos = _cos_sql("a.e", "p.qe")
    ctes = _ivf_fit_sql_ctes()
    ctes.append(f"""p AS (
  SELECT query_id, qe, cid FROM (
    SELECT q.vec_id AS query_id, q.e AS qe, c.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {dist('q.e', 'c.vec')}, c.cid) AS rn
    FROM (SELECT * FROM v WHERE vec_id < 4) q CROSS JOIN {fin} c)
  WHERE rn <= {n_probe})""")
    ctes.append(f"""scored AS (
  SELECT p.query_id, a.vec_id, ROUND({cos}, 6) + 0.0 AS score
  FROM p JOIN fa a ON a.cid = p.cid)""")
    ctes.append("""ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored)""")
    return (
        "WITH\n" + ",\n".join(ctes)
        + "\nSELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 10"
    )


# seed_sample=512: like IVF, the per-subspace Gonzalez traversals run
# driver-side over the md5-top-512 rows (ONE collect seeds all m
# subspaces). m=4/k_sub=8 keeps the unrolled per-subspace SQL replay
# tractable while still exercising the full PQ pipeline: 4 independent
# codebooks, 2 Lloyd rounds each, encode, ADC lookup scoring.
_PQ_PARAMS = dict(m=4, k_sub=8, max_iter=2, seed=42,
                  round_centroids=6, seed_sample=512)
_PQ_DIM = 64  # the embeddings table's vector dimension


def _pq_index(spark: SparkSession, sf_dir: str):
    """Offline-build / online-probe split for PQ: fit + ``build()`` the
    compressed (id, codes) layout ONCE per (source file, params) into a
    scratch dir, then every query ``load()``s it and probes WITHOUT
    touching the raw vectors — the 100 TB shape this index exists for
    (codes are ~32x smaller than the vectors they stand in for)."""
    from kowari_spark.operators.pq import PQ

    pq = PQ(**_PQ_PARAMS)

    def build(path):
        base = _t(spark, sf_dir, "embeddings")
        pq.fit(base, id_col="vec_id", dim=_PQ_DIM)
        pq.build(base, path, id_col="vec_id")

    path = _cached_layout(
        sf_dir, "embeddings", str(sorted(_PQ_PARAMS.items())), "pq",
        "_pq_meta.json", build,
    )
    codes = pq.load(spark, path)
    return pq, codes


def q_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py, Jegou et al. 2011):
    per-subspace maxmin-seeded k-means codebooks (centroids on the 1e-6
    grid each Lloyd round), offline-built compressed (id, codes) layout,
    asymmetric-distance probe — each row scored by m table lookups into
    the per-query distance table, summed in fixed subspace order. The
    WHOLE pipeline (seeding, Lloyd, encode argmin, ADC fold) is
    deterministic IEEE arithmetic on grid-rounded codebooks, so the
    oracle re-derives it independently in SQL (per-subspace unrolled
    seeding + k-means + encode + ADC CTEs) and any regression in fit,
    encode or probe breaks the hash."""
    pq, codes = _pq_index(spark, sf_dir)
    queries = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq.query_batch(codes, queries, 10, id_col="vec_id", round_to=6)
    return out.select(
        "query_id", "vec_id", "distance",
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


def _pq_fit_sql_ctes() -> list[str]:
    """Shared SQL re-derivation of the PQ fit at ``_PQ_PARAMS`` on the
    embeddings table: ONE md5-ordered seeding sample feeds all ``m``
    per-subspace Gonzalez traversals (seed 0 = md5-smallest row's
    slice; seed i+1 = argmax of min squared distance, ties -> lowest
    id), then ``max_iter`` unrolled Lloyd rounds PER SUBSPACE
    (assignment = sequential-fold squared-L2 argmin over the sliced
    vectors, update = per-dim mean ROUNDed to the grid, empty cells
    keep their centroid). Bit-parity holds for the same reasons as the
    IVF replay (seeds are exact data slices, min/LEAST are
    order-independent, means land on the same decimal grid). The chain
    ends with per-subspace ``fa{j}`` (vec_id, cid) final assignments
    and ``fc{j}`` final codebooks."""
    m = _PQ_PARAMS["m"]
    k = _PQ_PARAMS["k_sub"]
    seed = _PQ_PARAMS["seed"]
    rc = _PQ_PARAMS["round_centroids"]
    smp = _PQ_PARAMS["seed_sample"]
    it = _PQ_PARAMS["max_iter"]
    ds = _PQ_DIM // m
    dist = _ivf_dist_sql

    ctes = [
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        f"""vs AS MATERIALIZED (
  SELECT vec_id, e FROM v
  ORDER BY md5(CAST(vec_id AS VARCHAR) || '#{seed}') LIMIT {smp})""",
    ]
    for j in range(m):
        lo, hi = j * ds + 1, (j + 1) * ds
        # sampled + full-table slices for subspace j (DuckDB list
        # slicing is 1-based inclusive)
        ctes.append(
            f"v{j} AS MATERIALIZED (SELECT vec_id, e[{lo}:{hi}] AS e FROM vs)"
        )
        ctes.append(
            f"w{j} AS MATERIALIZED (SELECT vec_id, e[{lo}:{hi}] AS e FROM v)"
        )
        ctes.append(
            f"""s{j}_0 AS MATERIALIZED (
  SELECT e AS vec FROM v{j}
  ORDER BY md5(CAST(vec_id AS VARCHAR) || '#{seed}') LIMIT 1)"""
        )
        ctes.append(
            f"m{j}_0 AS MATERIALIZED (SELECT p.vec_id, p.e, "
            f"{dist('p.e', 's.vec')} AS md FROM v{j} p, s{j}_0 s)"
        )
        for i in range(1, k):
            ctes.append(
                f"s{j}_{i} AS MATERIALIZED (SELECT e AS vec FROM m{j}_{i - 1} "
                f"ORDER BY md DESC, vec_id ASC LIMIT 1)"
            )
            if i < k - 1:
                ctes.append(
                    f"m{j}_{i} AS MATERIALIZED (SELECT p.vec_id, p.e, "
                    f"LEAST(p.md, {dist('p.e', f's{j}_{i}.vec')}) AS md "
                    f"FROM m{j}_{i - 1} p, s{j}_{i})"
                )
        ctes.append(
            f"c{j}_0 AS ("
            + " UNION ALL ".join(
                f"SELECT {i} AS cid, vec FROM s{j}_{i}" for i in range(k)
            )
            + ")"
        )
        for t in range(it):
            ctes.append(f"""a{j}_{t} AS (
  SELECT vec_id, e, cid FROM (
    SELECT p.vec_id, p.e, c.cid,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY {dist('p.e', 'c.vec')}, c.cid) AS rn
    FROM w{j} p CROSS JOIN c{j}_{t} c) WHERE rn = 1)""")
            ctes.append(f"""g{j}_{t} AS (
  SELECT cid, dim, ROUND(SUM(val) / COUNT(*), {rc}) AS mval FROM (
    SELECT cid, generate_subscripts(e, 1) AS dim, unnest(e) AS val
    FROM a{j}_{t})
  GROUP BY cid, dim)""")
            ctes.append(
                f"n{j}_{t} AS (SELECT cid, list(mval ORDER BY dim) AS vec "
                f"FROM g{j}_{t} GROUP BY cid)"
            )
            ctes.append(
                f"c{j}_{t + 1} AS (SELECT c.cid, coalesce(n.vec, c.vec) AS vec "
                f"FROM c{j}_{t} c LEFT JOIN n{j}_{t} n USING (cid))"
            )
        ctes.append(f"fc{j} AS (SELECT cid, vec FROM c{j}_{it})")
        ctes.append(f"""fa{j} AS (
  SELECT vec_id, cid FROM (
    SELECT p.vec_id, c.cid,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY {dist('p.e', 'c.vec')}, c.cid) AS rn
    FROM w{j} p CROSS JOIN fc{j} c) WHERE rn = 1)""")
    return ctes


def _oracle_pq_knn() -> str:
    """SQL replay of the PQ probe: the fit chain
    (:func:`_pq_fit_sql_ctes`), then ADC — each (query, vector) pair's
    distance is the sum over subspaces of the squared L2 between the
    query's slice and the vector's ASSIGNED centroid, added in fixed
    j = 0..m-1 order (the Spark plan folds the lookups in the same
    order), rounded to 6."""
    m = _PQ_PARAMS["m"]
    ds = _PQ_DIM // m
    dist = _ivf_dist_sql
    ctes = _pq_fit_sql_ctes()
    ctes.append(
        "q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < 4)"
    )
    terms = " + ".join(
        dist(f"q.e[{j * ds + 1}:{(j + 1) * ds}]", f"c{j}.vec")
        for j in range(m)
    )
    joins = ["FROM q CROSS JOIN fa0 a0 JOIN fc0 c0 ON c0.cid = a0.cid"]
    for j in range(1, m):
        joins.append(
            f"JOIN fa{j} a{j} ON a{j}.vec_id = a0.vec_id "
            f"JOIN fc{j} c{j} ON c{j}.cid = a{j}.cid"
        )
    ctes.append(
        "scored AS (\n  SELECT q.query_id, a0.vec_id, "
        f"ROUND({terms}, 6) + 0.0 AS distance\n  "
        + "\n  ".join(joins) + ")"
    )
    ctes.append("""ranked AS (
  SELECT query_id, vec_id, distance,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY distance ASC, vec_id ASC) AS rank
  FROM scored)""")
    return (
        "WITH\n" + ",\n".join(ctes)
        + "\nSELECT query_id, vec_id, distance, rank FROM ranked WHERE rank <= 10"
    )


def _ivfpq_index(spark: SparkSession, sf_dir: str):
    """Offline-build / online-probe split for the composed IVF×PQ index
    (operators/ivfpq.py): reuse the SAME fitted quantizers the ivf_knn
    and pq_knn rows probe (both cached), compose their layout ONCE per
    (source file, params) — (id, codes) partitionBy(list_id) — then
    every query ``load()``s it and probes partition-pruned compressed
    codes: cell pruning x 32x compression, the two reduction factors
    the 100 TB serving shape multiplies."""
    from kowari_spark.operators.ivfpq import IVFPQ

    ivf, _ = _ivf_index(spark, sf_dir)
    pq, _ = _pq_index(spark, sf_dir)
    comp = IVFPQ(ivf, pq)
    path = _cached_layout(
        sf_dir, "embeddings",
        f"{sorted(_IVF_PARAMS.items())}:{sorted(_PQ_PARAMS.items())}",
        "ivfpq", "_ivfpq_meta.json",
        lambda p: comp.build(_t(spark, sf_dir, "embeddings"), p,
                             id_col="vec_id"),
    )
    coded = comp.load(spark, path)
    return comp, coded


def q_ivfpq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ composed probe (operators/ivfpq.py — Jegou et al. 2011
    §V, the standard serving structure): prune to n_probe IVF cells,
    ADC-score ONLY those cells' compressed codes (m table lookups per
    row, fixed-order fold), rank per query. Zero new arithmetic — the
    oracle replays BOTH existing fit chains (IVF seeding+Lloyd, PQ
    per-subspace seeding+Lloyd+encode) and composes them, so any drift
    in either fit, the cell assignment, the probe choice or the ADC
    fold breaks the hash."""
    comp, coded = _ivfpq_index(spark, sf_dir)
    queries = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = comp.query_batch(coded, queries, 10, id_col="vec_id", round_to=6)
    return out.select(
        "query_id", "vec_id", "distance",
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


def _oracle_ivfpq_knn() -> str:
    """SQL replay of the composed probe: BOTH fit chains (they share
    identical ``v``/``vs`` heads — same seed and sample — so the PQ
    chain drops its duplicates), probe = n_probe nearest final IVF
    centroids per query, scored set = vectors whose IVF cell is probed
    BY THAT QUERY, distance = the PQ ADC sum over assigned-centroid
    squared L2s in fixed subspace order."""
    n_probe = _IVF_PARAMS["n_probe"]
    fin = f"c{_IVF_PARAMS['max_iter']}"
    m = _PQ_PARAMS["m"]
    ds = _PQ_DIM // m
    dist = _ivf_dist_sql
    ctes = _ivf_fit_sql_ctes() + _pq_fit_sql_ctes()[2:]
    ctes.append(f"""pr AS (
  SELECT query_id, qe, cid FROM (
    SELECT q.vec_id AS query_id, q.e AS qe, c.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {dist('q.e', 'c.vec')}, c.cid) AS rn
    FROM (SELECT * FROM v WHERE vec_id < 4) q CROSS JOIN {fin} c)
  WHERE rn <= {n_probe})""")
    terms = " + ".join(
        dist(f"pr.qe[{j * ds + 1}:{(j + 1) * ds}]", f"pc{j}.vec")
        for j in range(m)
    )
    joins = ["FROM pr JOIN fa av ON av.cid = pr.cid"]
    for j in range(m):
        joins.append(
            f"JOIN fa{j} a{j} ON a{j}.vec_id = av.vec_id "
            f"JOIN fc{j} pc{j} ON pc{j}.cid = a{j}.cid"
        )
    ctes.append(
        "scored AS (\n  SELECT pr.query_id, av.vec_id, "
        f"ROUND({terms}, 6) + 0.0 AS distance\n  "
        + "\n  ".join(joins) + ")"
    )
    ctes.append("""ranked AS (
  SELECT query_id, vec_id, distance,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY distance ASC, vec_id ASC) AS rank
  FROM scored)""")
    return (
        "WITH\n" + ",\n".join(ctes)
        + "\nSELECT query_id, vec_id, distance, rank FROM ranked WHERE rank <= 10"
    )


def q_embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.semantic_dedup): embedding-space
    dedup — k-means-cluster the corpus (the SAME prebuilt IVF layout
    the ivf_knn row probes), compare cosines only within a cluster,
    connect near-dups (cos >= 0.3 on the 1e-6 grid), keep the min-id
    representative per component. The quadratic step is confined to
    single cells (the SemDeDup idea itself); the oracle replays fit +
    in-cell pairs + recursive-CTE reachability end-to-end."""
    from kowari_spark.operators.dedup import semantic_dedup

    ivf, lists = _ivf_index(spark, sf_dir)
    # pins exact ALL-PAIRS in-cell scoring (the oracle replays the full
    # pair join); the library default is edges="auto" since r9
    return semantic_dedup(
        lists, threshold=0.3, id_col="vec_id", ivf=ivf, edges="pairs"
    ).orderBy("vec_id")


def _oracle_embedding_semantic_dedup() -> str:
    ctes = _ivf_fit_sql_ctes()
    ctes.append(
        "nrm AS (SELECT vec_id, e, cid, sqrt(list_dot_product(e, e)) AS nn FROM fa)"
    )
    ctes.append("""prs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM nrm a JOIN nrm b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE ROUND(CASE WHEN a.nn = 0 OR b.nn = 0 THEN 0.0
              ELSE list_dot_product(a.e, b.e) / (a.nn * b.nn) END, 6) + 0.0
        >= 0.3)""")
    ctes.append("""edges AS (
  SELECT id_a AS s, id_b AS d FROM prs
  UNION ALL SELECT id_b, id_a FROM prs)""")
    ctes.append("""reach AS (
  SELECT s AS id, s AS label FROM edges
  UNION
  SELECT e.s, r.label FROM edges e JOIN reach r ON e.d = r.id)""")
    ctes.append(
        "lab AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id)"
    )
    return (
        "WITH RECURSIVE\n" + ",\n".join(ctes) + """
SELECT f.vec_id, CAST(f.cid AS INT) AS list_id,
       COALESCE(l.cluster_id, f.vec_id) AS rep_id,
       COALESCE(l.cluster_id, f.vec_id) = f.vec_id AS is_kept
FROM fa f LEFT JOIN lab l ON l.id = f.vec_id
ORDER BY f.vec_id"""
    )


def q_events_kmv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KMV distinct-count sketch (operators/sketch.py):
    approx distinct users per event_type, bit-reproducible in DuckDB —
    unlike Spark's built-in HLL++, the estimate depends only on the
    data."""
    from kowari_spark.operators.sketch import kmv_distinct

    ev = _events(spark, sf_dir)
    return (
        kmv_distinct(ev, ["event_type"], "user_id", k=64)
        .select(
            "event_type",
            (F.round(F.col("distinct_est"), 6) + F.lit(0.0)).alias("distinct_est"),
        )
        .orderBy("event_type")
    )


def _oracle_events_kmv_users() -> str:
    # _SQL_HASH64 is defined further down with the text oracles; build
    # this SQL lazily so import order doesn't matter
    return f"""
WITH hashed AS (
  SELECT DISTINCT event_type,
         {_SQL_HASH64.format(s="CAST(user_id AS VARCHAR)")}::DOUBLE / {float(16**15)!r} AS u
  FROM events
),
ranked AS (
  SELECT event_type, u,
         row_number() OVER (PARTITION BY event_type ORDER BY u ASC) AS rn
  FROM hashed
),
kept AS (SELECT * FROM ranked WHERE rn <= 64)
SELECT event_type,
       ROUND(CASE WHEN MAX(rn) < 64 THEN CAST(MAX(rn) AS DOUBLE)
                  ELSE 63.0 / MAX(u) END, 6) + 0.0 AS distinct_est
FROM kept GROUP BY event_type ORDER BY event_type
"""


def q_events_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic portable HyperLogLog (operators/sketch.py
    hll_distinct): approx distinct users per event_type with CONSTANT
    per-group state (m=64 max-rank registers — the shuffle carries at
    most 64 rows per group regardless of input size, vs KMV's one row
    per distinct value). Registers, scaled-integer 2^-M sum, and
    driver-computed linear-counting literals are all exactly
    reproducible in DuckDB."""
    from kowari_spark.operators.sketch import hll_distinct

    ev = _events(spark, sf_dir)
    return (
        hll_distinct(ev, ["event_type"], "user_id", p=6)
        .select(
            "event_type",
            (F.round(F.col("distinct_est"), 6) + F.lit(0.0)).alias("distinct_est"),
        )
        .orderBy("event_type")
    )


def _oracle_events_hll(p: int = 6) -> str:
    # Replays hll_distinct exactly: low-p-bit register, rank via
    # length(bin(w)) (integer — no float log2), per-register MAX, exact
    # HUGEINT sum of 2^(61-M) (order-independent, no float-fold pinning
    # needed), the driver-computed alpha literal, and the same IN-PLAN
    # round(m*ln(m/V), 9) linear-counting correction the Spark side
    # plans (round 15 — the rounded-ln parity trick that freed p from
    # the old 2^p-literal cap).
    from kowari_spark.operators.sketch import (
        hll_alpha,
        hll_linear_count_sql,
    )

    m, wbits = 1 << p, 60 - p
    num = repr(hll_alpha(m) * m * m * 2.0**61)
    h = _SQL_HASH64.format(s="CAST(user_id AS VARCHAR)")
    est = f"{num} / ((s + v::HUGEINT * (1::BIGINT << 61))::DOUBLE)"
    return f"""
WITH h AS (
  SELECT event_type, ({h} & {m - 1}) AS reg, ({h} >> {p}) AS w
  FROM events
), r AS (
  SELECT event_type, reg,
         MAX(CASE WHEN w > 0 THEN {wbits + 1} - length(bin(w))
                  ELSE {wbits + 1} END) AS M
  FROM h GROUP BY event_type, reg
), g AS (
  SELECT event_type, COUNT(*) AS n, SUM((1::BIGINT << (61 - M))) AS s,
         {m} - COUNT(*) AS v
  FROM r GROUP BY event_type
)
SELECT event_type,
       ROUND(CASE WHEN {est} <= {2.5 * m!r} AND v > 0
                  THEN {hll_linear_count_sql(m)}
                  ELSE {est} END, 6) + 0.0 AS distinct_est
FROM g ORDER BY event_type
"""


def q_events_hll_p12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-precision HLL (round 15 — VERDICT r14 #5): p=12 →
    4096 registers, ~1.6% relative error (vs ~6.5% at the old p=8
    cap). The per-group state is still constant (≤ 2^p rows) and the
    whole estimator — registers, scaled-integer fold, in-plan
    rounded-ln linear counting — replays in DuckDB, so the hash match
    proves the lifted-p math end to end."""
    from kowari_spark.operators.sketch import hll_distinct

    ev = _events(spark, sf_dir)
    return (
        hll_distinct(ev, ["event_type"], "user_id", p=12)
        .select(
            "event_type",
            (F.round(F.col("distinct_est"), 6) + F.lit(0.0)).alias(
                "distinct_est"
            ),
        )
        .orderBy("event_type")
    )


def _hll_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once stored HLL sketch layout over events (round 14,
    operators/sketch.py): built from two-thirds of the corpus, the
    last third APPENDED (max-merged) — so the contract row's oracle
    hash proves build(a) + append(b) == sketch(a ∪ b) end to end."""
    from kowari_spark.operators.sketch import (
        append_hll_layout,
        build_hll_layout,
    )

    def build(p):
        import os

        ev = _events(spark, sf_dir)
        build_hll_layout(
            ev.filter(F.col("event_id") % 3 != 0), p,
            ["event_type"], "user_id", p=6,
        )
        append_hll_layout(spark, p, ev.filter(F.col("event_id") % 3 == 0))
        open(os.path.join(p, "_contract_hll_done"), "w").close()

    return _cached_layout(
        sf_dir, "events", "hll_p6_v1", "hll", "_contract_hll_done", build
    )


def q_events_hll_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user estimates served from the STORED register layout
    (sketch.hll_layout_estimate): no events scan at probe time — the
    state read is ≤ 64 rows per event_type, kept current by max-merge
    appends (replay-safe by algebra). The layout was built from 2/3 of
    the corpus with the last third appended, and the oracle replays
    one-shot HLL over ALL events — a hash match proves the stored
    registers equal the union sketch bit-for-bit."""
    from kowari_spark.operators.sketch import hll_layout_estimate

    path = _hll_layout(spark, sf_dir)
    return (
        hll_layout_estimate(spark, path)
        .select(
            "event_type",
            (F.round(F.col("distinct_est"), 6) + F.lit(0.0)).alias(
                "distinct_est"
            ),
        )
        .orderBy("event_type")
    )


def _kmv_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once stored KMV minima layout over events (round 14,
    operators/sketch.py): 2/3 built, last third appended (union +
    keep-k-smallest merge), so the oracle hash proves the merge."""
    from kowari_spark.operators.sketch import (
        append_kmv_layout,
        build_kmv_layout,
    )

    def build(p):
        import os

        ev = _events(spark, sf_dir)
        build_kmv_layout(
            ev.filter(F.col("event_id") % 3 != 0), p,
            ["event_type"], "user_id", k=64,
        )
        append_kmv_layout(spark, p, ev.filter(F.col("event_id") % 3 == 0))
        open(os.path.join(p, "_contract_kmv_done"), "w").close()

    return _cached_layout(
        sf_dir, "events", "kmv_k64_v1", "kmv", "_contract_kmv_done", build
    )


def q_events_kmv_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user estimates from the STORED KMV minima layout
    (sketch.kmv_layout_estimate — ≤ k rows per group read at probe
    time, exact below k). Built from 2/3 of events with the last third
    max-merged in; the oracle replays one-shot KMV over ALL events, so
    a hash match proves build+append == union sketch bit-for-bit."""
    from kowari_spark.operators.sketch import kmv_layout_estimate

    path = _kmv_layout(spark, sf_dir)
    return (
        kmv_layout_estimate(spark, path)
        .select(
            "event_type",
            (F.round(F.col("distinct_est"), 6) + F.lit(0.0)).alias(
                "distinct_est"
            ),
        )
        .orderBy("event_type")
    )


def q_events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-less JSON metadata access (F8): extract props.k, typed
    aggregation per event_type."""
    from kowari_spark.functions.metadata import meta_field

    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("k", meta_field("props", "k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


_ORACLE_EVENTS_PROPS_STATS = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


_ORACLE_VECTOR_STATS = """
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS mag
FROM embeddings
"""


# --------------------------------------------------------------------------
# relational queries over the TPC-H-ish tables (engine built-ins: SURVEY.md §2.6)
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter -> groupBy -> multi-agg -> order."""
    li = _t(spark, sf_dir, "lineitem")
    _utc(spark)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _drev(F.col("l_extendedprice"), F.col("l_discount")).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       {rev} AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""".format(rev=_SQL_REV.format(p="l_extendedprice", d="l_discount"))


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join + agg: revenue per nation (broadcast dims)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            _drev(F.col("l_extendedprice"), F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("n_name")
    )


_ORACLE_REVENUE_BY_NATION = """
SELECT n_name,
       {rev} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
""".format(rev=_SQL_REV.format(p="l_extendedprice", d="l_discount"))


def q_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window: top-1 customer by acctbal per nation, id tie-break."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cust.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", "c_custkey", "c_name", "c_acctbal")
    )


_ORACLE_TOP_CUSTOMER_PER_NATION = """
SELECT c_nationkey, c_custkey, c_name, c_acctbal
FROM (
  SELECT *, row_number() OVER (PARTITION BY c_nationkey
             ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer
) WHERE rn = 1
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling hourly aggregation of the events table (batch form of the
    streaming windowed agg)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            _dsum(F.col("value"), "decimal(30,10)").alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )


_ORACLE_EVENTS_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dim join on part (TPC-H Q14 shape): per-brand revenue and
    discounted-line share over large parts."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part.filter(F.col("p_size") >= 25)),
                li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            _drev(F.col("l_extendedprice"), F.col("l_discount")).alias("revenue"),
            F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias("n_discounted"),
        )
        .orderBy("p_brand")
    )


_ORACLE_BRAND_REVENUE = """
SELECT p_brand, COUNT(*) AS n_lines,
       {rev} AS revenue,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size >= 25
GROUP BY p_brand ORDER BY p_brand
""".format(rev=_SQL_REV.format(p="l_extendedprice", d="l_discount"))


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user — the streaming operator
    (streaming/events.py session_rollup) run in batch mode; stream/batch
    equivalence is asserted in tests/test_streaming.py. session_value is
    dropped here: double sums are order-dependent, counts are not."""
    from kowari_spark.streaming import session_rollup

    ev = _events(spark, sf_dir)
    return (
        session_rollup(ev)
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    )


_ORACLE_EVENTS_SESSIONS = """
WITH s AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
g AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events
FROM g GROUP BY user_id, sid ORDER BY user_id, session_start
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/15min window counts — the streaming operator
    (sliding_rollup) in batch mode; each event lands in 4 windows."""
    from kowari_spark.streaming import sliding_rollup

    ev = _events(spark, sf_dir)
    return sliding_rollup(ev).orderBy("w_start", "event_type")


_ORACLE_EVENTS_SLIDING = """
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS w_start, event_type, COUNT(*) AS n
FROM (
  SELECT event_type,
         time_bucket(INTERVAL '15 minutes', ts) - (k * INTERVAL '15 minutes') AS ws
  FROM events, (SELECT unnest([0, 1, 2, 3]) AS k)
)
GROUP BY ws, event_type ORDER BY w_start, event_type
"""


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each purchase event picks up the
    user's latest click value at-or-before it. Oracle is DuckDB's native
    ASOF JOIN. The right side is pre-deduped to one row per (user, ts)
    so equal-time ties are deterministic in both engines."""
    from kowari_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    out = asof_join(left, right, "ts", ["user_id"])
    return out.select(
        "event_id",
        (F.round(F.col("value"), 6) + F.lit(0.0)).alias("purchase_value"),
        (F.round(F.col("click_value_asof"), 6) + F.lit(0.0)).alias("click_value_asof"),
    ).orderBy("event_id")


_ORACLE_EVENTS_ASOF = """
WITH r AS (
  SELECT user_id, ts, MAX(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
l AS (
  SELECT event_id, user_id, ts, value
  FROM events WHERE event_type = 'purchase'
)
SELECT l.event_id,
       ROUND(l.value, 6) + 0.0 AS purchase_value,
       ROUND(r.click_value, 6) + 0.0 AS click_value_asof
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


def q_orders_fast_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join: lineitems shipped within 7 days of their
    order's date — equi key + range predicate, per-order aggregation."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    _utc(spark)
    joined = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate <= F.date_add(orders.o_orderdate, 7)),
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(
            F.count("*").alias("n_fast_lines"),
            _dsum(F.col("l_extendedprice")).alias("fast_revenue"),
        )
        .orderBy("o_orderkey")
    )


_ORACLE_ORDERS_FAST_LINES = """
SELECT o_orderkey, COUNT(*) AS n_fast_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS fast_revenue
FROM lineitem JOIN orders
  ON l_orderkey = o_orderkey
 AND l_shipdate >= o_orderdate
 AND l_shipdate <= o_orderdate + INTERVAL 7 DAY
GROUP BY o_orderkey ORDER BY o_orderkey
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (set difference on keys)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


_ORACLE_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
ORDER BY c_custkey
"""


# --------------------------------------------------------------------------
# text analysis + dedup queries over the documents table (north-star
# extensions, SURVEY.md §7.1 step 9; operators in functions/text.py and
# operators/dedup.py). Every hash is md5-based so the DuckDB oracle
# reproduces the EXACT algorithm, approximation included.
# --------------------------------------------------------------------------

# SQL fragments shared by the text oracles (DuckDB dialect)
_SQL_HASH64 = "(('0x' || substring(md5({s}), 1, 15))::BIGINT)"
_SQL_SHINGLES3 = (
    "CASE WHEN len({t}) >= 3 THEN list_distinct(list_transform("
    "range(1, len({t}) - 1), i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2])) "
    "ELSE [text] END"
)


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + order-sensitive/insensitive fingerprints."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tok"),
        T.token_count_bpe("text").alias("n_bpe"),
        T.rolling_fingerprint("text").alias("rolling_fp"),
        T.fingerprint_key("text").alias("fp_key"),
    )


_ORACLE_DOC_TOKEN_STATS = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_bpe,
       list_reduce(
         list_concat([CAST(0 AS BIGINT)],
           list_transform(string_split(text, ' '), t -> {_SQL_HASH64.format(s='t')})),
         (acc, x) -> (acc * 31 + x) % 2147483647) AS rolling_fp,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp_key
FROM documents
"""


def q_doc_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID (stopword heuristic) + composite quality score."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.lang_id("text").alias("lang"),
        (F.round(T.quality_score("text"), 6) + F.lit(0.0)).alias("q"),
    )


def _oracle_doc_lang_quality() -> str:
    langs = sorted(T.STOPWORDS)
    hit = {
        lang: "len(list_filter(ltoks, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
        + "], t)))"
        for lang in langs
    }
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"{hit[lang]} > 0"] + [
            f"{hit[lang]} >= {hit[later]}" for later in langs[i + 1 :]
        ]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    lang_case = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return f"""
WITH base AS (
  SELECT doc_id, text,
         string_split(lower(text), ' ') AS ltoks,
         string_split(text, ' ') AS toks,
         length(text) AS chars,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct
  FROM documents
)
SELECT doc_id,
       {lang_case} AS lang,
       ROUND(0.3 * least(len(toks) / 100.0, 1.0)
           + 0.3 * (len(list_distinct(toks)) / len(toks))
           + 0.2 * (alpha / chars)
           + 0.2 * (1.0 - digits / chars - punct / chars), 6) + 0.0 AS q
FROM base
"""


def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: representative (min-id) rows kept per content hash."""
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup(docs, ["text"], "doc_id").select("doc_id").orderBy("doc_id")


_ORACLE_DOC_EXACT_DEDUP = """
SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text) ORDER BY doc_id
"""


def q_doc_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates verified by exact shingle Jaccard."""
    docs = _t(spark, sf_dir, "documents")
    # the row's contract IS the complete verified pair list - pin
    # "pairs" (the library default is "auto" since r9)
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5, edges="pairs")
    return pairs.select(
        "id_a", "id_b", (F.round(F.col("jaccard"), 6) + F.lit(0.0)).alias("jaccard")
    ).orderBy("id_a", "id_b")


def _minhash_ctes(num_hashes: int = 16, bands: int = 4,
                  edges: str = "pairs") -> str:
    """Shared CTE block computing verified minhash near-dup pairs
    (reused by the pairs, clustering, keep-list, star and tuned-banding
    oracles). ``edges="star"`` replays operators/dedup.py's
    bucket_star_edges: candidates are (bucket-min, member) per
    (band, band_key) bucket instead of all within-bucket pairs."""
    a, b = T.minhash_params(num_hashes, 42)
    r = num_hashes // bands
    sig_exprs = ", ".join(
        f"list_min(list_transform(hm, m -> ({ai} * m + {bi}) % 2147483647))"
        for ai, bi in zip(a, b)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, md5(array_to_string(sig[{j*r+1}:{j*r+r}], ',')) AS bk FROM sig"
        for j in range(bands)
    )
    if edges == "star":
        cand = """cand AS (
  SELECT DISTINCT m.bmin AS id_a, b.doc_id AS id_b
  FROM bands b
  JOIN (SELECT band, bk, MIN(doc_id) AS bmin FROM bands GROUP BY band, bk) m
    ON b.band = m.band AND b.bk = m.bk AND b.doc_id != m.bmin
)"""
    else:
        cand = """cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
)"""
    sh = _SQL_SHINGLES3.format(t="t")
    h = _SQL_HASH64.format(s="x")
    return f"""sh AS (
  SELECT doc_id, {sh} AS s
  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
),
hm AS (SELECT doc_id, list_transform(s, x -> {h} % 2147483647) AS hm FROM sh),
sig AS (SELECT doc_id, [{sig_exprs}] AS sig FROM hm),
bands AS ({band_selects}),
{cand},
j AS (
  SELECT id_a, id_b,
         (len(list_intersect(sa.s, sb.s)) * 1.0)
         / (len(list_distinct(list_concat(sa.s, sb.s))) * 1.0) AS jac
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.id_a
  JOIN sh sb ON sb.doc_id = cand.id_b
)"""


def _oracle_doc_minhash_pairs() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT id_a, id_b, ROUND(jac, 6) + 0.0 AS jaccard
FROM j WHERE jac >= 0.5 ORDER BY id_a, id_b
"""


_CACHE_DIR: str | None = None


def _cache_dir() -> str:
    """This process's layout-cache root, created on first use and
    removed when the process exits: a layout is built once per run and
    probed many times within it, but never outlives the code that
    built it, so no later run can probe a stale layout."""
    global _CACHE_DIR
    if _CACHE_DIR is None:
        import atexit
        import shutil
        import tempfile

        _CACHE_DIR = tempfile.mkdtemp(prefix="kowari_cache_")
        atexit.register(shutil.rmtree, _CACHE_DIR, ignore_errors=True)
    return _CACHE_DIR


def _cached_layout(sf_dir, table, tag_suffix, prefix, marker, build_fn):
    """Shared tag-cached layout stanza under ``_cache_dir()``: rebuild
    iff the source table's stamp or the param tag changed. ``marker``
    is the layout family's LAST-written file — its params sidecar, or
    ``_SUCCESS`` only for a bare parquet write: a crash between the
    parquet commit and the sidecar write must not poison the cache (the
    drift that bit _text_lsh_layout's first version). ``build_fn(path)``
    runs only on a cache miss."""
    import hashlib

    src = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(src)
        stamp = f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        stamp = "na"
    tag = hashlib.md5(
        f"{src}:{stamp}:{tag_suffix}".encode()
    ).hexdigest()[:12]
    path = os.path.join(_cache_dir(), f"{prefix}_{tag}")
    if not os.path.exists(os.path.join(path, marker)):
        build_fn(path)
    return path


def _minhash_sig_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once (per source stamp) persisted signature layout over the
    'history' half of documents (even doc_ids) — the incremental-dedup
    rows probe it without ever re-fingerprinting history (the
    ``_lsh_index`` build/probe caching pattern)."""
    from kowari_spark.operators.dedup_index import build_minhash_layout

    return _cached_layout(
        sf_dir, "documents", "mh16b4s42sig", "mhsig",
        "_minhash_meta.json",
        lambda p: build_minhash_layout(
            _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0),
            p,
        ),
    )


def q_doc_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl-over-history dedup (operators/dedup_index.py,
    VERDICT r8 missing #1): the even-doc_id half is fingerprinted ONCE
    into a partitionBy(band) signature layout; the odd-doc_id 'new
    crawl batch' computes only ITS OWN bands and joins them against the
    stored relation — history text is never re-shingled. mode="pairs"
    so the oracle replays the complete (new, hist) collision join; the
    md5-deterministic signatures make the stored side SQL-expressible."""
    from kowari_spark.operators.dedup_index import dedup_against

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    path = _minhash_sig_layout(spark, sf_dir)
    return dedup_against(spark, path, new, mode="pairs").orderBy(
        "new_id", "hist_id"
    )


def _oracle_doc_dedup_against() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
FROM bands n JOIN bands h ON n.band = h.band AND n.bk = h.bk
WHERE n.doc_id % 2 = 1 AND h.doc_id % 2 = 0
ORDER BY new_id, hist_id
"""


def q_doc_dedup_against_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-VERIFIED incremental dedup (dedup_index.dedup_against
    with verify_threshold): candidates from the stored-band join are
    verified by minhash signature agreement — est_jaccard = matching
    positions / num_hashes, the standard unbiased estimator E = J —
    entirely from stored state, no history text. The oracle replays
    the band join AND the per-position agreement sum over the sig CTE."""
    from kowari_spark.operators.dedup_index import dedup_against

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    path = _minhash_sig_layout(spark, sf_dir)
    return dedup_against(
        spark, path, new, mode="pairs", verify_threshold=0.8
    ).orderBy("new_id", "hist_id")


def _oracle_doc_dedup_against_verified() -> str:
    agree = " + ".join(
        f"(CASE WHEN sa.sig[{i + 1}] = sb.sig[{i + 1}] THEN 1 ELSE 0 END)"
        for i in range(16)
    )
    return f"""
WITH {_minhash_ctes()},
cand2 AS (
  SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
  FROM bands n JOIN bands h ON n.band = h.band AND n.bk = h.bk
  WHERE n.doc_id % 2 = 1 AND h.doc_id % 2 = 0
),
scored AS (
  SELECT c.new_id, c.hist_id,
         ROUND(({agree}) / 16.0, 6) + 0.0 AS est_jaccard
  FROM cand2 c
  JOIN sig sa ON sa.doc_id = c.new_id
  JOIN sig sb ON sb.doc_id = c.hist_id
)
SELECT new_id, hist_id, est_jaccard FROM scored
WHERE est_jaccard >= 0.8 ORDER BY new_id, hist_id
"""


def _simhash_sig_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once persisted simhash layout over the history half —
    unlike minhash, the stored fingerprint IS the verifier, so the
    incremental probe is fully Hamming-VERIFIED from stored state."""
    from kowari_spark.operators.dedup_index import build_simhash_layout

    return _cached_layout(
        sf_dir, "documents", "sh32b8", "shsig", "_simhash_meta.json",
        lambda p: build_simhash_layout(
            _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0),
            p,
        ),
    )


def q_doc_simhash_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERIFIED incremental dedup against stored simhash fingerprints
    (dedup_index.simhash_dedup_against): the odd-doc_id batch computes
    its own fingerprints and joins the even-doc_id history layout —
    Hamming distance verified entirely from the two stored longs, no
    history text touched; the block-partitioned layout prunes history
    reads to the batch's own blocks."""
    from kowari_spark.operators.dedup_index import simhash_dedup_against

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    path = _simhash_sig_layout(spark, sf_dir)
    # pins the complete-collision contract shape (the oracle replays the
    # block-on-block join); the library default is "reps" since r10 —
    # the bounded probe doc_simhash_keep driver-verifies
    return simhash_dedup_against(
        spark, path, new, max_hamming=6, mode="pairs"
    ).orderBy("new_id", "hist_id")


def _simhash_blocked_ctes() -> str:
    """The DuckDB replay of simhash_fingerprints + top-8-bit blocking
    over documents — the shared head of every simhash-layout oracle."""
    h = _SQL_HASH64.format(s="t")
    fp_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, x -> (x >> {j}) & 1 = 1)) > len(hs) "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    )
    return f"""hs AS (
  SELECT doc_id, list_transform(string_split(text, ' '), t -> {h}) AS hs
  FROM documents
),
fp AS (SELECT doc_id, ({fp_terms}) AS simhash FROM hs),
blocked AS (SELECT doc_id, simhash, simhash >> 24 AS block FROM fp)"""


def _oracle_doc_simhash_against() -> str:
    return f"""
WITH {_simhash_blocked_ctes()}
SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id,
       bit_count(xor(n.simhash, h.simhash)) AS hamming
FROM blocked n JOIN blocked h ON n.block = h.block
WHERE n.doc_id % 2 = 1 AND h.doc_id % 2 = 0
  AND bit_count(xor(n.simhash, h.simhash)) <= 6
ORDER BY new_id, hist_id
"""


def q_doc_simhash_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED simhash incremental path (VERDICT r9 #1:
    dedup_index.simhash_filter_new_against rides the new mode="reps"
    probe): each batch fingerprint is Hamming-verified against the
    per-block MIN-id history representative only — O(batch) scored
    rows per block no matter how large the history block (a
    boilerplate family shares one block by construction). The oracle
    replays the reps aggregation (MIN + arg_min over the history half)
    and the verified keep filter independently in SQL — the
    verified-star trade is thus pinned, not approximated."""
    from kowari_spark.operators.dedup_index import simhash_filter_new_against

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    path = _simhash_sig_layout(spark, sf_dir)
    return (
        simhash_filter_new_against(spark, path, new, max_hamming=6)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def _oracle_doc_simhash_keep() -> str:
    return f"""
WITH {_simhash_blocked_ctes()},
reps AS (
  SELECT block, MIN(doc_id) AS hist_id,
         arg_min(simhash, doc_id) AS sh_h
  FROM blocked WHERE doc_id % 2 = 0 GROUP BY block
),
matched AS (
  SELECT DISTINCT n.doc_id
  FROM blocked n JOIN reps r ON n.block = r.block
  WHERE n.doc_id % 2 = 1 AND bit_count(xor(n.simhash, r.sh_h)) <= 6
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM matched)
ORDER BY doc_id
"""


def q_doc_incremental_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-dedup keep filter (dedup_index.filter_new_against):
    new-crawl docs (odd doc_ids) colliding with NO stored history
    signature survive into ingestion — the reps-mode probe decides
    membership from one bucket-min representative per matched bucket,
    O(batch) output rows against any size history family."""
    from kowari_spark.operators.dedup_index import filter_new_against

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    path = _minhash_sig_layout(spark, sf_dir)
    return (
        filter_new_against(spark, path, new)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def _oracle_doc_incremental_keep() -> str:
    return f"""
WITH {_minhash_ctes()},
matched AS (
  SELECT DISTINCT n.doc_id
  FROM bands n JOIN bands h ON n.band = h.band AND n.bk = h.bk
  WHERE n.doc_id % 2 = 1 AND h.doc_id % 2 = 0
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM matched)
ORDER BY doc_id
"""


def q_doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup end-game: connected components over verified minhash pairs
    (operators/dedup.dedup_clusters — adaptive: min-label propagation
    with an exact large-star/small-star fall-through, star contraction
    outright on big graphs); oracle = recursive-CTE reachability min."""
    docs = _t(spark, sf_dir, "documents")
    # pins verified-PAIRS CC semantics (the oracle replays the pairs
    # CTE chain); the library default is "auto" since r9 and the star
    # twin (doc_dedup_keep_star) covers that path
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5, edges="pairs")
    return D.dedup_clusters(pairs).orderBy("id")


def _oracle_doc_dup_clusters() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes()},
pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT s AS id, s AS label FROM edges
  UNION
  SELECT e.s, r.label FROM edges e JOIN reach r ON e.d = r.id
)
SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id ORDER BY id
"""


def q_doc_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION applied (operators/dedup.
    dedup_keep_representatives): the surviving corpus after dropping
    every minhash-near-dup cluster member except its min-id
    representative — what a pipeline actually writes out. Composition
    of oracle-verified pieces: banded minhash pairs -> adaptive CC ->
    left-anti join of the losers."""
    docs = _t(spark, sf_dir, "documents")
    # pins verified-PAIRS keep semantics (oracle replays the pairs
    # CTE chain); library default is "auto" since r9 - the star twin
    # doc_dedup_keep_star drives that path
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5, edges="pairs")
    return (
        D.dedup_keep_representatives(docs, pairs)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def _oracle_doc_dedup_keep() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes()},
pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT s AS id, s AS label FROM edges
  UNION
  SELECT e.s, r.label FROM edges e JOIN reach r ON e.d = r.id
),
lab AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id, d.lang, d.source
FROM documents d
LEFT JOIN lab l ON l.id = d.doc_id
WHERE l.id IS NULL OR l.cluster_id = d.doc_id
ORDER BY d.doc_id
"""


def q_doc_dedup_keep_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-list pipeline on STAR candidate edges (operators/dedup.
    bucket_star_edges — round-8 #1: per-bucket member↔min edges, O(B)
    instead of the all-pairs join's O(B²) per bucket, identical
    connected components for unverified candidates). This row pins the
    VERIFIED composition end-to-end: star candidates -> exact Jaccard
    >= 0.5 -> adaptive CC -> min-id representatives; the oracle replays
    the star candidate generation (GROUP BY bucket MIN + join-back)
    CTE-for-CTE, so any drift in the star semantics fails the hash."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5, edges="star")
    return (
        D.dedup_keep_representatives(docs, pairs)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def _oracle_doc_dedup_keep_star() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes(edges="star")},
pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT s AS id, s AS label FROM edges
  UNION
  SELECT e.s, r.label FROM edges e JOIN reach r ON e.d = r.id
),
lab AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id, d.lang, d.source
FROM documents d
LEFT JOIN lab l ON l.id = d.doc_id
WHERE l.id IS NULL OR l.cluster_id = d.doc_id
ORDER BY d.doc_id
"""


def q_doc_minhash_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs under AUTO-TUNED banding: (num_hashes,
    bands) derived from the target Jaccard threshold by
    operators/dedup.minhash_banding (the 1-(1-s^r)^b S-curve midpoint)
    instead of the hand-tuned 16/4 default. The oracle replays the SAME
    derived banding (both sides call the tuner), so the tuner's output
    is itself pinned by the hash."""
    docs = _t(spark, sf_dir, "documents")
    nh, b = D.minhash_banding(0.5)
    pairs = D.minhash_dedup_pairs(
        docs, threshold=0.5, num_hashes=nh, bands=b, edges="pairs"
    )
    return pairs.select(
        "id_a", "id_b", (F.round(F.col("jaccard"), 6) + F.lit(0.0)).alias("jaccard")
    ).orderBy("id_a", "id_b")


def _oracle_doc_minhash_tuned() -> str:
    nh, b = D.minhash_banding(0.5)
    return f"""
WITH {_minhash_ctes(num_hashes=nh, bands=b)}
SELECT id_a, id_b, ROUND(jac, 6) + 0.0 AS jaccard
FROM j WHERE jac >= 0.5 ORDER BY id_a, id_b
"""


def _doc_qvecs(spark: SparkSession, sf_dir: str, ids) -> dict:
    """Query-vector fetch: hashed embeddings of ONLY the requested docs.

    Each doc's feature-hashed embedding depends solely on its own text
    (explode tokens -> hash -> per-doc aggregate), so filtering the
    documents FIRST is value-identical to embedding the whole corpus
    and filtering after — while turning a 32-task spread + full-table
    aggregation into one pruned parquet scan (PushedFilters on doc_id)
    with a couple of tasks. ``spread=False`` skips the few-split scan
    spread that exists for corpus-sized inputs (guide §2.3: project and
    filter before the expensive work, not after)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id").isin(list(ids)))
    emb = T.hashed_embeddings(docs, "text", "doc_id", 32, spread=False)
    return {r["doc_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}


def q_doc_text_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full text->vector->search pipeline: feature-hashed document
    embeddings (functions/text.hashed_embedding, model-free) ranked by
    cosine against doc 0's embedding — documents flow through the SAME
    knn operator as the embeddings table."""
    docs = _t(spark, sf_dir, "documents")
    embedded = T.hashed_embeddings(docs, "text", "doc_id", 32)
    qvec = _doc_qvecs(spark, sf_dir, [0])[0]
    return knn(
        embedded, qvec, 10,
        metric="cosine", id_col="doc_id", round_to=6,
    )


def _oracle_doc_text_knn(k: int = 10) -> str:
    h = _SQL_HASH64.format(s="t")
    counts = (
        f"list_transform(range(0, 32), "
        f"j -> CAST(len(list_filter(toks, t -> {h} % 32 = j)) AS DOUBLE))"
    )
    cos = _cos_sql("e.v", "q.v")
    return f"""
WITH c AS (
  SELECT doc_id, {counts} AS cnt
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
n AS (
  SELECT doc_id,
         CASE WHEN sqrt(list_dot_product(cnt, cnt)) = 0 THEN cnt
              ELSE list_transform(cnt, x -> x / sqrt(list_dot_product(cnt, cnt)))
         END AS v
  FROM c
),
q AS (SELECT v FROM n WHERE doc_id = 0)
SELECT e.doc_id AS doc_id, ROUND({cos}, 6) + 0.0 AS score
FROM n e CROSS JOIN q
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def q_doc_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint candidates (operators/dedup.
    winnow_pairs): k=4-token grams, window=4 minimum selection, pairs
    sharing >= 2 fingerprints — catches shared token RUNS (boilerplate,
    quoted passages) that whole-document minhash dilutes. Exact DuckDB
    oracle reproduces grams, hashes, window minima and the pair join."""
    docs = _t(spark, sf_dir, "documents")
    return D.winnow_pairs(
        docs, k=4, window=4, min_shared=2, edges="pairs"
    ).orderBy("id_a", "id_b")


def _oracle_doc_winnow_pairs() -> str:
    h = _SQL_HASH64.format(s="s")
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) - 3 >= 1
              THEN list_transform(range(1, len(toks) - 3 + 1),
                                  i -> array_to_string(list_slice(toks, i, i + 3), ' '))
              ELSE [array_to_string(toks, ' ')] END AS grams
  FROM t),
h AS (SELECT doc_id, list_transform(grams, s -> {h}) AS hashes FROM g),
sel AS (
  SELECT doc_id,
         list_sort(list_distinct(
           list_transform(range(1, greatest(len(hashes) - 3, 1) + 1),
                          j -> list_min(list_slice(hashes, j, j + 3))))) AS fps
  FROM h),
e AS (SELECT doc_id, unnest(fps) AS fp FROM sel)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared
FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
ORDER BY id_a, id_b
"""


def _winnow_sig_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once persisted winnowing-fingerprint layout over the
    history half — the substring-robust member of the signature-layout
    trio (minhash bands / simhash blocks / winnow fps)."""
    from kowari_spark.operators.dedup_index import build_winnow_layout

    return _cached_layout(
        sf_dir, "documents", "wk4w4", "wsig", "_winnow_meta.json",
        lambda p: build_winnow_layout(
            _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0),
            p,
        ),
    )


def q_doc_winnow_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-robust incremental dedup against stored winnowing
    fingerprints (dedup_index.winnow_dedup_against): the odd-doc_id
    batch fingerprints only itself and joins the even-doc_id history
    layout — the shared-fingerprint count is the match evidence,
    computed entirely from stored state. mode="pairs" so the oracle
    replays the complete per-pair shared counts."""
    from kowari_spark.operators.dedup_index import winnow_dedup_against

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    path = _winnow_sig_layout(spark, sf_dir)
    return winnow_dedup_against(
        spark, path, new, min_shared=2, mode="pairs"
    ).orderBy("new_id", "hist_id")


def _oracle_doc_winnow_against() -> str:
    h = _SQL_HASH64.format(s="s")
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) - 3 >= 1
              THEN list_transform(range(1, len(toks) - 3 + 1),
                                  i -> array_to_string(list_slice(toks, i, i + 3), ' '))
              ELSE [array_to_string(toks, ' ')] END AS grams
  FROM t),
h AS (SELECT doc_id, list_transform(grams, s -> {h}) AS hashes FROM g),
sel AS (
  SELECT doc_id,
         list_sort(list_distinct(
           list_transform(range(1, greatest(len(hashes) - 3, 1) + 1),
                          j -> list_min(list_slice(hashes, j, j + 3))))) AS fps
  FROM h),
e AS (SELECT doc_id, unnest(fps) AS fp FROM sel)
SELECT n.doc_id AS new_id, h2.doc_id AS hist_id,
       CAST(COUNT(*) AS BIGINT) AS shared
FROM e n JOIN e h2 ON n.fp = h2.fp
WHERE n.doc_id % 2 = 1 AND h2.doc_id % 2 = 0
GROUP BY 1, 2
HAVING COUNT(*) >= 2
ORDER BY new_id, hist_id
"""


def q_doc_winnow_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing candidates in STAR mode (round-8 #1): edges only
    member↔fingerprint-bucket-min, with ``shared`` counting the
    buckets where THAT member co-occurs with THAT min — the third
    verified-variant semantics (a lower bound of the pairwise shared
    count, so min_shared prunes at least as hard; pinned in tests).
    The oracle replays the bucket-min generation and the per-edge
    count."""
    docs = _t(spark, sf_dir, "documents")
    return D.winnow_pairs(
        docs, k=4, window=4, min_shared=2, edges="star"
    ).orderBy("id_a", "id_b")


def _oracle_doc_winnow_star() -> str:
    h = _SQL_HASH64.format(s="s")
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) - 3 >= 1
              THEN list_transform(range(1, len(toks) - 3 + 1),
                                  i -> array_to_string(list_slice(toks, i, i + 3), ' '))
              ELSE [array_to_string(toks, ' ')] END AS grams
  FROM t),
h AS (SELECT doc_id, list_transform(grams, s -> {h}) AS hashes FROM g),
sel AS (
  SELECT doc_id,
         list_sort(list_distinct(
           list_transform(range(1, greatest(len(hashes) - 3, 1) + 1),
                          j -> list_min(list_slice(hashes, j, j + 3))))) AS fps
  FROM h),
e AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
m AS (SELECT fp, MIN(doc_id) AS bmin FROM e GROUP BY fp)
SELECT m.bmin AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared
FROM e b JOIN m ON b.fp = m.fp AND b.doc_id != m.bmin
GROUP BY 1, 2
HAVING COUNT(*) >= 2
ORDER BY id_a, id_b
"""


def q_salted_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation primitives under the oracle's microscope
    (operators/skew.py): lineitem joined to supplier through
    ``salted_join`` (big side salted, small side replicated 8x) and
    aggregated through ``salted_aggregate`` (two-stage partial/merge) —
    the oracle is the PLAIN SQL join+groupBy, so the salting machinery
    is pinned to change nothing but the shuffle layout. Money sums stay
    exact-decimal through both stages (cast to double only at output)."""
    from kowari_spark.operators.skew import salted_aggregate, salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_extendedprice", "l_discount"
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    joined = salted_join(li, sup, ["suppkey"], n_salts=8)
    p = F.col("l_extendedprice").cast("decimal(12,2)")
    d = F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)")
    agg = salted_aggregate(
        joined,
        ["s_name"],
        {
            "revenue": (F.sum(p * d), F.sum(F.col("revenue"))),
            "n_lines": (F.count("*"), F.sum(F.col("n_lines"))),
        },
        salt_from=["l_extendedprice", "l_discount"],
        n_salts=8,
    )
    return agg.select(
        "s_name",
        F.col("revenue").cast("double").alias("revenue"),
        F.col("n_lines").cast("long").alias("n_lines"),
    ).orderBy("s_name")


def _oracle_salted_supplier_revenue() -> str:
    rev = _SQL_REV.format(p="l.l_extendedprice", d="l.l_discount")
    return f"""
SELECT s.s_name AS s_name,
       {rev} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_name
ORDER BY s_name
"""


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (operators/stats.retention_cohorts):
    cohort = Monday of the week of a user's first event, cell = distinct
    users active N weeks later. Exact distinct counts, date-truncation
    parity pinned to DuckDB's ISO week."""
    from kowari_spark.operators.stats import retention_cohorts

    ev = _events(spark, sf_dir)
    return retention_cohorts(ev).orderBy("cohort_week", "week_n")


_ORACLE_EVENTS_RETENTION = """
WITH f AS (SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id),
j AS (SELECT e.user_id, e.ts, f.t0 FROM events e JOIN f ON e.user_id = f.user_id)
SELECT strftime(date_trunc('week', t0), '%Y-%m-%d') AS cohort_week,
       CAST(FLOOR(date_diff('day', CAST(t0 AS DATE), CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week_n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
FROM j
GROUP BY 1, 2
ORDER BY cohort_week, week_n
"""


def q_doc_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-data splits + sampling
    (operators/sampling.py): every document's train/val/test assignment
    and 10%-sample membership is a pure function of its id hash —
    reproducible across engines, partitionings and re-ingests (no RNG).
    Output: per-split doc counts and sampled-doc counts; the oracle
    recomputes the identical hash arithmetic in SQL."""
    from kowari_spark.operators.sampling import hash_uniform, train_val_test

    docs = _t(spark, sf_dir, "documents")
    split = train_val_test(docs, id_col="doc_id", seed=7)
    return (
        split.withColumn(
            "in_sample", (hash_uniform("doc_id", seed=11) < F.lit(0.1)).cast("int")
        )
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("in_sample").cast("long").alias("n_sampled"),
        )
        .orderBy("split")
    )


def _oracle_doc_split_sample() -> str:
    h7 = _SQL_HASH64.format(s="CAST(doc_id AS VARCHAR) || '#7'")
    h11 = _SQL_HASH64.format(s="CAST(doc_id AS VARCHAR) || '#11'")
    space = float(1 << 60)
    # thresholds accumulated EXACTLY as split_assign does (0.8 + 0.1 is
    # 0.9000000000000001 in IEEE — the boundary literal must match)
    t_train = repr(0.8)
    t_val = repr(0.8 + 0.1)
    return f"""
WITH u AS (
  SELECT doc_id,
         CAST({h7} AS DOUBLE) / {space!r} AS u7,
         CAST({h11} AS DOUBLE) / {space!r} AS u11
  FROM documents)
SELECT CASE WHEN u7 < {t_train} THEN 'train'
            WHEN u7 < {t_val} THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN u11 < 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM u
GROUP BY 1
ORDER BY split
"""


def q_doc_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary statistics (round 14,
    operators/quality.vocab_stats): token count, type count, hapax
    fraction, and type-token ratio — the tokenizer-sizing / corpus
    drift telemetry. The heavy shuffle carries one row per DISTINCT
    (lang, token) (map-side partial agg), never per occurrence; ratios
    are one IEEE divide over integer counts rounded to 9 (oracle-
    exact)."""
    from kowari_spark.operators.quality import vocab_stats

    docs = _t(spark, sf_dir, "documents")
    return vocab_stats(docs, by="lang").orderBy("lang")


_ORACLE_DOC_VOCAB_STATS = """
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents
), per AS (
  SELECT lang, t, COUNT(*) AS c FROM tok GROUP BY lang, t
)
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 9)
         + 0.0 AS hapax_frac,
       ROUND(COUNT(*)::DOUBLE / SUM(c), 9) + 0.0 AS ttr
FROM per GROUP BY lang ORDER BY lang
"""


def q_doc_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced language resampling (round 14,
    operators/sampling.temperature_sample — the mC4/XLM-R n^alpha
    staple): keep fraction (n_min/n_g)^(1-alpha) of every language,
    membership a pure function of the id hash (mode="hash": one count
    aggregate + a broadcast join + a codegen filter — ZERO corpus
    shuffle). Fractions round to 9 decimals in-plan (the idf
    precedent), so the oracle reproduces the exact survivor set:
    counts, pow, threshold, and hash arithmetic all replayed in SQL."""
    from kowari_spark.operators.sampling import temperature_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        temperature_sample(docs, alpha=0.5, by="lang", id_col="doc_id")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def _oracle_doc_temperature_sample() -> str:
    alpha = 0.5
    h = _SQL_HASH64.format(s="CAST(doc_id AS VARCHAR) || '#42'")
    space = float(1 << 60)
    return f"""
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
m AS (SELECT MIN(pow(n, {1.0 - alpha!r})) AS C FROM c),
f AS (SELECT lang, ROUND(C * pow(n, {alpha - 1.0!r}), 9) AS frac
      FROM c, m)
SELECT d.doc_id, d.lang
FROM documents d JOIN f USING (lang)
WHERE CAST({h} AS DOUBLE) / {space!r} < f.frac
ORDER BY d.doc_id
"""


def q_doc_temperature_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count temperature sampling (round 15 — VERDICT r14 #6):
    each language keeps EXACTLY greatest(1, round(frac*n)) documents,
    selected by id-hash order via TWO-PHASE distributed order
    statistics — a per-(group, hash-bucket) histogram finds each
    group's boundary bucket, rows below it keep by broadcast-joined
    pure filter (zero corpus shuffle), and only the boundary bucket's
    ~n_g/1024 slice ranks through a window (a dominant group never
    lands in one task; plan-gated in tests). The oracle replays the
    single-window rank in SQL — a hash match proves the two-phase
    selection equals the naive global rank exactly."""
    from kowari_spark.operators.sampling import temperature_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        temperature_sample(
            docs, alpha=0.3, by="lang", id_col="doc_id", mode="exact"
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def _oracle_doc_temperature_exact() -> str:
    alpha = 0.3
    h = _SQL_HASH64.format(s="CAST(doc_id AS VARCHAR) || '#42'")
    return f"""
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
m AS (SELECT MIN(pow(n, {1.0 - alpha!r})) AS C FROM c),
f AS (SELECT lang, n, ROUND(C * pow(n, {alpha - 1.0!r}), 9) AS frac
      FROM c, m),
r AS (
  SELECT d.doc_id, d.lang,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY {h} ASC, d.doc_id ASC) AS rk,
         GREATEST(1, CAST(ROUND(f.frac * f.n, 0) AS BIGINT)) AS k
  FROM documents d JOIN f USING (lang))
SELECT doc_id, lang FROM r WHERE rk <= k ORDER BY doc_id
"""


def q_doc_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/pack.py): every
    document's (stream, token span, chunk range) under 512-token chunks
    across 32 hash-assigned streams — the standard LLM-pretraining
    packing step as ONE window cumulative sum per stream (one shuffle on
    stream, no single-partition window, no UDF). The assignment is a
    pure function of (ids, token counts), so the oracle replays it
    exactly in SQL."""
    from kowari_spark.operators.pack import pack_documents

    docs = _t(spark, sf_dir, "documents")
    return pack_documents(docs, budget=512, num_streams=32)


def _oracle_doc_pack_chunks() -> str:
    h = _SQL_HASH64.format(s="CAST(doc_id AS VARCHAR)")
    return f"""
WITH t AS (
  SELECT doc_id,
         {h} % 32 AS stream,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, stream, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS end_pos
  FROM t)
SELECT doc_id, stream, n_tokens,
       end_pos - n_tokens AS start_pos,
       end_pos,
       (end_pos - n_tokens) // 512 AS first_chunk,
       (end_pos - 1) // 512 AS last_chunk
FROM c
"""


_SPAN_L = 5


def _span_dup_sql() -> str:
    """Shared CTE chain: (doc_id, pos) of every non-corpus-first
    duplicated {L}-gram occurrence (0-based), replaying
    operators/spans._dup_gram_positions."""
    L = _SPAN_L
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(L))
    h = _SQL_HASH64.format(s="gm")
    return f"""
tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
gp AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos, {gram} AS gm
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - {L - 2})) AS i
        FROM tk WHERE len(t) >= {L})),
rk AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY {h} ORDER BY doc_id, pos) AS r
  FROM gp),
dup AS (SELECT doc_id, pos FROM rk WHERE r > 1)"""


def q_doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, detection side (operators/spans.
    duplicate_spans — Lee et al. 2022 span dedup without the suffix
    array): maximal duplicated token spans per document, where a span
    is any non-corpus-first run of >= 5 tokens appearing elsewhere.
    One shuffle keyed on the gram hash (global first-occurrence rank),
    one keyed on the doc id (gaps-and-islands merge)."""
    from kowari_spark.operators.spans import duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicate_spans(docs, min_len=_SPAN_L).orderBy(
        "doc_id", "span_start"
    )


def _oracle_doc_dup_spans() -> str:
    L = _SPAN_L
    return f"""
WITH {_span_dup_sql()},
isl AS (
  SELECT doc_id, pos,
         CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END AS nw
  FROM (
    SELECT doc_id, pos,
           MAX(pos + {L - 1}) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM dup)),
grp AS (
  SELECT doc_id, pos,
         SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM isl)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {L - 1} AS BIGINT) AS span_end,
       CAST(MAX(pos) + {L - 1} - MIN(pos) + 1 AS BIGINT) AS span_tokens
FROM grp
GROUP BY doc_id, g
ORDER BY doc_id, span_start
"""


def q_doc_despan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup APPLIED (operators/spans.
    remove_duplicate_spans): every document rebuilt without its
    non-first duplicated >= 5-token spans (corpus-first occurrence
    survives). The row hashes the rebuilt text (md5) plus token
    counts, so any divergence in span detection, merge, or rebuild
    order breaks the compare (the gram hasher is also pinned against
    this replay by tests/test_spans.py::test_arrow_gram_engine_parity)."""
    from kowari_spark.operators.spans import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, min_len=_SPAN_L).select(
        "doc_id", F.md5("clean_text").alias("clean_fp"),
        "n_tokens", "removed_tokens",
    ).orderBy("doc_id")


def _oracle_doc_despan() -> str:
    L = _SPAN_L
    return f"""
WITH {_span_dup_sql()},
rm AS (
  SELECT DISTINCT doc_id, pos + off AS tp
  FROM dup, (SELECT unnest(range(0, {L})) AS off)),
tok AS (
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS tp, unnest(t) AS tk
  FROM tk),
kept AS (
  SELECT tok.doc_id, tok.tp, tok.tk
  FROM tok LEFT JOIN rm ON tok.doc_id = rm.doc_id AND tok.tp = rm.tp
  WHERE rm.doc_id IS NULL),
reb AS (
  SELECT doc_id, string_agg(tk, ' ' ORDER BY tp) AS clean_text,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM kept GROUP BY doc_id)
SELECT d.doc_id,
       md5(COALESCE(clean_text, '')) AS clean_fp,
       COALESCE(n_tokens, 0) AS n_tokens,
       CAST(len(string_split(d.text, ' ')) - COALESCE(n_tokens, 0) AS BIGINT)
         AS removed_tokens
FROM documents d
LEFT JOIN reb ON reb.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def q_doc_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram surprisal (operators/quality.unigram_surprisal): each
    document's mean ln-probability under the corpus's own unigram model
    — the model-free CCNet-style perplexity quality proxy. Per-token
    log-probs round to 9 decimals (ln() parity) and fold in position
    order, so the value is engine-exact."""
    from kowari_spark.operators.quality import unigram_surprisal

    docs = _t(spark, sf_dir, "documents")
    return unigram_surprisal(docs)


_ORACLE_DOC_SURPRISAL = """
WITH tok AS (
  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tk
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
vocab AS (SELECT tk, COUNT(*) AS c FROM tok GROUP BY 1),
total AS (SELECT SUM(c) AS tot FROM vocab),
lp AS (
  SELECT doc_id, pos, ROUND(LN(CAST(c AS DOUBLE) / tot), 9) AS logp
  FROM tok JOIN vocab USING (tk) CROSS JOIN total)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(list_reduce(
               list_concat([0.0], list_transform(
                 list_sort(list({'p': pos, 'l': logp})), x -> x.l)),
               (a, b) -> a + b) / COUNT(*), 6) + 0.0 AS mean_logprob
FROM lp
GROUP BY doc_id
"""


def q_doc_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination (operators/decontam.
    semantic_decontaminate): flag documents whose feature-hashed
    embedding lands within cosine 0.98 of ANY eval doc (doc_id % 17 ==
    0 stands in for the benchmark) — the paraphrase-leakage companion
    to the 13-gram filter. Oracle replays the hashed embeddings, the
    broadcast cross-score, the per-doc max and the left join."""
    from kowari_spark.operators.decontam import semantic_decontaminate

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    return semantic_decontaminate(docs, ev, 0.98).orderBy("doc_id")


def _oracle_doc_semantic_decontam() -> str:
    h = _SQL_HASH64.format(s="t")
    counts = (
        f"list_transform(range(0, 32), "
        f"j -> CAST(len(list_filter(toks, t -> {h} % 32 = j)) AS DOUBLE))"
    )
    cos = _cos_sql("e.v", "ev.v")
    return f"""
WITH c AS (
  SELECT doc_id, {counts} AS cnt
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
n AS (
  SELECT doc_id,
         CASE WHEN sqrt(list_dot_product(cnt, cnt)) = 0 THEN cnt
              ELSE list_transform(cnt, x -> x / sqrt(list_dot_product(cnt, cnt)))
         END AS v
  FROM c
),
ev AS (SELECT v FROM n WHERE doc_id % 17 = 0),
s AS (
  SELECT e.doc_id, MAX(ROUND({cos}, 6) + 0.0) AS mc
  FROM n e CROSS JOIN ev
  GROUP BY e.doc_id
)
SELECT d.doc_id, COALESCE(s.mc, 0.0) + 0.0 AS max_eval_cos,
       COALESCE(s.mc, 0.0) >= 0.98 AS is_contaminated
FROM documents d LEFT JOIN s USING (doc_id)
ORDER BY doc_id
"""


def q_embedding_cluster_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClusterClip-style topic balancing: assign every embedding to its
    IVF cell (the fitted coarse quantizer — same fit the ivf_knn row
    replays) and keep the 10 most-central members per cell (distance to
    the cell's own centroid ASC, vec_id tie-break) via
    operators/sampling.source_cap — over-represented topics are capped,
    rare topics kept whole. The oracle re-derives the ENTIRE pipeline:
    seeding, Lloyd rounds, assignment, per-cell distance and the cap."""
    from kowari_spark.functions.vector import euclidean_distance
    from kowari_spark.operators.sampling import source_cap

    ivf, lists = _ivf_index(spark, sf_dir)
    from kowari_spark.fsutil import local_df

    cents = local_df(
        spark,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(ivf.centroids)],
        "list_id int, cvec array<double>",
    )
    member = lists.join(F.broadcast(cents), "list_id").withColumn(
        "dist",
        F.round(euclidean_distance("embedding", "cvec"), 6) + F.lit(0.0),
    )
    return source_cap(
        member, 10, by="list_id", order_by=[F.asc("dist")], id_col="vec_id"
    ).select(
        "vec_id", F.col("list_id").cast("long").alias("list_id"), "dist"
    )


def _oracle_embedding_cluster_cap() -> str:
    fin = f"c{_IVF_PARAMS['max_iter']}"
    dist = _ivf_dist_sql("a.e", "c.vec")
    ctes = _ivf_fit_sql_ctes()
    return (
        "WITH\n" + ",\n".join(ctes) + f"""
SELECT vec_id, list_id, dist FROM (
  SELECT a.vec_id, a.cid AS list_id,
         ROUND(sqrt({dist}), 6) + 0.0 AS dist,
         row_number() OVER (
           PARTITION BY a.cid
           ORDER BY ROUND(sqrt({dist}), 6) + 0.0 ASC, a.vec_id ASC
         ) AS rk
  FROM fa a JOIN {fin} c ON c.cid = a.cid)
WHERE rk <= 10"""
    )


def q_doc_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency cap (operators/sampling.source_cap): keep
    the 15 longest docs per source (n_chars DESC, doc_id ASC tie-break)
    — the RefinedWeb/Gopher heavy-hitter guard. Partial top-k below the
    exchange (plan-gated in tests)."""
    from kowari_spark.operators.sampling import source_cap

    docs = _t(spark, sf_dir, "documents")
    return source_cap(
        docs, 15, order_by=F.desc("n_chars")
    ).select("doc_id", "source", "n_chars")


_ORACLE_DOC_SOURCE_CAP = """
SELECT doc_id, source, n_chars
FROM (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents
)
WHERE rk <= 15
"""


def q_doc_surprisal_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus split (quality.surprisal_buckets,
    Wenzek et al. 2020): rank each language's documents by the unigram
    fluency proxy and NTILE(3) them into equal-count buckets — the
    slice labels a curation pipeline trains on first/last. Exact mode
    (the SQL-replayable contract shape; ``mode="approx"`` is the
    sort-free percentile-boundary path for corpus scale,
    tested equivalent away from boundaries)."""
    from kowari_spark.operators.quality import surprisal_buckets

    docs = _t(spark, sf_dir, "documents")
    return surprisal_buckets(docs, strata_col="lang").orderBy("doc_id")


def _oracle_doc_surprisal_buckets() -> str:
    base = _ORACLE_DOC_SURPRISAL.strip()
    return f"""
WITH s AS ({base}),
j AS (SELECT s.*, d.lang FROM s JOIN documents d USING (doc_id))
SELECT doc_id, lang, n_tokens, mean_logprob,
       (['head', 'middle', 'tail'])[
         NTILE(3) OVER (PARTITION BY lang
                        ORDER BY mean_logprob DESC, doc_id ASC)
       ] AS bucket
FROM j
ORDER BY doc_id
"""


def q_doc_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters (operators/quality.top_ngrams): the 20 most
    frequent word bigrams with occurrence + document counts — the
    boilerplate-discovery view. One explode, per-(gram, doc) partial
    reduce before the wide shuffle, TakeOrderedAndProject top-k; ties
    break on the gram string so the result is total-ordered."""
    from kowari_spark.operators.quality import top_ngrams

    docs = _t(spark, sf_dir, "documents")
    return top_ngrams(docs, n=2, k=20)


_ORACLE_DOC_TOP_BIGRAMS = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (SELECT doc_id,
             unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
      FROM tk WHERE len(t) >= 2),
pd AS (SELECT gram, doc_id, COUNT(*) AS c FROM g GROUP BY 1, 2)
SELECT gram, CAST(SUM(c) AS BIGINT) AS occurrences,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pd GROUP BY 1
ORDER BY occurrences DESC, gram
LIMIT 20
"""


_MIX_WEIGHTS = {"en": 0.5, "de": 0.2, "es": 0.15, "fr": 0.15}


_BM25_BATCH = {"qa": "vector hash join batch", "qb": "filter scan", "qc": "merge sort"}


def q_doc_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BM25 (operators/search.bm25_search_batch): three queries
    share ONE corpus pass — the union of query terms drives one fused
    matching projection, the (query, term) relation broadcasts, scores
    fold in sorted term order (bit-identical per query to the single
    path, parity-tested), window top-10 per query."""
    from kowari_spark.operators.search import bm25_search_batch

    docs = _t(spark, sf_dir, "documents")
    return bm25_search_batch(docs, _BM25_BATCH, k=10).orderBy(
        "query_id", "rank"
    )


def _oracle_doc_bm25_batch() -> str:
    from kowari_spark.operators.search import bm25_oracle_sql

    parts = []
    for qid, q in _BM25_BATCH.items():
        single = bm25_oracle_sql(q, k=10)
        parts.append(
            f"SELECT '{qid}' AS query_id, doc_id, bm25, n_terms,\n"
            f"       CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)"
            f" AS rank\nFROM ({single})"
        )
    return "\nUNION ALL\n".join(parts)


def q_doc_dsir_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection (operators/sampling.dsir_top, Xie et
    al. 2023): rank raw documents by how much more likely their hashed
    n-gram (uni+bi) features are under the TARGET slice's bucket model
    (here: the corpus's English documents) than under the raw corpus's
    own, add-one-smoothed; keep the deterministic top 50. Per-bucket
    logs rounded to 9 before the per-document position-ordered fold
    (the unigram_surprisal discipline), so the whole selection — hash
    buckets, histograms, smoothing, fold, tie-broken top-k — replays
    exactly in SQL."""
    from kowari_spark.operators.sampling import dsir_top

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return dsir_top(docs, target, 50).orderBy(
        F.desc("dsir_logw"), F.col("doc_id")
    )


def _oracle_doc_dsir_top() -> str:
    h = _SQL_HASH64.format(s="g")
    return f"""
WITH tk AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS t FROM documents),
uni AS (SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS g
        FROM tk),
bl AS (SELECT doc_id, len(t) AS nt,
              list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bg
       FROM tk),
bi AS (SELECT doc_id, nt + generate_subscripts(bg, 1) AS pos, unnest(bg) AS g
       FROM bl),
feats AS (SELECT doc_id, pos, ({h}) % 10000 AS b
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
rh AS (SELECT b, COUNT(*) AS cr FROM feats GROUP BY 1),
th AS (SELECT f.b, COUNT(*) AS ct
       FROM feats f JOIN documents d USING (doc_id)
       WHERE d.lang = 'en' GROUP BY 1),
tot AS (SELECT (SELECT SUM(cr) FROM rh) AS totr,
               (SELECT SUM(ct) FROM th) AS tott),
lr AS (SELECT rh.b,
              ROUND(LN(CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / (tott + 10000)), 9)
            - ROUND(LN(CAST(cr + 1 AS DOUBLE) / (totr + 10000)), 9) AS lrv
       FROM rh LEFT JOIN th ON rh.b = th.b CROSS JOIN tot),
per AS (SELECT doc_id, pos, lrv FROM feats JOIN lr USING (b)),
agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
               ROUND(list_reduce(
                 list_concat([0.0], list_transform(
                   list_sort(list({{'p': pos, 'l': lrv}})), x -> x.l)),
                 (a, b) -> a + b), 6) + 0.0 AS dsir_logw
        FROM per GROUP BY doc_id)
SELECT doc_id, n_feats, dsir_logw FROM agg
ORDER BY dsir_logw DESC, doc_id LIMIT 50
"""


def _dsir_layout(spark: SparkSession, sf_dir: str) -> str:
    """Persisted DSIR model over raw = even doc_ids, target = the
    corpus's English docs — PRODUCED VIA THE ADDITIVE MAINTENANCE PATH
    (VERDICT r11 ask #1): fit on the doc_id%4==0 quarter, then
    sampling.append_dsir_layout rolls the doc_id%4==2 quarter's
    histogram into the stored model. build(a)+append(b) is
    bit-identical to build(a ∪ b) (parity contract), so the
    doc_dsir_against oracle — which replays one fit over ALL even ids
    in SQL — validates the appended layout itself. Tag-cached so the
    row times the batch SCORING, not the fit."""
    from kowari_spark.operators.sampling import (
        append_dsir_layout,
        build_dsir_layout,
    )

    def build(p):
        import os

        docs = _t(spark, sf_dir, "documents")
        build_dsir_layout(
            docs.filter(F.col("doc_id") % 4 == 0),
            docs.filter(F.col("lang") == "en"),
            p,
        )
        append_dsir_layout(
            spark, p, docs.filter(F.col("doc_id") % 4 == 2), which="raw"
        )
        # cache sentinel AFTER the append commits: the layout's own
        # sidecar exists already after build_dsir_layout, so using it
        # as the marker would let a crash between build and append
        # poison the cache with a quarter-rolled model (_cached_layout's
        # marker-discipline docstring names exactly this drift)
        open(os.path.join(p, "_contract_roll_done"), "w").close()

    return _cached_layout(
        sf_dir, "documents", "dsir10k-app", "dsir",
        "_contract_roll_done", build,
    )


def q_doc_dsir_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DSIR (VERDICT r10 ask #3, r11 ask #1): the
    importance model — the DENSE 10k-bucket log-ratio relation — is
    fit over one quarter of the raw docs vs the English target slice,
    then GROWN to the even-doc_id half by additively rolling the other
    quarter's histogram into the stored layout
    (sampling.append_dsir_layout — no corpus re-read, bit-identical to
    a refit); the odd 'crawl batch' is then scored
    with ONE pass over the batch (stored ratios broadcast into its
    feature stream), zero passes over either fit corpus. Top 50 by
    target-likeness, id tie-broken. The ENTIRE pipeline — fit
    histograms, dense smoothing, stored-ratio join, position-ordered
    fold, top-k — replays exactly in SQL."""
    from kowari_spark.operators.sampling import dsir_score_against

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    path = _dsir_layout(spark, sf_dir)
    return (
        dsir_score_against(spark, path, batch)
        .orderBy(F.desc("dsir_logw"), F.col("doc_id"))
        .limit(50)
    )


def _dsir_oracle(raw_where: str, batch_where: str) -> str:
    """Shared DuckDB replay of stored-model DSIR scoring: fit raw over
    ``raw_where``, target over the English slice, score the
    ``batch_where`` docs — the full pipeline (hashed uni+bigram
    features, dense add-one-smoothed log-ratios, position-ordered
    fold, top 50). Parameterized so one proven replay validates both
    the append-produced layout (fit ∪ roll == one fit) and the
    remove-produced one (fit − roll == fit over survivors)."""
    h = _SQL_HASH64.format(s="g")
    return f"""
WITH tk AS (SELECT doc_id, lang, string_split(COALESCE(text, ''), ' ') AS t
            FROM documents),
uni AS (SELECT doc_id, lang, generate_subscripts(t, 1) AS pos, unnest(t) AS g
        FROM tk),
bl AS (SELECT doc_id, lang, len(t) AS nt,
              list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bg
       FROM tk),
bi AS (SELECT doc_id, lang, nt + generate_subscripts(bg, 1) AS pos,
              unnest(bg) AS g
       FROM bl),
feats AS (SELECT doc_id, lang, pos, ({h}) % 10000 AS b
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
rh AS (SELECT b, COUNT(*) AS cr FROM feats WHERE {raw_where} GROUP BY 1),
th AS (SELECT b, COUNT(*) AS ct FROM feats WHERE lang = 'en' GROUP BY 1),
tot AS (SELECT (SELECT COALESCE(SUM(cr), 0) FROM rh) AS totr,
               (SELECT COALESCE(SUM(ct), 0) FROM th) AS tott),
dense AS (SELECT range AS b FROM range(10000)),
lr AS (SELECT d.b,
              ROUND(LN(CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / (tott + 10000)), 9)
            - ROUND(LN(CAST(COALESCE(cr, 0) + 1 AS DOUBLE) / (totr + 10000)), 9)
              AS lrv
       FROM dense d LEFT JOIN rh ON d.b = rh.b LEFT JOIN th ON d.b = th.b
       CROSS JOIN tot),
per AS (SELECT doc_id, pos, lrv FROM feats JOIN lr ON feats.b = lr.b
        WHERE {batch_where}),
agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
               ROUND(list_reduce(
                 list_concat([0.0], list_transform(
                   list_sort(list({{'p': pos, 'l': lrv}})), x -> x.l)),
                 (a, b) -> a + b), 6) + 0.0 AS dsir_logw
        FROM per GROUP BY doc_id)
SELECT doc_id, n_feats, dsir_logw FROM agg
ORDER BY dsir_logw DESC, doc_id LIMIT 50
"""


def _oracle_doc_dsir_against() -> str:
    return _dsir_oracle("doc_id % 2 = 0", "doc_id % 2 = 1")


def _dsir_unlearned_layout(spark: SparkSession, sf_dir: str) -> str:
    """Persisted DSIR model over raw = the doc_id%3 != 0 two-thirds —
    PRODUCED VIA THE EXACT-UNLEARN PATH (round 13): fit over ALL
    documents, then ``remove_from_dsir_layout`` subtracts the
    doc_id%3==0 third's histogram. build(all) − remove(third) is
    bit-identical to build(survivors) (hist subtraction is exact
    integer arithmetic + the shared dense-ratio derivation), so the
    doc_dsir_unlearned oracle — one fit over the survivors in SQL —
    validates the unlearned layout itself. Cache sentinel lands after
    the remove commits (the _dsir_layout marker discipline)."""
    from kowari_spark.operators.sampling import (
        build_dsir_layout,
        remove_from_dsir_layout,
    )

    def build(p):
        import os

        docs = _t(spark, sf_dir, "documents")
        build_dsir_layout(docs, docs.filter(F.col("lang") == "en"), p)
        remove_from_dsir_layout(
            spark, p, docs.filter(F.col("doc_id") % 3 == 0), which="raw"
        )
        open(os.path.join(p, "_contract_unlearn_done"), "w").close()

    return _cached_layout(
        sf_dir, "documents", "dsir10k-unl", "dsiru",
        "_contract_unlearn_done", build,
    )


def q_doc_dsir_unlearned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR exact unlearn (round 13): documents a dedup/curation pass
    dropped must stop shaping selection, so the stored model is fit
    over ALL docs and the doomed third is subtracted additively —
    hist(all) − hist(third) = hist(survivors) in exact integer counts,
    zeroed buckets drop, ratios rederive from the rolled bits. The
    scored batch (doc_id%3==1) then ranks EXACTLY as under a model
    that never saw the removed docs — which is what the oracle fits."""
    from kowari_spark.operators.sampling import dsir_score_against

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 3 == 1)
    path = _dsir_unlearned_layout(spark, sf_dir)
    return (
        dsir_score_against(spark, path, batch)
        .orderBy(F.desc("dsir_logw"), F.col("doc_id"))
        .limit(50)
    )


def _oracle_doc_dsir_unlearned() -> str:
    return _dsir_oracle("doc_id % 3 <> 0", "doc_id % 3 = 1")


def q_doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling (operators/sampling.py): downsample the
    corpus so the language mix matches target weights, with the
    scarcest language used in full (λ = min c_s/w_s sizing). One
    counting aggregate over the corpus; the ≤|strata|-row rates
    relation broadcasts into a deterministic id-hash filter, so
    membership is a pure function of row identity — repartition-,
    retry- and streaming-safe, with an exact SQL oracle."""
    from kowari_spark.operators.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    return mixture_sample(docs, "lang", _MIX_WEIGHTS, seed=7).select(
        "doc_id", "lang"
    )


def _oracle_doc_mixture_sample() -> str:
    vals = ", ".join(f"('{s}', {w!r})" for s, w in _MIX_WEIGHTS.items())
    h = _SQL_HASH64.format(s="CAST(doc_id AS VARCHAR) || '#7'")
    space = float(1 << 60)
    return f"""
WITH w(s, wt) AS (VALUES {vals}),
cnt AS (SELECT lang AS s, COUNT(*) AS c FROM documents GROUP BY 1),
j AS (SELECT s, c, wt FROM cnt JOIN w USING (s)),
lam AS (SELECT MIN(c / wt) AS l FROM j),
r AS (SELECT s, LEAST(l * wt / c, 1.0) AS rate FROM j CROSS JOIN lam)
SELECT doc_id, lang
FROM documents JOIN r ON lang = s
WHERE CAST({h} AS DOUBLE) / {space!r} < rate
"""


_BM25_QUERY = "vector hash join batch"


def q_doc_bm25_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search (operators/search.py): top-10 documents for
    a 4-term query. Inverted-index-on-demand plan — the exploded token
    stream filters to the query terms BEFORE any aggregation, document
    frequencies come back as a broadcast, corpus stats are one scalar
    aggregate, and the per-document score folds term contributions in
    fixed query-term order (one conditional aggregate per term) so
    float addition order is part of the plan; idf is rounded before use
    for cross-engine ln() parity. Top-k is TakeOrderedAndProject."""
    from kowari_spark.operators.search import bm25_search

    docs = _t(spark, sf_dir, "documents")
    return bm25_search(docs, _BM25_QUERY, k=10)


def _oracle_doc_bm25_top10() -> str:
    from kowari_spark.operators.search import bm25_oracle_sql

    return bm25_oracle_sql(_BM25_QUERY, k=10)


def _bm25_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once persisted BM25 postings layout over the documents
    table (operators/search.py) — the keyword-search counterpart of the
    ANN/dedup build-offline/probe-online split: tokenize the corpus
    once, then every query reads only its terms' hash buckets."""
    from kowari_spark.operators.search import build_bm25_layout

    return _cached_layout(
        sf_dir, "documents", "bm25b64", "bm25", "_bm25_meta.json",
        lambda p: build_bm25_layout(_t(spark, sf_dir, "documents"), p),
    )


_BM25_IDX_QUERY = "filter scan merge sort"


def q_doc_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 from the STORED postings layout (search.bm25_search_indexed):
    no document text read, nothing re-tokenized — the query's terms map
    to a bounded term-hash bucket list that statically partition-prunes
    the postings scan (plan-gated in tests); document frequencies come
    from the pruned postings (append-aware), corpus stats from the
    versioned sidecar. Scores are BIT-IDENTICAL to the scan path (same
    contribution expression + fold; parity-tested), so the oracle is
    the already-proven bm25_search replay over the documents table."""
    from kowari_spark.operators.search import bm25_search_indexed

    path = _bm25_layout(spark, sf_dir)
    return bm25_search_indexed(spark, path, _BM25_IDX_QUERY, k=10)


def _oracle_doc_bm25_indexed() -> str:
    from kowari_spark.operators.search import bm25_oracle_sql

    return bm25_oracle_sql(_BM25_IDX_QUERY, k=10)


def _bm25_tombed_layout(spark: SparkSession, sf_dir: str) -> str:
    """Postings layout over ALL documents with the doc_id%7==0 slice
    TOMBSTONED (``delete_from_bm25_layout(mode="tombstone")``, round
    13): the delete is an O(|batch|) log append of (id, dl) pairs —
    nothing rewritten — and every probe subtracts the log from BOTH
    halves of the scoring model at load (bounded anti-join on the
    postings; exact integer N/Σdl decrement on the stats). Cache
    sentinel lands only after the tombstone commits, so a crash
    between build and delete can't poison the cache with an
    undeleted layout."""
    from kowari_spark.operators.search import (
        build_bm25_layout,
        delete_from_bm25_layout,
    )

    def build(p):
        import os

        docs = _t(spark, sf_dir, "documents")
        build_bm25_layout(docs, p)
        delete_from_bm25_layout(
            spark, p,
            docs.filter(F.col("doc_id") % 7 == 0).select("doc_id"),
            mode="tombstone",
        )
        open(os.path.join(p, "_contract_tomb_done"), "w").close()

    return _cached_layout(
        sf_dir, "documents", "bm25tomb7", "bm25t",
        "_contract_tomb_done", build,
    )


def q_doc_bm25_tombed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served over a postings layout carrying PENDING tombstones
    (the round-13 delete design): one seventh of the corpus is
    logically deleted — logged, not rewritten — and the probe must
    score as if those documents never existed: their postings
    anti-joined away, df self-healed from the surviving postings, and
    N/avgdl corrected by the log's exact (count, Σdl). The oracle is a
    from-scratch BM25 replay over the SURVIVING corpus, so a hash
    match proves the probe-time correction arithmetic end to end."""
    from kowari_spark.operators.search import bm25_search_indexed

    path = _bm25_tombed_layout(spark, sf_dir)
    return bm25_search_indexed(spark, path, _BM25_IDX_QUERY, k=10)


def _oracle_doc_bm25_tombed() -> str:
    from kowari_spark.operators.search import bm25_oracle_sql

    return bm25_oracle_sql(
        _BM25_IDX_QUERY,
        table="(SELECT * FROM documents WHERE doc_id % 7 <> 0)",
        k=10,
    )


def _bm25_sharded_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once SHARDED postings layout (search.build_bm25_sharded,
    round 14): documents route by id hash into 3 independent child
    layouts, each a complete single layout with its own sidecar/log —
    the mechanism for the >16,384-bucket regime, where a single
    layout's per-bucket probe bytes grow again."""
    from kowari_spark.operators.search import build_bm25_sharded

    return _cached_layout(
        sf_dir, "documents", "bm25shard3", "bm25s",
        "_bm25_sharded_meta.json",
        lambda p: build_bm25_sharded(
            _t(spark, sf_dir, "documents"), p, shards=3
        ),
    )


def q_doc_bm25_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from a SHARDED postings layout (round 14, VERDICT
    r13 missing #4): the probe unions every shard's term-pruned
    postings (each document lives in exactly one shard) and scores
    under GLOBAL (N, Σdl, df) summed from the shards' live sidecars —
    bit-identical to one giant layout, and therefore to the corpus
    scan. The oracle is the from-scratch BM25 SQL replay over the
    documents table, so a hash match proves the shard-union scoring
    arithmetic end to end (routing, per-shard stats, global fold)."""
    from kowari_spark.operators.search import bm25_search_indexed

    path = _bm25_sharded_layout(spark, sf_dir)
    return bm25_search_indexed(spark, path, _BM25_IDX_QUERY, k=10)


def _oracle_doc_bm25_sharded() -> str:
    from kowari_spark.operators.search import bm25_oracle_sql

    return bm25_oracle_sql(_BM25_IDX_QUERY, k=10)


def _bm25_resharded_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once RESHARDED postings layout (round 15, VERDICT r14
    #2): built at 2 shards, then split to 4 via
    ``reshard_bm25_sharded`` — the growth maintenance verb that
    re-routes each child's POSTINGS by the next id-hash bits (no text
    re-tokenized). Sentinel lands only after the reshard commits."""
    from kowari_spark.operators.search import (
        build_bm25_sharded,
        reshard_bm25_sharded,
    )

    def build(p):
        import os

        build_bm25_sharded(_t(spark, sf_dir, "documents"), p, shards=2)
        reshard_bm25_sharded(spark, p, factor=2)
        open(os.path.join(p, "_contract_reshard_done"), "w").close()

    return _cached_layout(
        sf_dir, "documents", "bm25reshard2to4", "bm25rs",
        "_contract_reshard_done", build,
    )


def q_doc_bm25_resharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from a RESHARDED layout (round 15): the layout was
    built at 2 shards and split to 4 by re-hashing postings rows —
    per-child stats recomputed from the rows, tombstone/marker state
    routed through — and the probe must still score bit-identical to
    one giant layout, hence to the corpus scan. The oracle is the
    from-scratch BM25 SQL replay over the documents table, so a hash
    match proves the whole split (routing, stat reallocation, global
    fold) end to end."""
    from kowari_spark.operators.search import bm25_search_indexed

    path = _bm25_resharded_layout(spark, sf_dir)
    return bm25_search_indexed(spark, path, _BM25_IDX_QUERY, k=10)


def _oracle_doc_bm25_resharded() -> str:
    from kowari_spark.operators.search import bm25_oracle_sql

    return bm25_oracle_sql(_BM25_IDX_QUERY, k=10)


def q_doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search via reciprocal-rank fusion (operators/search.
    rrf_fuse, Cormack et al. 2009): the BM25 top-20 for the contract
    keyword query fuses with the hashed-embedding cosine top-20 around
    doc 0 — score(d) = Σ 1/(60 + rank_i(d)), a doc missing from a list
    contributes exactly 0.0 from it. Rank derivation (row_number over
    score DESC, id ASC on each top-k list), the per-list conditional
    aggregate, and the fixed list-order fold are all replayed by the
    oracle, which nests the ALREADY-PROVEN bm25 and text-knn replays as
    subqueries at depth 20."""
    from kowari_spark.operators.search import bm25_search, rrf_fuse
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    kw = bm25_search(docs, _BM25_QUERY, k=20)
    embedded = T.hashed_embeddings(docs, "text", "doc_id", 32)
    qvec = _doc_qvecs(spark, sf_dir, [0])[0]
    vec = knn(
        embedded, qvec, 20,
        metric="cosine", id_col="doc_id", round_to=6,
    )
    fused = rrf_fuse([(kw, "bm25"), (vec, "score")], id_col="doc_id", k0=60)
    w = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .orderBy("rank")
    )


def _oracle_doc_hybrid_rrf() -> str:
    from kowari_spark.operators.search import bm25_oracle_sql

    kw_sql = bm25_oracle_sql(_BM25_QUERY, k=20)
    vec_sql = _oracle_doc_text_knn(k=20)
    return f"""
WITH kw AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r
  FROM ({kw_sql})
),
vec AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
  FROM ({vec_sql})
),
ids AS (SELECT doc_id FROM kw UNION SELECT doc_id FROM vec),
fused AS (
  SELECT i.doc_id,
         ROUND(coalesce(1.0 / (60.0 + kw.r), 0.0)
               + coalesce(1.0 / (60.0 + vec.r), 0.0), 9) + 0.0 AS rrf_score,
         (CASE WHEN kw.r IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN vec.r IS NOT NULL THEN 1 ELSE 0 END) AS n_lists
  FROM ids i
  LEFT JOIN kw ON kw.doc_id = i.doc_id
  LEFT JOIN vec ON vec.doc_id = i.doc_id
)
SELECT doc_id, rrf_score, n_lists,
       row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS rank
FROM fused
ORDER BY rank
LIMIT 10
"""


_TEXT_LSH = None  # built lazily: SignLSH over the 32-dim hashed embeddings


def _text_lsh() :
    global _TEXT_LSH
    if _TEXT_LSH is None:
        _TEXT_LSH = SignLSH(dim=32, num_planes=6, seed=11)
    return _TEXT_LSH


def _text_lsh_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once SignLSH layout over the documents' hashed embeddings
    (functions.text.hashed_embeddings, dim 32) — the vector half of the
    stored-state hybrid row. 2^6 buckets: ~94 docs/bucket at sf0.01 (no
    fallback) and ~9 at sf0.001 (the reference's <k fallback fires), so
    the contract pins BOTH probe branches across the driver's SFs."""
    lsh = _text_lsh()

    def build(p):
        docs = _t(spark, sf_dir, "documents")
        emb = T.hashed_embeddings(docs, "text", "doc_id", 32)
        lsh.build(emb, p, vec_col="embedding", id_col="doc_id")

    return _cached_layout(
        sf_dir, "documents",
        f"textlsh_p{lsh.num_planes}:s{lsh.seed}", "textlsh",
        "_lsh_meta.json", build,
    )


def q_doc_hybrid_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid serving ENTIRELY from stored state (search.
    hybrid_search_indexed): the BM25 list probes the term-bucketed
    postings layout (no corpus scan, bit-identical to the proven scan
    scorer) and the vector list probes the bucket-partitioned SignLSH
    layout of hashed embeddings (static pruning; <k full-scan fallback
    — sf0.001's 600 docs starve the 64-bucket probe, sf0.01's don't,
    so both branches stay pinned), fused by RRF. The oracle replays
    the postings scores, the hashed embeddings, the plane-literal
    bucket probe WITH its conditional fallback, and the rank fusion —
    depth ~25 of already-proven subqueries plus the probe CASE."""
    from kowari_spark.operators.search import hybrid_search_indexed

    qvec = _doc_qvecs(spark, sf_dir, [0])[0]
    return hybrid_search_indexed(
        spark,
        _bm25_layout(spark, sf_dir),
        _text_lsh_layout(spark, sf_dir),
        _BM25_QUERY,
        qvec,
        k=10,
        fetch_k=20,
    )


def _oracle_doc_hybrid_indexed() -> str:
    return _hybrid_indexed_oracle(_BM25_QUERY, 0)


_HYB_BATCH = (("qa", "vector hash join batch", 0), ("qb", "filter scan", 3))


def q_doc_hybrid_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched stored-state hybrid serving (search.
    hybrid_batch_indexed): two keyword+vector queries share ONE pruned
    postings scan and ONE bucket equi-join against the stored layouts,
    fused per query by rrf_fuse_batch — per-query output identical to
    hybrid_search_indexed run alone (parity-tested). The oracle is the
    per-query hybrid replay (probe CASE fallback and all) stamped with
    its query_id and unioned."""
    from kowari_spark.operators.search import hybrid_batch_indexed

    rows = _doc_qvecs(spark, sf_dir, [d for _, _, d in _HYB_BATCH])
    from kowari_spark.fsutil import local_df

    vec_df = local_df(
        spark,
        [(qid, rows[d]) for qid, _, d in _HYB_BATCH],
        "query_id string, embedding array<double>",
    )
    return hybrid_batch_indexed(
        spark,
        _bm25_layout(spark, sf_dir),
        _text_lsh_layout(spark, sf_dir),
        {qid: text for qid, text, _ in _HYB_BATCH},
        vec_df,
        k=10,
        fetch_k=20,
    )


def _oracle_doc_hybrid_batch() -> str:
    parts = [
        f"SELECT '{qid}' AS query_id, * FROM ({_hybrid_indexed_oracle(text, d)})"
        for qid, text, d in _HYB_BATCH
    ]
    return (
        "SELECT * FROM (" + " UNION ALL ".join(parts)
        + ") ORDER BY query_id, rank"
    )


_TEXT_MLSH = None  # lazily: MultiSignLSH over the 32-dim hashed embeddings


def _text_mlsh():
    global _TEXT_MLSH
    if _TEXT_MLSH is None:
        from kowari_spark.operators.lsh import MultiSignLSH

        # table 0 is _text_lsh() itself (same dim/planes/seed); table 1
        # is the independent seed-12 view the OR-construction adds
        _TEXT_MLSH = MultiSignLSH(
            dim=32, num_planes=6, num_tables=2, seed=11
        )
    return _TEXT_MLSH


def _text_mlsh_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once MULTI-TABLE MultiSignLSH layout over the documents'
    hashed embeddings — the high-recall OR-construction half of the
    multi-table hybrid row. Same bucket geometry per table as
    _text_lsh_layout, so sf0.001 starves the 20-deep probe (fallback
    branch pinned) while sf0.01 serves from the probed partitions."""
    mlsh = _text_mlsh()

    def build(p):
        docs = _t(spark, sf_dir, "documents")
        emb = T.hashed_embeddings(docs, "text", "doc_id", 32)
        mlsh.build(emb, p, vec_col="embedding", id_col="doc_id")

    return _cached_layout(
        sf_dir, "documents",
        f"textmlsh_p{mlsh.num_planes}:t{mlsh.num_tables}:s{mlsh.seed}",
        "textmlsh", "_lsh_meta.json", build,
    )


def q_doc_hybrid_batch_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched hybrid serving from a MULTI-TABLE stored vector layout
    (VERDICT r11 missing #2: hybrid_batch_indexed previously refused
    MultiSignLSH/CP layouts, locking the highest-recall stored config
    out of the one-call path): both queries' keyword lists share ONE
    pruned postings scan, both vector lists ONE (table, bucket)
    equi-join against the OR-construction layout (candidates dedup
    across tables, per-query <k fallback), fused per query by RRF.
    Instance reconstructed from the layout's params sidecar. The
    oracle replays the per-table plane-literal probes with the OR
    predicate, the CASE fallback, and the fusion, per query."""
    from kowari_spark.operators.search import hybrid_batch_indexed

    rows = _doc_qvecs(spark, sf_dir, [d for _, _, d in _HYB_BATCH])
    from kowari_spark.fsutil import local_df

    vec_df = local_df(
        spark,
        [(qid, rows[d]) for qid, _, d in _HYB_BATCH],
        "query_id string, embedding array<double>",
    )
    return hybrid_batch_indexed(
        spark,
        _bm25_layout(spark, sf_dir),
        _text_mlsh_layout(spark, sf_dir),
        {qid: text for qid, text, _ in _HYB_BATCH},
        vec_df,
        k=10,
        fetch_k=20,
    )


def _hybrid_indexed_multi_oracle(query_text: str, qdoc: int) -> str:
    from kowari_spark.operators.search import bm25_oracle_sql

    kw_sql = bm25_oracle_sql(query_text, k=20)
    h = _SQL_HASH64.format(s="t")
    counts = (
        f"list_transform(range(0, 32), "
        f"j -> CAST(len(list_filter(toks, t -> {h} % 32 = j)) AS DOUBLE))"
    )
    mlsh = _text_mlsh()
    b0 = _bucket_sql_planes(mlsh.tables[0].planes, "v")
    b1 = _bucket_sql_planes(mlsh.tables[1].planes, "v")
    cos = _cos_sql("e.v", "q.v")
    return f"""
WITH c AS (
  SELECT doc_id, {counts} AS cnt
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
n AS (
  SELECT doc_id,
         CASE WHEN sqrt(list_dot_product(cnt, cnt)) = 0 THEN cnt
              ELSE list_transform(cnt, x -> x / sqrt(list_dot_product(cnt, cnt)))
         END AS v
  FROM c
),
q AS (SELECT v FROM n WHERE doc_id = {qdoc}),
qb AS (SELECT {b0} AS b0, {b1} AS b1 FROM q),
eb AS (SELECT doc_id, v, {b0} AS b0, {b1} AS b1 FROM n),
cs AS (SELECT COUNT(*) AS nc FROM eb JOIN qb
       ON eb.b0 = qb.b0 OR eb.b1 = qb.b1),
vecl AS (
  SELECT e.doc_id, ROUND({cos}, 6) + 0.0 AS score
  FROM eb e CROSS JOIN q CROSS JOIN qb CROSS JOIN cs
  WHERE (e.b0 = qb.b0 OR e.b1 = qb.b1) OR cs.nc < 20
  ORDER BY score DESC, e.doc_id ASC LIMIT 20
),
kw AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r
  FROM ({kw_sql})
),
vec AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
  FROM vecl
),
ids AS (SELECT doc_id FROM kw UNION SELECT doc_id FROM vec),
fused AS (
  SELECT i.doc_id,
         ROUND(coalesce(1.0 / (60.0 + kw.r), 0.0)
               + coalesce(1.0 / (60.0 + vec.r), 0.0), 9) + 0.0 AS rrf_score,
         (CASE WHEN kw.r IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN vec.r IS NOT NULL THEN 1 ELSE 0 END) AS n_lists
  FROM ids i
  LEFT JOIN kw ON kw.doc_id = i.doc_id
  LEFT JOIN vec ON vec.doc_id = i.doc_id
)
SELECT doc_id, rrf_score, n_lists,
       row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS rank
FROM fused
ORDER BY rank
LIMIT 10
"""


def _oracle_doc_hybrid_batch_multi() -> str:
    parts = [
        f"SELECT '{qid}' AS query_id, * FROM "
        f"({_hybrid_indexed_multi_oracle(text, d)})"
        for qid, text, d in _HYB_BATCH
    ]
    return (
        "SELECT * FROM (" + " UNION ALL ".join(parts)
        + ") ORDER BY query_id, rank"
    )


def _hybrid_indexed_oracle(query_text: str, qdoc: int) -> str:
    from kowari_spark.operators.search import bm25_oracle_sql

    kw_sql = bm25_oracle_sql(query_text, k=20)
    h = _SQL_HASH64.format(s="t")
    counts = (
        f"list_transform(range(0, 32), "
        f"j -> CAST(len(list_filter(toks, t -> {h} % 32 = j)) AS DOUBLE))"
    )
    bexpr = _bucket_sql_planes(_text_lsh().planes, "v")
    cos = _cos_sql("e.v", "q.v")
    return f"""
WITH c AS (
  SELECT doc_id, {counts} AS cnt
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
n AS (
  SELECT doc_id,
         CASE WHEN sqrt(list_dot_product(cnt, cnt)) = 0 THEN cnt
              ELSE list_transform(cnt, x -> x / sqrt(list_dot_product(cnt, cnt)))
         END AS v
  FROM c
),
q AS (SELECT v FROM n WHERE doc_id = {qdoc}),
qb AS (SELECT {_bucket_sql_planes(_text_lsh().planes, 'v')} AS b FROM q),
eb AS (SELECT doc_id, v, {bexpr} AS b FROM n),
cs AS (SELECT COUNT(*) AS nc FROM eb JOIN qb ON eb.b = qb.b),
vecl AS (
  SELECT e.doc_id, ROUND({cos}, 6) + 0.0 AS score
  FROM eb e CROSS JOIN q CROSS JOIN qb CROSS JOIN cs
  WHERE e.b = qb.b OR cs.nc < 20
  ORDER BY score DESC, e.doc_id ASC LIMIT 20
),
kw AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r
  FROM ({kw_sql})
),
vec AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
  FROM vecl
),
ids AS (SELECT doc_id FROM kw UNION SELECT doc_id FROM vec),
fused AS (
  SELECT i.doc_id,
         ROUND(coalesce(1.0 / (60.0 + kw.r), 0.0)
               + coalesce(1.0 / (60.0 + vec.r), 0.0), 9) + 0.0 AS rrf_score,
         (CASE WHEN kw.r IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN vec.r IS NOT NULL THEN 1 ELSE 0 END) AS n_lists
  FROM ids i
  LEFT JOIN kw ON kw.doc_id = i.doc_id
  LEFT JOIN vec ON vec.doc_id = i.doc_id
)
SELECT doc_id, rrf_score, n_lists,
       row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS rank
FROM fused
ORDER BY rank
LIMIT 10
"""


def q_doc_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): flag corpus
    documents sharing any word 13-gram with an evaluation set — the
    GPT-3/Gopher/Pile pre-training hygiene filter. The contract's eval
    set is the `doc_id % 17 == 0` slice of the corpus itself, so the
    row pins both branches: eval members are fully self-contaminated
    (contam_frac = 1) and the rest exercise the no-match path; docs
    under 13 tokens take the whole-text fallback gram. The operator is
    the shuffle-free mapInPandas pass (eval hashes broadcast into the
    workers, corpus side row-local), also pinned against this replay by
    tests/test_decontam.py::test_arrow_engine_parity."""
    from kowari_spark.operators.decontam import ngram_decontaminate

    docs = _t(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 17 == 0)
    return ngram_decontaminate(docs, eval_df, n=13)


def _oracle_doc_decontam() -> str:
    gram13 = " || ' ' || ".join(f"t[i+{j}]" for j in range(13))
    grams = f"""
  SELECT doc_id,
         CASE WHEN len(t) >= 13
              THEN list_transform(range(1, len(t) - 11), i -> {gram13})
              ELSE [text] END AS gs
  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)"""
    h = _SQL_HASH64.format(s="g")
    return f"""
WITH g AS ({grams}),
eg AS (SELECT DISTINCT {h} AS h
       FROM (SELECT unnest(gs) AS g FROM g WHERE doc_id % 17 = 0)),
dg AS (SELECT doc_id, {h} AS h
       FROM (SELECT doc_id, unnest(list_distinct(gs)) AS g FROM g)),
tot AS (SELECT doc_id, COUNT(*) AS total_grams FROM dg GROUP BY 1),
mat AS (SELECT doc_id, COUNT(*) AS contam_grams FROM dg
        WHERE h IN (SELECT h FROM eg) GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(contam_grams, 0) AS BIGINT) AS contam_grams,
       CAST(COALESCE(total_grams, 0) AS BIGINT) AS total_grams,
       ROUND(COALESCE(CAST(contam_grams AS DOUBLE) / total_grams, 0), 6) + 0.0
         AS contam_frac,
       COALESCE(contam_grams, 0) > 0 AS is_contaminated
FROM documents d
LEFT JOIN tot USING (doc_id)
LEFT JOIN mat USING (doc_id)
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (operators/quality.py):
    per document, the occurrence share of its most frequent word 2-gram
    and the share of 5-gram occurrences that are within-document
    repeats. The operator is the shuffle-free mapInPandas pass (integer
    counts, IEEE division, decimal HALF_UP rounding like SQL ROUND),
    also pinned against this replay by
    tests/test_quality.py::test_arrow_engine_parity."""
    from kowari_spark.operators.quality import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, top_n=2, dup_n=5)


def _oracle_doc_repetition() -> str:
    def grams(n: int) -> str:
        parts = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
        return (
            f"SELECT doc_id, unnest(list_transform(range(1, len(t) - {n - 2}),"
            f" i -> {parts})) AS g FROM tk WHERE len(t) >= {n}"
        )

    return f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM ({grams(2)}) GROUP BY 1, 2),
a2 AS (SELECT doc_id, MAX(c) AS topc, SUM(c) AS tott FROM c2 GROUP BY 1),
c5 AS (SELECT doc_id, g, COUNT(*) AS c FROM ({grams(5)}) GROUP BY 1, 2),
a5 AS (SELECT doc_id, SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
              SUM(c) AS totd
       FROM c5 GROUP BY 1)
SELECT d.doc_id,
       ROUND(COALESCE(CAST(topc AS DOUBLE) / tott, 0), 6) + 0.0
         AS top2gram_frac,
       ROUND(COALESCE(CAST(dup AS DOUBLE) / totd, 0), 6) + 0.0
         AS dup5gram_frac
FROM documents d
LEFT JOIN a2 USING (doc_id)
LEFT JOIN a5 USING (doc_id)
"""


def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing audit (operators/pii.py): per document, the
    URL/email/phone redaction counts plus a fingerprint of the scrubbed
    text (md5, so the compare stays compact). The synthetic corpus
    carries no PII, so this row pins the IDENTITY path — the chained
    regexp_replace must not mangle clean text and the counts must be
    zero; the regexes' positive behavior is pinned cross-engine by
    tests/test_pii.py on handcrafted PII-laden docs."""
    from kowari_spark.operators.pii import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    return pii_scrub(docs).select(
        "doc_id", F.md5("scrubbed").alias("scrub_fp"),
        "n_url", "n_email", "n_phone",
    )


def _oracle_doc_pii_scrub() -> str:
    from kowari_spark.operators.pii import PII_PATTERNS

    (u_name, u_pat, u_tok), (e_name, e_pat, e_tok), (p_name, p_pat, p_tok) = (
        PII_PATTERNS
    )
    return f"""
WITH s0 AS (SELECT doc_id, text AS t0 FROM documents),
s1 AS (SELECT doc_id, t0,
              regexp_replace(t0, '{u_pat}', '{u_tok}', 'g') AS t1 FROM s0),
s2 AS (SELECT doc_id, t0, t1,
              regexp_replace(t1, '{e_pat}', '{e_tok}', 'g') AS t2 FROM s1)
SELECT doc_id,
       md5(regexp_replace(t2, '{p_pat}', '{p_tok}', 'g')) AS scrub_fp,
       CAST(len(regexp_extract_all(t0, '{u_pat}')) AS BIGINT) AS n_{u_name},
       CAST(len(regexp_extract_all(t1, '{e_pat}')) AS BIGINT) AS n_{e_name},
       CAST(len(regexp_extract_all(t2, '{p_pat}')) AS BIGINT) AS n_{p_name}
FROM s2
"""


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion over the event stream: users who
    viewed, then clicked STRICTLY AFTER their first view, then purchased
    strictly after that first qualifying click. Each step is one
    aggregate + join on user_id (all three shuffles share the key, so a
    cluster co-partitions them); the chained conditional-min formulation
    is exactly expressible in SQL, giving a bit-for-bit oracle."""
    ev = _events(spark, sf_dir)
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    a = t1.agg(F.count("*").cast("long").alias("users_viewed"))
    b = t2.agg(F.count("*").cast("long").alias("users_clicked"))
    c = t3.agg(F.count("*").cast("long").alias("users_purchased"))
    return a.crossJoin(b).crossJoin(c)


_ORACLE_EVENTS_FUNNEL = """
WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
t2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
       JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t1
       WHERE e.event_type = 'click' GROUP BY e.user_id),
t3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
       JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t2
       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT CAST((SELECT COUNT(*) FROM t1) AS BIGINT) AS users_viewed,
       CAST((SELECT COUNT(*) FROM t2) AS BIGINT) AS users_clicked,
       CAST((SELECT COUNT(*) FROM t3) AS BIGINT) AS users_purchased
"""


def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped order-statistic quantiles (operators/stats.py):
    p50/p95/p99 of extended price per return flag — one window sort per
    group, discrete ceil(p*n) rank, no interpolation, so the oracle
    reproduces the exact selected rows. (percentile_approx is the
    100 TB whole-table path; its sketch error is engine-specific, hence
    the exact form is what gets oracle-pinned.)"""
    from kowari_spark.operators.stats import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return exact_quantiles(
        li, ["l_returnflag"], "l_extendedprice", (0.5, 0.95, 0.99)
    ).orderBy("l_returnflag")


def _oracle_price_quantiles() -> str:
    return """
WITH r AS (
  SELECT l_returnflag,
         CAST(l_extendedprice AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY CAST(l_extendedprice AS DOUBLE) ASC) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem)
SELECT l_returnflag,
       CAST(MAX(n) AS BIGINT) AS n,
       MIN(CASE WHEN rn = greatest(ceil(0.5 * n), 1) THEN v END) AS p50,
       MIN(CASE WHEN rn = greatest(ceil(0.95 * n), 1) THEN v END) AS p95,
       MIN(CASE WHEN rn = greatest(ceil(0.99 * n), 1) THEN v END) AS p99
FROM r
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_doc_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs: top-byte blocking + exact hamming filter."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_near_pairs(
        docs, max_hamming=6, edges="pairs"
    ).orderBy("id_a", "id_b")


def _oracle_doc_simhash_near() -> str:
    h = _SQL_HASH64.format(s="t")
    fp_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, x -> (x >> {j}) & 1 = 1)) > len(hs) "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    )
    return f"""
WITH hs AS (
  SELECT doc_id, list_transform(string_split(text, ' '), t -> {h}) AS hs
  FROM documents
),
fp AS (SELECT doc_id, ({fp_terms}) AS simhash FROM hs),
blocked AS (SELECT doc_id, simhash, simhash >> 24 AS block FROM fp)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM blocked a JOIN blocked b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
ORDER BY id_a, id_b
"""


def q_doc_simhash_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs in STAR candidate mode (round-8 #1): only
    member↔block-min edges are Hamming-verified — O(B) per block
    instead of the self-join's O(B²). The oracle replays the star
    generation (GROUP BY block MIN + join-back through the min row's
    fingerprint) so the verified-variant semantics are hash-pinned."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_near_pairs(
        docs, max_hamming=6, edges="star"
    ).orderBy("id_a", "id_b")


def _oracle_doc_simhash_star() -> str:
    h = _SQL_HASH64.format(s="t")
    fp_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, x -> (x >> {j}) & 1 = 1)) > len(hs) "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    )
    return f"""
WITH hs AS (
  SELECT doc_id, list_transform(string_split(text, ' '), t -> {h}) AS hs
  FROM documents
),
fp AS (SELECT doc_id, ({fp_terms}) AS simhash FROM hs),
blocked AS (SELECT doc_id, simhash, simhash >> 24 AS block FROM fp),
mins AS (SELECT block, MIN(doc_id) AS bmin FROM blocked GROUP BY block),
minfp AS (
  SELECT m.block, m.bmin, f.simhash AS sh_a
  FROM mins m JOIN blocked f ON f.doc_id = m.bmin AND f.block = m.block
)
SELECT DISTINCT mf.bmin AS id_a, b.doc_id AS id_b,
       bit_count(xor(mf.sh_a, b.simhash)) AS hamming
FROM blocked b JOIN minfp mf ON b.block = mf.block AND b.doc_id != mf.bmin
WHERE bit_count(xor(mf.sh_a, b.simhash)) <= 6
ORDER BY id_a, id_b
"""


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine near-dup (oracle baseline; LSH variant is
    the scale path). Bounded to vec_id < 200 so the O(n²) pair count is
    SF-independent."""
    base = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return D.embedding_near_dups(
        base, threshold=0.3, id_col="vec_id", round_to=6
    ).orderBy("id_a", "id_b")


_ORACLE_EMBEDDING_NEAR_DUPS = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_COS.format(a='a.v', b='b.v')}, 6) + 0.0 AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND({_COS.format(a='a.v', b='b.v')}, 6) + 0.0 >= 0.3
ORDER BY id_a, id_b
"""


def _lsh_hist_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once SignLSH layout over the history half of embeddings
    (even vec_ids) under the contract instance's planes — the stored
    index the incremental vector-dedup row probes."""
    def build(p):
        hist = _t(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % 2 == 0
        ).select("vec_id", "embedding")
        _LSH.build(hist, p, vec_col="embedding", id_col="vec_id")

    return _cached_layout(
        sf_dir, "embeddings",
        f"hist_p{_LSH.num_planes}:s{_LSH.seed}:meta1", "lshhist",
        "_lsh_meta.json", build,
    )


def q_embedding_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental VECTOR near-dup against the stored SignLSH layout
    (dedup_index.embedding_near_dups_against): the odd-vec_id batch
    hashes only itself; its bounded bucket list statically prunes the
    partitionBy(bucket) history layout, and the cosine verification
    reads the STORED vectors — history never re-hashed, never shuffled.
    mode="pairs" so the oracle replays the complete co-bucket join."""
    from kowari_spark.operators.dedup_index import embedding_near_dups_against

    base = _t(spark, sf_dir, "embeddings")
    new = base.filter(F.col("vec_id") % 2 == 1)
    path = _lsh_hist_layout(spark, sf_dir)
    return embedding_near_dups_against(
        spark, _LSH, path, new, threshold=0.3,
        id_col="vec_id", round_to=6, mode="pairs",
    ).orderBy("new_id", "hist_id")


def _oracle_embedding_dedup_against() -> str:
    cos = _COS.format(a="n.v", b="h.v")
    return f"""
WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {_bucket_sql('embedding::DOUBLE[]')} AS bucket
           FROM embeddings)
SELECT DISTINCT n.vec_id AS new_id, h.vec_id AS hist_id,
       ROUND({cos}, 6) + 0.0 AS cos
FROM b n JOIN b h ON n.bucket = h.bucket
WHERE n.vec_id % 2 = 1 AND h.vec_id % 2 = 0
  AND ROUND({cos}, 6) + 0.0 >= 0.3
ORDER BY new_id, hist_id
"""


_NDLSH_PLANES, _NDLSH_TABLES = 8, 4  # 256 buckets/table: verify work is
# bounded by bucket size, recall at near-dup thresholds comes from the
# 4-table OR-construction


def q_embedding_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH OR-construction near-dup (the 100 TB path): candidates
    only form inside buckets; verified by exact cosine."""
    base = _t(spark, sf_dir, "embeddings")
    return D.embedding_near_dups_lsh(
        base, threshold=0.3, num_planes=_NDLSH_PLANES, num_tables=_NDLSH_TABLES,
        seed=7, id_col="vec_id", round_to=6, dim=64, edges="pairs",
    ).orderBy("id_a", "id_b")


def _bucket_sql_planes(planes, vec_expr: str) -> str:
    terms = []
    for i, plane in enumerate(planes):
        lit = "[" + ",".join(repr(float(x)) for x in plane) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {lit}) >= 0 THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _oracle_embedding_near_dups_lsh() -> str:
    tables = []
    for t in range(_NDLSH_TABLES):
        lsh = SignLSH(dim=64, num_planes=_NDLSH_PLANES, seed=7 + t)
        bexpr = _bucket_sql_planes(lsh.planes, "v")
        tables.append(
            f"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM "
            f"(SELECT vec_id, v, {bexpr} AS bucket FROM e) a JOIN "
            f"(SELECT vec_id, v, {bexpr} AS bucket FROM e) b "
            f"ON a.bucket = b.bucket AND a.vec_id < b.vec_id"
        )
    cand = " UNION ".join(tables)  # UNION = distinct
    cos = _COS.format(a="ea.v", b="eb.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cand AS ({cand})
SELECT cand.id_a, cand.id_b, ROUND({cos}, 6) + 0.0 AS cos
FROM cand JOIN e ea ON ea.vec_id = cand.id_a JOIN e eb ON eb.vec_id = cand.id_b
WHERE ROUND({cos}, 6) + 0.0 >= 0.3
ORDER BY id_a, id_b
"""


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregation: ROLLUP(region, nation) revenue with
    subtotals + grand total; grouping_id disambiguates subtotal rows."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("revenue"),
            F.grouping_id().alias("gid"),
        )
        .orderBy(
            F.col("gid"),
            F.asc_nulls_first("r_name"),
            F.asc_nulls_first("n_name"),
        )
    )


_ORACLE_REVENUE_ROLLUP = """
SELECT r_name, n_name, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS gid
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
ORDER BY gid, r_name NULLS FIRST, n_name NULLS FIRST
"""


def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping combinations in one
    pass (completes rollup/cube/grouping-sets coverage)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            _dsum(F.col("o_totalprice")).alias("total"),
            F.grouping_id().alias("gid"),
        )
        .orderBy(
            F.col("gid"),
            F.asc_nulls_first("o_orderstatus"),
            F.asc_nulls_first("o_orderpriority"),
        )
    )


_ORACLE_ORDERS_CUBE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


def q_nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (SURVEY.md §2.6): nations having BOTH customers and
    suppliers (INTERSECT) vs customers only (EXCEPT), tagged and unioned."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    cust_nations = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select("n_name")
    supp_nations = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("n_name")
    both = cust_nations.intersect(supp_nations).withColumn("tag", F.lit("both"))
    cust_only = cust_nations.subtract(supp_nations).withColumn(
        "tag", F.lit("cust_only")
    )
    return both.unionByName(cust_only).orderBy("tag", "n_name")


_ORACLE_NATION_SET_OPS = """
WITH cn AS (SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey),
sn AS (SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey)
SELECT n_name, 'both' AS tag FROM (SELECT n_name FROM cn INTERSECT SELECT n_name FROM sn)
UNION ALL
SELECT n_name, 'cust_only' AS tag FROM (SELECT n_name FROM cn EXCEPT SELECT n_name FROM sn)
ORDER BY tag, n_name
"""


def q_customer_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface: substring/upper/length/regexp/concat over
    customer names (reference's only string ops are UUID formatting —
    SURVEY.md §2.6; these are the engine built-ins a user gets)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper(F.substring("c_name", 1, 8)).alias("prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.regexp_extract("c_name", "([0-9]+)$", 1).cast("long").alias("name_num"),
        F.concat_ws("|", "c_mktsegment", F.lower("c_name")).alias("tagged"),
    )


_ORACLE_CUSTOMER_STRINGS = """
SELECT c_custkey,
       upper(substring(c_name, 1, 8)) AS prefix,
       CAST(length(c_name) AS BIGINT) AS name_len,
       CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) AS name_num,
       concat_ws('|', c_mktsegment, lower(c_name)) AS tagged
FROM customer
"""


def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function surface: trunc/extract/datediff aggregation of
    orders by calendar month."""
    orders = _t(spark, sf_dir, "orders")
    _utc(spark)
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),
        )
        .agg(
            F.count("*").alias("n"),
            _dsum(F.col("o_totalprice")).alias("total"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_day"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_day"),
        )
        .orderBy("yr", "mo")
    )


_ORACLE_ORDERS_BY_MONTH = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(month(o_orderdate) AS BIGINT) AS mo,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_day,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_day
FROM orders GROUP BY 1, 2 ORDER BY 1, 2
"""


_SJ_PLANES, _SJ_TABLES = 8, 4


def q_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table approximate similarity join (SURVEY.md §2.6 "Joins"):
    even-id vectors x odd-id vectors with cosine >= 0.3 via shared-plane
    sign-LSH OR-construction, exact-cosine verified."""
    base = _t(spark, sf_dir, "embeddings")
    left = base.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("lid"), "embedding"
    )
    right = base.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("rid"), "embedding"
    )
    return D.similarity_join(
        left, right, 0.3, num_planes=_SJ_PLANES, num_tables=_SJ_TABLES, seed=7,
        left_id="lid", right_id="rid", round_to=6, dim=64,
    ).orderBy("lid_l", "rid_r")


def _oracle_similarity_join() -> str:
    tables = []
    for t in range(_SJ_TABLES):
        lsh = SignLSH(dim=64, num_planes=_SJ_PLANES, seed=7 + t)
        bexpr = _bucket_sql_planes(lsh.planes, "v")
        tables.append(
            f"SELECT l.vec_id AS lid, r.vec_id AS rid FROM "
            f"(SELECT vec_id, v, {bexpr} AS bucket FROM l) l JOIN "
            f"(SELECT vec_id, v, {bexpr} AS bucket FROM r) r USING (bucket)"
        )
    cand = " UNION ".join(tables)
    cos = _COS.format(a="el.v", b="er.v")
    return f"""
WITH l AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 0),
r AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 1),
cand AS ({cand})
SELECT cand.lid AS lid_l, cand.rid AS rid_r, ROUND({cos}, 6) + 0.0 AS cos
FROM cand JOIN l el ON el.vec_id = cand.lid JOIN r er ON er.vec_id = cand.rid
WHERE ROUND({cos}, 6) + 0.0 >= 0.3
ORDER BY lid_l, rid_r
"""


def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end (operators/multimodal.py): synth
    deterministic KWM video blobs keyed by embeddings ids -> resize 16x12
    -> sample every 2nd of 6 frames -> typed metadata via native binary
    header parse. The oracle states the exact metadata the pipeline must
    produce for every id."""
    from kowari_spark.operators.multimodal import (
        frame_sample,
        media_meta,
        resize_media,
        synth_media,
    )

    ids = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("media_id")
    )
    media = synth_media(ids, kind="video", width=32, height=24, n_frames=6)
    processed = frame_sample(resize_media(media, out_w=16, out_h=12), every_k=2)
    return media_meta(processed).orderBy("media_id")


_ORACLE_MEDIA_PIPELINE = """
SELECT vec_id AS media_id, 'video' AS kind, 16 AS width, 12 AS height,
       3 AS n_frames, CAST(11 + 16*12*3 AS BIGINT) AS n_bytes
FROM embeddings ORDER BY media_id
"""


def q_media_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual near-duplicate pairs (operators/multimodal.media_phash +
    media_near_dups): 40 deterministic KWM images plus exact copies of
    the first 20 under shifted ids; dHash fingerprints, banded Hamming
    join (bands > max_hamming => candidate generation is exact by
    pigeonhole), xor+bit_count verification. Every (i, i+1000) copy
    pair must surface at hamming 0. Binary decode isn't
    SQL-expressible, so this row is rows-only checked; the band-join
    exactness is pinned against brute force in
    tests/test_media_dedup.py."""
    from kowari_spark.operators.multimodal import media_near_dups, synth_media

    ids = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 40)
        .select(F.col("vec_id").alias("media_id"))
    )
    media = synth_media(ids, kind="image", width=32, height=24)
    copies = media.filter(F.col("media_id") < 20).withColumn(
        "media_id", F.col("media_id") + 1000
    )
    return media_near_dups(
        media.unionByName(copies), max_hamming=0, edges="pairs"
    ).orderBy("id_a", "id_b")


def q_media_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end visual dedup keep-list (multimodal.media_dedup_keep):
    the media_near_dups corpus (40 KWM images + 20 shifted-id exact
    copies) → banded-Hamming pairs at max_hamming=1 (bands=8 > 1 ⇒
    candidate generation exact by pigeonhole) → connected components →
    min-id representative. The additive KWM pixel pattern makes many
    distinct keys collide to equal-or-1-bit fingerprints, so the
    component structure is nontrivial (3 clusters, sizes 36/23/1).
    Output: (media_id, rep_id, is_kept) for ALL 60 inputs. Decode isn't
    SQL-expressible; the oracle pins the deterministic dHash values as
    VALUES fixtures (the media_pipeline precedent) and replays the
    ENTIRE relational part — unsigned band split, banded self-join,
    xor/bit_count verification, recursive-CTE reachability, min-label
    representative — independently in SQL."""
    from kowari_spark.operators.multimodal import media_dedup_keep, synth_media

    ids = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 40)
        .select(F.col("vec_id").alias("media_id"))
    )
    media = synth_media(ids, kind="image", width=32, height=24)
    copies = media.filter(F.col("media_id") < 20).withColumn(
        "media_id", F.col("media_id") + 1000
    )
    # pins verified-PAIRS keep semantics (the oracle replays the
    # banded self-join); library default is "auto" since r9
    return media_dedup_keep(
        media.unionByName(copies), max_hamming=1, edges="pairs"
    ).orderBy("media_id")


def _oracle_media_dedup_keep() -> str:
    """The dHash fingerprints of the 60 deterministic KWM blobs are
    computed HERE (same pure-numpy dHash over the same pixel formula —
    the decode boundary the rows-only media_near_dups row already
    carries) and pinned as literal fixtures; everything downstream is
    an independent SQL replay of the banded near-dup + keep-list
    relational pipeline."""
    import numpy as np

    from kowari_spark.operators.multimodal import _dhash_frame

    def phash(key: int, width: int = 32, height: int = 24) -> int:
        y = np.arange(height, dtype=np.int64)[:, None]
        x = np.arange(width, dtype=np.int64)[None, :]
        return _dhash_frame((y * 7 + x * 13 + key) % 256, 8)

    ids = list(range(40)) + [i + 1000 for i in range(20)]
    vals = ",".join(
        f"({i}, {phash(i if i < 1000 else i - 1000)})" for i in ids
    )
    allids = ",".join(f"({i})" for i in ids)
    band_rows = ",".join(f"({b}, {256 ** b}::HUGEINT)" for b in range(8))
    return f"""
WITH RECURSIVE
ph(media_id, phash) AS (VALUES {vals}),
allids(media_id) AS (VALUES {allids}),
uph AS (SELECT media_id, phash,
               CAST(phash AS HUGEINT)
               + CASE WHEN phash < 0
                      THEN 18446744073709551616::HUGEINT
                      ELSE 0::HUGEINT END AS u
        FROM ph),
bands(band, dv) AS (VALUES {band_rows}),
banded AS (SELECT media_id, phash, band, (u // dv) % 256 AS val
           FROM uph CROSS JOIN bands),
cand AS (SELECT DISTINCT a.media_id AS id_a, a.phash AS pa,
                b.media_id AS id_b, b.phash AS pb
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.val = b.val AND a.media_id < b.media_id),
prs AS (SELECT id_a, id_b FROM cand WHERE bit_count(xor(pa, pb)) <= 1),
edges AS (SELECT id_a AS s, id_b AS d FROM prs
          UNION ALL SELECT id_b, id_a FROM prs),
reach AS (SELECT s AS id, s AS label FROM edges
          UNION
          SELECT e.s, r.label FROM edges e JOIN reach r ON e.d = r.id),
lab AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id)
SELECT CAST(a.media_id AS BIGINT) AS media_id,
       CAST(COALESCE(l.cluster_id, a.media_id) AS BIGINT) AS rep_id,
       COALESCE(l.cluster_id, a.media_id) = a.media_id AS is_kept
FROM allids a LEFT JOIN lab l ON l.id = a.media_id
ORDER BY media_id
"""


def _media_sig_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once persisted media-dHash layout over the 40-image history
    corpus (the media_near_dups fixture's originals) — the fourth
    signature family's stored state; probes Hamming-verify against it
    without re-decoding history (VERDICT r9 missing #1)."""
    from kowari_spark.operators.dedup_index import build_media_layout
    from kowari_spark.operators.multimodal import synth_media

    def build(p):
        ids = (
            _t(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < 40)
            .select(F.col("vec_id").alias("media_id"))
        )
        build_media_layout(
            synth_media(ids, kind="image", width=32, height=24), p
        )

    return _cached_layout(
        sf_dir, "embeddings", "md8b8", "mdsig", "_media_meta.json", build
    )


def q_media_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERIFIED incremental media dedup against stored dHash
    fingerprints (dedup_index.media_dedup_against): a new batch — exact
    copies of the first 20 history images under shifted ids plus 10
    genuinely new images — decodes only ITSELF; candidates come from
    the banded-bucket join against the partitionBy(bv) layout
    (statically pruned to the batch's buckets) and Hamming is verified
    from the two stored longs, never from history media bytes.
    mode="pairs" so the oracle replays the complete collision join from
    pinned phash fixtures (the media_dedup_keep precedent); the
    reps-bounded path is equivalence-tested in tests/test_dedup_index."""
    from kowari_spark.operators.dedup_index import media_dedup_against
    from kowari_spark.operators.multimodal import synth_media

    base = (
        _t(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("media_id"))
    )
    copies = synth_media(
        base.filter(F.col("media_id") < 20), kind="image",
        width=32, height=24,
    ).withColumn("media_id", F.col("media_id") + 1000)
    # fresh keys 1100..1109: the KWM pixel pattern repeats mod 256, so
    # genuinely-new keys must not alias a history key (0..39) mod 256 —
    # 1100..1109 ≡ 76..85 and sit >= 18 Hamming bits from all history
    fresh = synth_media(
        base.filter((F.col("media_id") >= 40) & (F.col("media_id") < 50))
        .select((F.col("media_id") + 1060).alias("media_id")),
        kind="image", width=32, height=24,
    )
    path = _media_sig_layout(spark, sf_dir)
    return media_dedup_against(
        spark, path, copies.unionByName(fresh), max_hamming=1,
        mode="pairs",
    ).orderBy("new_id", "hist_id")


def _oracle_media_dedup_against() -> str:
    """Phash fixtures for the 40 stored history images and the 30-image
    batch (computed by the same pure-numpy dHash the rows-only media
    rows pin); the banded split, bucket join and Hamming verification
    replay independently in SQL."""
    import numpy as np

    from kowari_spark.operators.multimodal import _dhash_frame

    def phash(key: int, width: int = 32, height: int = 24) -> int:
        y = np.arange(height, dtype=np.int64)[:, None]
        x = np.arange(width, dtype=np.int64)[None, :]
        return _dhash_frame((y * 7 + x * 13 + key) % 256, 8)

    hist_vals = ",".join(f"({i}, {phash(i)})" for i in range(40))
    batch = [(i + 1000, phash(i)) for i in range(20)] + [
        (i, phash(i)) for i in range(1100, 1110)
    ]
    new_vals = ",".join(f"({i}, {p})" for i, p in batch)
    band_rows = ",".join(f"({b}, {256 ** b}::HUGEINT)" for b in range(8))
    return f"""
WITH hph(media_id, phash) AS (VALUES {hist_vals}),
nph(media_id, phash) AS (VALUES {new_vals}),
bands(band, dv) AS (VALUES {band_rows}),
hb AS (SELECT media_id, phash,
              ((CAST(phash AS HUGEINT)
                + CASE WHEN phash < 0
                       THEN 18446744073709551616::HUGEINT
                       ELSE 0::HUGEINT END) // dv) % 256 AS val, band
       FROM hph CROSS JOIN bands),
nb AS (SELECT media_id, phash,
              ((CAST(phash AS HUGEINT)
                + CASE WHEN phash < 0
                       THEN 18446744073709551616::HUGEINT
                       ELSE 0::HUGEINT END) // dv) % 256 AS val, band
       FROM nph CROSS JOIN bands)
SELECT DISTINCT CAST(n.media_id AS BIGINT) AS new_id,
       CAST(h.media_id AS BIGINT) AS hist_id,
       bit_count(xor(n.phash, h.phash)) AS hamming
FROM nb n JOIN hb h ON n.band = h.band AND n.val = h.val
WHERE bit_count(xor(n.phash, h.phash)) <= 1
ORDER BY new_id, hist_id
"""


# --------------------------------------------------------------------------
# contract surface
# --------------------------------------------------------------------------

def _mor_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """Build-once collection warehouse with a MERGE-ON-READ delete
    pending (round 15, catalog.py tombstone design): the embeddings
    table is ingested as a strict collection, then the vec_id%10==3
    slice is deleted via ``delete_df(strategy="tombstone")`` — one
    tiny del-* id-set file, ZERO data segments rewritten. The cache
    sentinel lands only after the delete commits, so a crash between
    ingest and delete can't poison the cache."""
    from kowari_spark.catalog import CollectionManager

    def build(p):
        import os

        emb = _t(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        mgr = CollectionManager(spark, p)
        c = mgr.create_collection("morcoll", dimension=dim, mode="strict")
        c.add_df(
            emb.select(
                F.col("vec_id").cast("string").alias("id"),
                F.col("embedding"),
                F.to_json(F.struct("label")).alias("metadata"),
            )
        )
        c.delete_df(
            emb.filter(F.col("vec_id") % 10 == 3).select("vec_id"),
            strategy="tombstone",
        )
        open(os.path.join(p, "_contract_mor_done"), "w").close()

    return _cached_layout(
        sf_dir, "embeddings", "mor_v1", "morwh", "_contract_mor_done",
        build,
    )


def q_collection_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection scan over PENDING merge-on-read tombstones (round
    15 — VERDICT r14 #1): a tenth of the corpus is logically deleted —
    an O(batch) id-set commit, no segment rewritten (the engine's last
    eager full-table rewrite, now tombstoned like every serving
    layout) — and ``df()`` must subtract it via the seq-ordered
    anti-join so the view equals an eager delete's. The oracle replays
    the survivors from the raw table, so a hash match proves the
    read-time subtraction end to end (id routing, seq ordering,
    metadata fidelity through the ingest round-trip)."""
    from kowari_spark.catalog import CollectionManager

    p = _mor_warehouse(spark, sf_dir)
    c = CollectionManager(spark, p).get_collection("morcoll")
    return (
        c.df()
        .select(
            F.col("id").cast("bigint").alias("vec_id"),
            F.get_json_object("metadata", "$.label")
            .cast("int")
            .alias("label"),
            (
                F.round(F.element_at("embedding", 1).cast("double"), 6)
                + F.lit(0.0)
            ).alias("first_comp"),
        )
        .orderBy("vec_id")
    )


def _oracle_collection_mor_delete() -> str:
    return """
SELECT vec_id,
       label,
       ROUND(embedding[1]::DOUBLE, 6) + 0.0 AS first_comp
FROM embeddings
WHERE vec_id % 10 <> 3
ORDER BY vec_id
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: batch exact k-NN (heap path) over sf0.001 embeddings,
    hits resolved back to full records (reference flagship:
    examples/basic_usage.rs:60-91 — search + id resolution)."""
    sf_dir = "/root/testdata/sf0.001"
    base = _t(spark, sf_dir, "embeddings")
    queries = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hits = knn_batch(base, queries, 5, metric="cosine", id_col="vec_id", round_to=6)
    return hits.join(base.select("vec_id", "label"), "vec_id", "inner").select(
        "query_id", "vec_id", "label", "score", "rank"
    )


#: Validation window bookkeeping, one entry per contract query:
#: (validated, changed) — the latest round in which the row sat in the
#: 50-row validation window (the first 50 entries of ``queries()``,
#: the only rows the contract check replays against the oracle each
#: round), and the latest round that changed the code it runs (0: not
#: since round 16). Rounds number this repository's revisions as the
#: ``plans/rNN`` dumps do. Each round first sets ``validated`` to the
#: previous round for every row of the previous round's window, then
#: sets ``changed`` to its own number on each row whose code it changes.
_VALIDATION = {
    "collection_mor_delete": (21, 0),
    "events_hll_p12": (21, 0),
    "doc_temperature_exact": (21, 0),
    "doc_bm25_resharded": (21, 0),
    "nation_set_ops": (21, 0),
    "customer_strings": (21, 0),
    "orders_by_month": (21, 0),
    "doc_dedup_keep_star": (21, 22),
    "doc_minhash_tuned": (21, 22),
    "doc_simhash_star": (21, 0),
    "doc_winnow_star": (21, 0),
    "doc_bm25_top10": (21, 0),
    "doc_bm25_batch": (21, 0),
    "doc_hybrid_rrf": (21, 0),
    "doc_mixture_sample": (21, 0),
    "doc_top_bigrams": (21, 0),
    "doc_surprisal": (21, 0),
    "doc_dup_spans": (21, 0),
    "doc_despan": (21, 0),
    "doc_repetition": (21, 0),
    "doc_pii_scrub": (21, 0),
    "events_retention": (21, 0),
    "embedding_near_dups": (20, 20),
    "embedding_near_dups_lsh": (20, 22),
    "embedding_semantic_dedup": (21, 22),
    "media_pipeline": (21, 0),
    "media_near_dups": (21, 0),
    "similarity_join": (20, 20),
    "knn_cosine_top10": (21, 0),
    "knn_euclidean_top10": (21, 0),
    "media_dedup_against": (21, 0),
    "doc_simhash_keep": (21, 0),
    "doc_bm25_indexed": (21, 0),
    "doc_dsir_top": (21, 0),
    "knn_batch_top5": (21, 0),
    "lsh_knn_top10": (20, 20),
    "vector_stats": (21, 0),
    "knn_manhattan_top10": (21, 0),
    "knn_quantized_top10": (21, 0),
    "vector_normalize": (21, 0),
    "pricing_summary": (21, 0),
    "revenue_by_nation": (19, 0),
    "doc_dsir_against": (19, 0),
    "doc_hybrid_batch_multi": (20, 20),
    "brand_revenue": (19, 0),
    "top_customer_per_nation": (19, 0),
    "events_hourly": (19, 0),
    "events_sessions": (19, 0),
    "events_sliding": (19, 0),
    "customers_without_orders": (19, 0),
    "events_asof": (20, 0),
    "doc_bm25_sharded": (20, 0),
    "events_hll_layout": (20, 0),
    "events_kmv_layout": (20, 0),
    "doc_temperature_sample": (20, 0),
    "doc_vocab_stats": (20, 0),
    "events_hll_users": (20, 0),
    "orders_fast_lines": (20, 0),
    "doc_token_stats": (20, 0),
    "doc_lang_quality": (20, 0),
    "doc_exact_dedup": (20, 0),
    "doc_minhash_pairs": (21, 22),
    "doc_dup_clusters": (21, 22),
    "doc_dedup_keep": (21, 22),
    "doc_text_knn": (20, 0),
    "doc_simhash_near": (20, 0),
    "doc_winnow_pairs": (20, 0),
    "salted_supplier_revenue": (20, 0),
    "price_quantiles": (20, 0),
    "doc_dedup_against": (21, 21),
    "doc_incremental_keep": (21, 21),
    "doc_simhash_against": (20, 0),
    "doc_dedup_against_verified": (21, 21),
    "doc_winnow_against": (20, 0),
    "embedding_dedup_against": (20, 20),
    "events_funnel": (20, 0),
    "doc_split_sample": (20, 0),
    "doc_pack_chunks": (20, 0),
    "doc_decontam": (20, 0),
    "ivfpq_knn": (20, 22),
    "filtered_lsh_knn": (20, 20),
    "media_dedup_keep": (21, 21),
    "pq_knn": (20, 22),
    "filtered_knn": (20, 0),
    "lsh_recall_at_10": (20, 20),
    "lsh_precision_at_10": (20, 20),
    "hnsw_knn": (20, 22),
    "cp_knn_top10": (20, 17),
    "doc_hybrid_indexed": (20, 20),
    "doc_hybrid_batch": (20, 20),
    "doc_surprisal_buckets": (20, 0),
    "doc_source_cap": (20, 0),
    "embedding_cluster_cap": (20, 22),
    "doc_semantic_decontam": (20, 0),
    "ivf_knn": (20, 22),
    "events_props_stats": (21, 0),
    "events_kmv_users": (21, 0),
    "revenue_rollup": (21, 0),
    "doc_bm25_tombed": (21, 0),
    "doc_dsir_unlearned": (21, 0),
    "orders_cube": (21, 0),
}


def _window_order(name: str) -> tuple[int, int]:
    """Rows changed since their last validation come first, oldest
    change first; then every other row, least recently validated
    first. Ties keep the table's order."""
    validated, changed = _VALIDATION[name]
    return (0, changed) if changed > validated else (1, validated)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every contract query, in validation-window order
    (``_window_order``): the rows checked first are the ones changed
    or validated longest ago."""
    fns = {
        "collection_mor_delete": q_collection_mor_delete,
        "events_hll_p12": q_events_hll_p12,
        "doc_temperature_exact": q_doc_temperature_exact,
        "doc_bm25_resharded": q_doc_bm25_resharded,
        "nation_set_ops": q_nation_set_ops,
        "customer_strings": q_customer_strings,
        "orders_by_month": q_orders_by_month,
        "doc_dedup_keep_star": q_doc_dedup_keep_star,
        "doc_minhash_tuned": q_doc_minhash_tuned,
        "doc_simhash_star": q_doc_simhash_star,
        "doc_winnow_star": q_doc_winnow_star,
        "doc_bm25_top10": q_doc_bm25_top10,
        "doc_bm25_batch": q_doc_bm25_batch,
        "doc_hybrid_rrf": q_doc_hybrid_rrf,
        "doc_mixture_sample": q_doc_mixture_sample,
        "doc_top_bigrams": q_doc_top_bigrams,
        "doc_surprisal": q_doc_surprisal,
        "doc_dup_spans": q_doc_dup_spans,
        "doc_despan": q_doc_despan,
        "doc_repetition": q_doc_repetition,
        "doc_pii_scrub": q_doc_pii_scrub,
        "events_retention": q_events_retention,
        "embedding_near_dups": q_embedding_near_dups,
        "embedding_near_dups_lsh": q_embedding_near_dups_lsh,
        "embedding_semantic_dedup": q_embedding_semantic_dedup,
        "media_pipeline": q_media_pipeline,
        "media_near_dups": q_media_near_dups,
        "similarity_join": q_similarity_join,
        "knn_cosine_top10": q_knn_cosine_top10,
        "knn_euclidean_top10": q_knn_euclidean_top10,
        "media_dedup_against": q_media_dedup_against,
        "doc_simhash_keep": q_doc_simhash_keep,
        "doc_bm25_indexed": q_doc_bm25_indexed,
        "doc_dsir_top": q_doc_dsir_top,
        "knn_batch_top5": q_knn_batch_top5,
        "lsh_knn_top10": q_lsh_knn_top10,
        "vector_stats": q_vector_stats,
        "knn_manhattan_top10": q_knn_manhattan_top10,
        "knn_quantized_top10": q_knn_quantized_top10,
        "vector_normalize": q_vector_normalize,
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "doc_dsir_against": q_doc_dsir_against,
        "doc_hybrid_batch_multi": q_doc_hybrid_batch_multi,
        "brand_revenue": q_brand_revenue,
        "top_customer_per_nation": q_top_customer_per_nation,
        "events_hourly": q_events_hourly,
        "events_sessions": q_events_sessions,
        "events_sliding": q_events_sliding,
        "customers_without_orders": q_customers_without_orders,
        "events_asof": q_events_asof,
        "doc_bm25_sharded": q_doc_bm25_sharded,
        "events_hll_layout": q_events_hll_layout,
        "events_kmv_layout": q_events_kmv_layout,
        "doc_temperature_sample": q_doc_temperature_sample,
        "doc_vocab_stats": q_doc_vocab_stats,
        "events_hll_users": q_events_hll_users,
        "orders_fast_lines": q_orders_fast_lines,
        "doc_token_stats": q_doc_token_stats,
        "doc_lang_quality": q_doc_lang_quality,
        "doc_exact_dedup": q_doc_exact_dedup,
        "doc_minhash_pairs": q_doc_minhash_pairs,
        "doc_dup_clusters": q_doc_dup_clusters,
        "doc_dedup_keep": q_doc_dedup_keep,
        "doc_text_knn": q_doc_text_knn,
        "doc_simhash_near": q_doc_simhash_near,
        "doc_winnow_pairs": q_doc_winnow_pairs,
        "salted_supplier_revenue": q_salted_supplier_revenue,
        "price_quantiles": q_price_quantiles,
        "doc_dedup_against": q_doc_dedup_against,
        "doc_incremental_keep": q_doc_incremental_keep,
        "doc_simhash_against": q_doc_simhash_against,
        "doc_dedup_against_verified": q_doc_dedup_against_verified,
        "doc_winnow_against": q_doc_winnow_against,
        "embedding_dedup_against": q_embedding_dedup_against,
        "events_funnel": q_events_funnel,
        "doc_split_sample": q_doc_split_sample,
        "doc_pack_chunks": q_doc_pack_chunks,
        "doc_decontam": q_doc_decontam,
        "ivfpq_knn": q_ivfpq_knn,
        "filtered_lsh_knn": q_filtered_lsh_knn,
        "media_dedup_keep": q_media_dedup_keep,
        "pq_knn": q_pq_knn,
        "filtered_knn": q_filtered_knn,
        "lsh_recall_at_10": q_lsh_recall_at_10,
        "lsh_precision_at_10": q_lsh_precision_at_10,
        "hnsw_knn": q_hnsw_knn,
        "cp_knn_top10": q_cp_knn_top10,
        "doc_hybrid_indexed": q_doc_hybrid_indexed,
        "doc_hybrid_batch": q_doc_hybrid_batch,
        "doc_surprisal_buckets": q_doc_surprisal_buckets,
        "doc_source_cap": q_doc_source_cap,
        "embedding_cluster_cap": q_embedding_cluster_cap,
        "doc_semantic_decontam": q_doc_semantic_decontam,
        "ivf_knn": q_ivf_knn,
        "events_props_stats": q_events_props_stats,
        "events_kmv_users": q_events_kmv_users,
        "revenue_rollup": q_revenue_rollup,
        "doc_bm25_tombed": q_doc_bm25_tombed,
        "doc_dsir_unlearned": q_doc_dsir_unlearned,
        "orders_cube": q_orders_cube,
    }
    if set(fns) != set(_VALIDATION):
        raise KeyError(
            f"queries without a _VALIDATION entry: {set(fns) ^ set(_VALIDATION)}"
        )
    return {name: fns[name] for name in sorted(fns, key=_window_order)}


def oracle_sql() -> dict[str, str]:
    return {
        "collection_mor_delete": _oracle_collection_mor_delete(),
        "events_hll_p12": _oracle_events_hll(12),
        "doc_temperature_exact": _oracle_doc_temperature_exact(),
        "doc_bm25_resharded": _oracle_doc_bm25_resharded(),
        "doc_bm25_sharded": _oracle_doc_bm25_sharded(),
        "events_hll_layout": _oracle_events_hll(),
        "events_kmv_layout": _oracle_events_kmv_users(),
        "doc_temperature_sample": _oracle_doc_temperature_sample(),
        "doc_vocab_stats": _ORACLE_DOC_VOCAB_STATS,
        "events_hll_users": _oracle_events_hll(),
        "doc_bm25_tombed": _oracle_doc_bm25_tombed(),
        "doc_dsir_unlearned": _oracle_doc_dsir_unlearned(),
        "knn_cosine_top10": _oracle_knn_cosine_top10(),
        "knn_euclidean_top10": _oracle_knn_euclidean_top10(),
        "knn_batch_top5": _oracle_knn_batch_top5(),
        "lsh_knn_top10": _oracle_lsh_knn_top10(),
        "vector_stats": _ORACLE_VECTOR_STATS,
        "knn_manhattan_top10": _ORACLE_KNN_MANHATTAN,
        "knn_quantized_top10": _oracle_knn_quantized_top10(),
        "vector_normalize": _ORACLE_VECTOR_NORMALIZE,
        "pricing_summary": _ORACLE_PRICING_SUMMARY,
        "revenue_by_nation": _ORACLE_REVENUE_BY_NATION,
        "brand_revenue": _ORACLE_BRAND_REVENUE,
        "top_customer_per_nation": _ORACLE_TOP_CUSTOMER_PER_NATION,
        "events_hourly": _ORACLE_EVENTS_HOURLY,
        "events_sessions": _ORACLE_EVENTS_SESSIONS,
        "events_sliding": _ORACLE_EVENTS_SLIDING,
        "customers_without_orders": _ORACLE_CUSTOMERS_WITHOUT_ORDERS,
        "events_asof": _ORACLE_EVENTS_ASOF,
        "orders_fast_lines": _ORACLE_ORDERS_FAST_LINES,
        "doc_token_stats": _ORACLE_DOC_TOKEN_STATS,
        "doc_lang_quality": _oracle_doc_lang_quality(),
        "doc_exact_dedup": _ORACLE_DOC_EXACT_DEDUP,
        "doc_minhash_pairs": _oracle_doc_minhash_pairs(),
        "doc_dedup_against": _oracle_doc_dedup_against(),
        "doc_incremental_keep": _oracle_doc_incremental_keep(),
        "doc_simhash_against": _oracle_doc_simhash_against(),
        "doc_simhash_keep": _oracle_doc_simhash_keep(),
        "doc_bm25_indexed": _oracle_doc_bm25_indexed(),
        "doc_dsir_top": _oracle_doc_dsir_top(),
        "doc_dsir_against": _oracle_doc_dsir_against(),
        "doc_hybrid_indexed": _oracle_doc_hybrid_indexed(),
        "doc_hybrid_batch": _oracle_doc_hybrid_batch(),
        "doc_hybrid_batch_multi": _oracle_doc_hybrid_batch_multi(),
        "doc_surprisal_buckets": _oracle_doc_surprisal_buckets(),
        "doc_source_cap": _ORACLE_DOC_SOURCE_CAP,
        "embedding_cluster_cap": _oracle_embedding_cluster_cap(),
        "doc_semantic_decontam": _oracle_doc_semantic_decontam(),
        "media_dedup_against": _oracle_media_dedup_against(),
        "doc_dedup_against_verified": _oracle_doc_dedup_against_verified(),
        "doc_winnow_against": _oracle_doc_winnow_against(),
        "embedding_dedup_against": _oracle_embedding_dedup_against(),
        "doc_dup_clusters": _oracle_doc_dup_clusters(),
        "doc_dedup_keep": _oracle_doc_dedup_keep(),
        "doc_dedup_keep_star": _oracle_doc_dedup_keep_star(),
        "doc_minhash_tuned": _oracle_doc_minhash_tuned(),
        "doc_simhash_star": _oracle_doc_simhash_star(),
        "doc_winnow_star": _oracle_doc_winnow_star(),
        "doc_text_knn": _oracle_doc_text_knn(),
        "doc_simhash_near": _oracle_doc_simhash_near(),
        "doc_winnow_pairs": _oracle_doc_winnow_pairs(),
        "salted_supplier_revenue": _oracle_salted_supplier_revenue(),
        "price_quantiles": _oracle_price_quantiles(),
        "events_funnel": _ORACLE_EVENTS_FUNNEL,
        "doc_split_sample": _oracle_doc_split_sample(),
        "doc_pack_chunks": _oracle_doc_pack_chunks(),
        "doc_decontam": _oracle_doc_decontam(),
        "doc_bm25_top10": _oracle_doc_bm25_top10(),
        "doc_bm25_batch": _oracle_doc_bm25_batch(),
        "doc_hybrid_rrf": _oracle_doc_hybrid_rrf(),
        "doc_mixture_sample": _oracle_doc_mixture_sample(),
        "doc_top_bigrams": _ORACLE_DOC_TOP_BIGRAMS,
        "doc_surprisal": _ORACLE_DOC_SURPRISAL,
        "doc_dup_spans": _oracle_doc_dup_spans(),
        "doc_despan": _oracle_doc_despan(),
        "doc_repetition": _oracle_doc_repetition(),
        "doc_pii_scrub": _oracle_doc_pii_scrub(),
        "events_retention": _ORACLE_EVENTS_RETENTION,
        "embedding_near_dups": _ORACLE_EMBEDDING_NEAR_DUPS,
        "embedding_near_dups_lsh": _oracle_embedding_near_dups_lsh(),
        "embedding_semantic_dedup": _oracle_embedding_semantic_dedup(),
        "media_pipeline": _ORACLE_MEDIA_PIPELINE,
        "similarity_join": _oracle_similarity_join(),
        "filtered_knn": _oracle_filtered_knn(),
        "lsh_recall_at_10": _oracle_lsh_recall_at_10(),
        "lsh_precision_at_10": _oracle_lsh_precision_at_10(),
        "events_props_stats": _ORACLE_EVENTS_PROPS_STATS,
        "events_kmv_users": _oracle_events_kmv_users(),
        "revenue_rollup": _ORACLE_REVENUE_ROLLUP,
        "orders_cube": _ORACLE_ORDERS_CUBE,
        "nation_set_ops": _ORACLE_NATION_SET_OPS,
        "customer_strings": _ORACLE_CUSTOMER_STRINGS,
        "orders_by_month": _ORACLE_ORDERS_BY_MONTH,
        "hnsw_knn": _oracle_hnsw_knn(),
        "cp_knn_top10": _oracle_cp_knn_top10(),
        "ivf_knn": _oracle_ivf_knn(),
        "pq_knn": _oracle_pq_knn(),
        "ivfpq_knn": _oracle_ivfpq_knn(),
        "filtered_lsh_knn": _oracle_filtered_lsh_knn(),
        "media_dedup_keep": _oracle_media_dedup_keep(),
    }
