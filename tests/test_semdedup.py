"""SemDeDup semantic dedup (operators/dedup.semantic_dedup)."""

import pytest
from pyspark.sql import functions as F

from kowari_spark.operators.dedup import semantic_dedup
from kowari_spark.operators.ivf import IVF


@pytest.fixture(scope="module")
def clustered(spark):
    # two tight direction-clusters plus one loner
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),
        (2, [0.998, 0.02, 0.0]),
        (10, [0.0, 1.0, 0.0]),
        (11, [0.0, 0.999, 0.01]),
        (20, [0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_clusters_keep_min_id_representative(clustered):
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            clustered, threshold=0.99, n_lists=2, ivf=IVF(n_lists=2, round_centroids=6)
        ).collect()
    }
    assert len(out) == 6
    # 0,1,2 collapse to rep 0; 10,11 to rep 10; 20 survives alone
    assert out[0]["rep_id"] == 0 and out[0]["is_kept"]
    assert out[1]["rep_id"] == 0 and not out[1]["is_kept"]
    assert out[2]["rep_id"] == 0 and not out[2]["is_kept"]
    assert out[10]["rep_id"] == 10 and out[10]["is_kept"]
    assert out[11]["rep_id"] == 10 and not out[11]["is_kept"]
    assert out[20]["rep_id"] == 20 and out[20]["is_kept"]


def test_kept_set_equals_distinct_reps(clustered):
    out = semantic_dedup(
        clustered, threshold=0.99, ivf=IVF(n_lists=2, round_centroids=6)
    )
    kept = sorted(r["vec_id"] for r in out.filter("is_kept").collect())
    reps = sorted(r["rep_id"] for r in out.select("rep_id").distinct().collect())
    assert kept == reps


def test_preassigned_layout_skips_quantizer(clustered):
    """A df that already carries list_id (a loaded IVF layout) is used
    as-is — no ivf needed, no fit jobs."""
    pre = clustered.withColumn(
        "list_id", (F.col("vec_id") >= 10).cast("int")
    )
    out = {
        r["vec_id"]: r["rep_id"]
        for r in semantic_dedup(pre, threshold=0.99).collect()
    }
    assert out[1] == 0 and out[11] == 10 and out[20] == 20


def test_pair_join_is_cluster_local(clustered):
    pre = clustered.withColumn("list_id", (F.col("vec_id") >= 10).cast("int"))
    plan = (
        semantic_dedup(pre, threshold=0.99)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def test_cross_cell_near_dups_not_connected(spark):
    """Near-identical vectors split across cells are NOT paired — the
    documented approximation of cluster-local comparison."""
    rows = [(0, [1.0, 0.0]), (1, [0.999, 0.001])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pre = df.withColumn("list_id", F.col("vec_id").cast("int"))
    out = {r["vec_id"]: r for r in semantic_dedup(pre, threshold=0.9).collect()}
    assert out[0]["is_kept"] and out[1]["is_kept"]


def _contract_ivf(emb):
    import __spark_entry__ as entry

    ivf = IVF(**entry._IVF_PARAMS)
    ivf.fit(emb, id_col="vec_id")
    return ivf


def test_gemm_scorer_parity_with_expr(spark, sf_dir, replay):
    """The GEMM cell scorer (margin-select + exact sequential rescore)
    reproduces, row for row, the contract's DuckDB replay of SemDeDup
    (IVF fit + in-cell SQL cosines + reachability) on the real
    embeddings table, under the default ``edges="auto"``."""
    import __spark_entry__ as entry

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = semantic_dedup(
        emb, threshold=0.3, id_col="vec_id", ivf=_contract_ivf(emb)
    ).toPandas().sort_values("vec_id")
    want = replay(entry._oracle_embedding_semantic_dedup())
    assert len(got) == len(want) > 0
    assert got.values.tolist() == want.values.tolist()


def test_gemm_scorer_zero_norm_guard(spark):
    rows = [
        (0, [0.0, 0.0]), (1, [0.0, 0.0]),  # zero vectors: cos defined 0.0
        (2, [1.0, 0.0]), (3, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pre = df.withColumn("list_id", F.lit(0))
    out = {r["vec_id"]: r for r in semantic_dedup(pre, 0.9).collect()}
    # zero-norm pairs score 0.0 (never dup); identical unit vectors pair up
    assert out[0]["is_kept"] and out[1]["is_kept"]
    assert out[2]["is_kept"] and out[3]["rep_id"] == 2


def test_bad_scorer_rejected(clustered):
    """There is one pair scorer: ``scorer`` is not a parameter."""
    with pytest.raises(TypeError):
        semantic_dedup(clustered, 0.5, ivf=IVF(n_lists=2), scorer="gemm")


@pytest.mark.parametrize("edges", ["pairs", "star"])
def test_unassigned_rows_are_never_paired(spark, clustered, edges):
    """IVF gives null and wrong-length vectors no cell (list_id NULL).
    Those rows are never paired — not even two identical 2-d vectors in
    a 3-d corpus, nor a null vector beside them: each is its own
    representative, and the clean rows dedup as without them."""
    extra = spark.createDataFrame(
        [(100, [0.5, 0.5]), (101, [0.5, 0.5]), (102, None)],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            clustered.unionByName(extra), threshold=0.9, edges=edges,
            ivf=IVF(n_lists=2, round_centroids=6),
        ).collect()
    }
    assert len(out) == 9
    for i in (100, 101, 102):
        assert out[i]["list_id"] is None
        assert out[i]["rep_id"] == i and out[i]["is_kept"], out[i]
    assert out[1]["rep_id"] == 0 and out[11]["rep_id"] == 10


def test_auto_n_lists_flows_through(spark, embeddings):
    """semantic_dedup(n_lists='auto') rides IVF's sqrt-n sizing: same
    output as passing the resolved value explicitly."""
    import math

    from kowari_spark.operators.dedup import semantic_dedup

    base = embeddings.limit(144).cache()
    n = base.count()
    want = max(1, int(round(math.sqrt(n))))
    a = semantic_dedup(base, threshold=0.3, n_lists="auto")
    b = semantic_dedup(base, threshold=0.3, n_lists=want)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_star_edges_expr_gemm_parity(spark, sf_dir, replay):
    """Verified-star cell scoring (one GEMV + the exact sequential
    rescore) matches a DuckDB star replay on the contract's IVF cells:
    a member joins its cell-min's component iff their rounded SQL
    cosine passes the threshold, so its representative is that min."""
    import __spark_entry__ as entry

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = semantic_dedup(
        emb, threshold=0.3, id_col="vec_id", ivf=_contract_ivf(emb),
        edges="star",
    ).toPandas().sort_values("vec_id")
    ctes = entry._ivf_fit_sql_ctes() + [
        "nrm AS (SELECT vec_id, e, cid, sqrt(list_dot_product(e, e)) AS nn"
        " FROM fa)",
        "mn AS (SELECT cid, MIN(vec_id) AS m FROM nrm GROUP BY cid)",
        """st AS (
  SELECT b.vec_id, a.vec_id AS m
  FROM mn JOIN nrm a ON a.cid = mn.cid AND a.vec_id = mn.m
  JOIN nrm b ON b.cid = mn.cid AND b.vec_id > mn.m
  WHERE ROUND(CASE WHEN a.nn = 0 OR b.nn = 0 THEN 0.0
              ELSE list_dot_product(a.e, b.e) / (a.nn * b.nn) END, 6) + 0.0
        >= 0.3)""",
    ]
    want = replay(
        "WITH\n" + ",\n".join(ctes) + """
SELECT f.vec_id, CAST(f.cid AS INT) AS list_id,
       COALESCE(st.m, f.vec_id) AS rep_id,
       COALESCE(st.m, f.vec_id) = f.vec_id AS is_kept
FROM fa f LEFT JOIN st ON st.vec_id = f.vec_id
ORDER BY f.vec_id"""
    )
    assert len(got) == len(want) > 0
    assert got.values.tolist() == want.values.tolist()


def test_auto_edges_small_cells_match_pairs(clustered):
    """edges="auto" on task-sized cells == the exact all-pairs mode."""
    kw = dict(threshold=0.99, ivf=IVF(n_lists=2, round_centroids=6))
    auto = semantic_dedup(clustered, **kw).toPandas().sort_values("vec_id")
    kw = dict(threshold=0.99, ivf=IVF(n_lists=2, round_centroids=6))
    pinned = semantic_dedup(
        clustered, edges="pairs", **kw
    ).toPandas().sort_values("vec_id")
    assert auto.values.tolist() == pinned.values.tolist()


def test_hot_cell_star_bounds_dense_cluster(spark):
    """The hot-cell regime (VERDICT r8 missing #2): a planted dense
    cell of near-identical vectors. max_cell below the family size
    flips auto to star; the family still collapses to ONE survivor
    (near-identical members are all within threshold of the min, so
    the verified-star component equals the all-pairs component)."""
    n = 400
    fam = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.lit(1.0) + F.col("id").cast("double") / 1.0e7),
            F.lit(0.0),
        ).alias("embedding"),
    )
    loner = spark.createDataFrame(
        [(10_000, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    pre = fam.unionByName(loner).withColumn(
        "list_id", (F.col("vec_id") >= 10_000).cast("int")
    )
    out = semantic_dedup(pre, threshold=0.999, max_cell=100)
    kept = sorted(r["vec_id"] for r in out.filter("is_kept").collect())
    assert kept == [0, 10_000]
    assert out.count() == n + 1
    # same corpus, exact all-pairs pinned: identical keep set
    out2 = semantic_dedup(pre, threshold=0.999, edges="pairs")
    assert sorted(r["vec_id"] for r in out2.filter("is_kept").collect()) \
        == [0, 10_000]
