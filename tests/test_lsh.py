"""LSH + eval tests.

Mirrors the reference's LSH invariants: self-query returns self at rank 1
(tests/integration_tests.rs:217-245 — which holds *because of* the
brute-force fallback when the bucket is small) and adds the recall
acceptance the reference never asserted (SURVEY.md §5.2.6).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kowari_spark.operators.eval import mean_metric, precision_at_k, recall_at_k
from kowari_spark.operators.lsh import SignLSH
from kowari_spark.operators.topk import knn_batch


@pytest.fixture(scope="module")
def base(spark, embeddings):
    return embeddings.withColumnRenamed("vec_id", "id").cache()


@pytest.fixture(scope="module")
def lsh(base):
    dim = len(base.select("embedding").first()["embedding"])
    return SignLSH(dim=dim, num_planes=8, seed=42)


def test_bucket_expr_matches_driver_side(base, lsh):
    """Executor-side bucket column == driver-side numpy bucket."""
    rows = lsh.with_buckets(base).select("id", "embedding", "bucket").limit(50).collect()
    for r in rows:
        assert lsh.probe_buckets(r["embedding"], 1) == [r["bucket"]]


#: vectors the SQL dot fold treats specially, hashed with dim 4: bucket
#: 0 for a null vector, a null entry, a short or long vector (every
#: product is null); the NaN bit set; overflow, underflow and zeros
_INF, _NAN = float("inf"), float("nan")
_DEGRADED = [
    [0.5, -1.0, 2.0, 0.25], None, [1.0, None, 2.0, 3.0], [1.0, 2.0],
    [1.0, -2.0, 3.0, -4.0, 5.0], [_NAN, 1.0, -2.0, 3.0],
    [_INF, 1.0, -2.0, 3.0], [1.0, -_INF, 2.0, 3.0], [_INF, -_INF, 0.0, 0.0],
    [0.0, 0.0, 0.0, 0.0], [], [_NAN, None, 1.0, 1.0], [5e-324, 0.0, 0.0, 0.0],
    [1e308] * 4, [-0.0] * 4, [1e-170, -1e-170, 1e-170, 1e-170],
]
#: per row of _DEGRADED, as the SQL fold (``aggregate(zip_with(...))``
#: over the literal planes) returned them before the kernel replaced it:
#: SignLSH(4, 6, seed=3) bucket of the double and of the float column,
#: MultiSignLSH(4, 5, 3, seed=11) buckets of both, and SignLSH's
#: 6-probe sequence of the double column
_FOLD_FROZEN = [
    (8, 8, [5, 22, 3], [5, 22, 3], [8, 40, 9, 0, 41, 24]),
    (0, 0, [0, 0, 0], [0, 0, 0], [1, 2, 3, 4, 5, 6]),
    (0, 0, [0, 0, 0], [0, 0, 0], [1, 2, 3, 4, 5, 6]),
    (0, 0, [0, 0, 0], [0, 0, 0], [1, 2, 3, 4, 5, 6]),
    (0, 0, [0, 0, 0], [0, 0, 0], [1, 2, 3, 4, 5, 6]),
    (63, 63, [31, 31, 31], [31, 31, 31], [63, 62, 61, 60, 59, 58]),
    (11, 11, [12, 28, 7], [12, 28, 7], [11, 10, 9, 8, 15, 14]),
    (12, 12, [19, 20, 19], [19, 20, 19], [12, 13, 14, 15, 8, 9]),
    (15, 15, [31, 28, 23], [31, 28, 23], [15, 7, 31, 23, 47, 39]),
    (63, 63, [31, 31, 31], [31, 31, 31], [63, 62, 61, 60, 59, 58]),
    (0, 0, [0, 0, 0], [0, 0, 0], [1, 2, 3, 4, 5, 6]),
    (0, 0, [0, 0, 0], [0, 0, 0], [1, 2, 3, 4, 5, 6]),
    (43, 63, [14, 28, 23], [31, 31, 31], [43, 42, 41, 40, 47, 46]),
    (11, 59, [12, 8, 3], [13, 31, 15], [11, 10, 9, 8, 15, 14]),
    (63, 63, [31, 31, 31], [31, 31, 31], [63, 62, 61, 60, 59, 58]),
    (8, 63, [1, 4, 3], [31, 31, 31], [8, 9, 10, 11, 12, 13]),
]


def test_kernel_reproduces_fold_on_degraded_rows(spark):
    """The bucket and probe columns reproduce, row for row, what the SQL
    fold gave on null, short, long, NaN, ±inf, overflowing and
    subnormal vectors, on double and float columns; the driver-side
    probe sequence agrees with the column's."""
    from kowari_spark.operators.lsh import MultiSignLSH

    lsh = SignLSH(dim=4, num_planes=6, seed=3)
    ml = MultiSignLSH(dim=4, num_planes=5, num_tables=3, seed=11)
    df = spark.createDataFrame(
        list(enumerate(_DEGRADED)), "id long, v array<double>"
    ).withColumn("f", F.col("v").cast("array<float>"))
    got = [
        (r["b"], r["bf"], list(r["m"]), list(r["mf"]), list(r["p"]))
        for r in df.select(
            "id", lsh.bucket_col("v").alias("b"), lsh.bucket_col("f").alias("bf"),
            ml.bucket_col("v").alias("m"), ml.bucket_col("f").alias("mf"),
            lsh.probe_col("v", 6).alias("p"),
        ).orderBy("id").collect()
    ]
    assert got == _FOLD_FROZEN
    for vec, want in zip(_DEGRADED, _FOLD_FROZEN):
        assert lsh.probe_buckets(vec, 6) == want[4]
        assert lsh.probe_buckets(vec, 1) == [want[0]]


def _fold_by_hand(x, p):
    acc = 0.0
    for a, b in zip(x, p):
        acc = acc + a * b
    return acc


def _bucket_by_hand(x, planes):
    bucket = 0
    for i, p in enumerate(planes):
        v = _fold_by_hand(x, p)
        if v >= 0.0 or v != v:  # Spark orders NaN above 0.0
            bucket |= 1 << i
    return bucket


def test_kernel_matches_fold_at_ulp_ties(spark):
    """Rows on a plane's null space (|x·p| at rounding level, where the
    summation order decides the sign), overflowing and subnormal rows:
    the kernel's buckets equal a by-hand dimension-order fold, plain
    ``X @ P.T`` signs do not, and the driver single-query bucket equals
    the layout's bucket column."""
    from kowari_spark.operators.lsh import MultiSignLSH

    d = 300  # past the BLAS K-block, so the GEMM sums in another order
    ml = MultiSignLSH(dim=d, num_planes=8, num_tables=2, seed=5)
    P = ml.planes
    rng = np.random.default_rng(0)
    X = rng.normal(size=(96, d))
    for i in range(80):
        p = P[i % len(P)]
        X[i] -= (X[i] @ p) / (p @ p) * p
    X[80:84] *= 1e307  # products overflow to ±inf, sums to NaN
    X[84:88] *= 1e-320  # products underflow into subnormals
    X[88:92] = 0.0
    X[92:96, ::2] = 5e-324
    want = np.array([
        [_bucket_by_hand(x, P[t * 8:(t + 1) * 8].tolist()) for t in range(2)]
        for x in X.tolist()
    ])
    assert (ml.buckets(X) == want).all()
    with np.errstate(all="ignore"):
        plain = ((X @ P.T) >= 0.0).reshape(len(X), 2, 8) @ (1 << np.arange(8))
    assert (plain != want).any()

    single = [SignLSH(dim=d, num_planes=8, seed=5 + t) for t in range(2)]
    df = spark.createDataFrame(list(enumerate(X.tolist())), "id long, v array<double>")
    for t, lsh in enumerate(single):
        rows = lsh.with_buckets(df, "v").orderBy("id").collect()
        assert [r["bucket"] for r in rows] == want[:, t].tolist()
        assert [lsh.probe_buckets(r["v"], 1)[0] for r in rows] == want[:, t].tolist()


def test_self_query_rank1(base, lsh):
    row = base.first()
    res = lsh.query(base, row["embedding"], 3, round_to=6).collect()
    assert res[0]["id"] == row["id"]
    assert res[0]["score"] == pytest.approx(1.0, abs=1e-5)


def test_fallback_small_bucket(spark, lsh, base):
    """k larger than any bucket -> full brute-force, exact results."""
    n = base.count()
    # k > bucket sizes guarantees fallback; compare against exact knn
    row = base.first()
    got = lsh.query(base, row["embedding"], 20, round_to=6)
    from kowari_spark.operators.topk import knn

    exact = knn(base, row["embedding"], 20, round_to=6)
    assert [r["id"] for r in got.collect()] == [r["id"] for r in exact.collect()]


def test_batch_probe_and_recall(spark, base, lsh):
    queries = base.select(F.col("id").alias("query_id"), "embedding").limit(20)
    indexed = lsh.with_buckets(base).cache()
    approx = lsh.query_batch(indexed, queries, 10, round_to=6)
    exact = knn_batch(base, queries, 10, round_to=6)
    rec = recall_at_k(exact, approx, 10)
    m = mean_metric(rec, "recall")
    # self-hit always survives (same bucket as itself); fallback rescues
    # starved buckets, so recall must be well above random
    assert m > 0.3
    # every query got exactly k results
    counts = approx.groupBy("query_id").count().select("count").distinct().collect()
    assert [c["count"] for c in counts] == [10]


def test_partitioned_build_prunes(tmp_path, base, lsh, spark):
    path = str(tmp_path / "lsh_table")
    lsh.build(base, path)
    loaded = lsh.load(spark, path)
    some_bucket = loaded.select("bucket").first()["bucket"]
    plan = loaded.filter(F.col("bucket") == some_bucket)._jdf.queryExecution().executedPlan().toString()
    # partition filter must appear as a pruning predicate, not a data filter
    assert "PartitionFilters: [isnotnull(bucket" in plan or f"bucket#" in plan


def test_eval_metrics_semantics(spark):
    """G3/G4 golden cases (utils.rs:64-96)."""
    exp = spark.createDataFrame(
        [("q", "a", 1), ("q", "b", 2), ("q", "c", 3)], "query_id string, id string, rank int"
    )
    act = spark.createDataFrame(
        [("q", "a", 1), ("q", "x", 2), ("q", "c", 3)], "query_id string, id string, rank int"
    )
    r = recall_at_k(exp, act, 3).first()["recall"]
    assert r == pytest.approx(2 / 3)
    p = precision_at_k(exp, act, 2).first()["precision"]
    assert p == pytest.approx(1 / 2)  # actual[:2]={a,x}, expected set={a,b,c}


def test_multiprobe_probe_sequence(base, lsh):
    """probes=1 is exactly the base bucket; probes>1 prepends it and adds
    distinct single/multi-bit perturbations of the low-margin planes."""
    probe_df = base.limit(3).select(
        "id", lsh.probe_col("embedding", 8).alias("probes"),
        lsh.bucket_col("embedding").alias("bucket"),
    )
    for r in probe_df.collect():
        assert r["probes"][0] == r["bucket"]  # cost-0 subset first
        assert len(r["probes"]) == 8
        assert len(set(r["probes"])) == 8  # distinct buckets


def test_multiprobe_sequence_prefix_property(base, lsh):
    """The probe sequence is deterministic and monotone: probing more
    buckets extends the same cost-ordered sequence (so the candidate
    pool only grows), and every probe differs from the base bucket only
    on low-margin planes. (End recall is NOT monotone in probes by
    design: widening the pool past k candidates disables the reference's
    brute-force fallback, which is the point of probing.) The sequence
    is the by-hand enumeration: flip subsets of the five lowest-margin
    planes, ordered by summed margin², ties by xor mask."""
    from itertools import combinations

    rows = base.limit(5).select(
        "embedding",
        lsh.probe_col("embedding", 4).alias("p4"),
        lsh.probe_col("embedding", 16).alias("p16"),
    ).collect()
    for r in rows:
        assert list(r["p16"][:4]) == list(r["p4"])
        dots = [_fold_by_hand(r["embedding"], p) for p in lsh.planes]
        base_bucket = _bucket_by_hand(r["embedding"], lsh.planes)
        low = sorted(range(len(dots)), key=lambda i: (dots[i] * dots[i], i))[:5]
        subsets = []
        for size in range(6):
            for planes in combinations(range(5), size):
                cost = 0.0
                for j in planes:
                    cost = cost + dots[low[j]] * dots[low[j]]
                subsets.append((cost, sum(1 << low[j] for j in planes)))
        want = [base_bucket ^ x for _, x in sorted(subsets)[:16]]
        assert list(r["p16"]) == want


def test_probe_buckets_driver_matches_expr(base, lsh):
    """probe_buckets (the driver-side call behind the single-query
    static prune) must produce the same ordered probe sequence as the
    batch path's probe column: one function serves both."""
    rows = base.limit(10).select(
        "embedding", lsh.probe_col("embedding", 8).alias("p"),
        lsh.bucket_col("embedding").alias("b"),
    ).collect()
    for r in rows:
        assert lsh.probe_buckets(r["embedding"], 8) == list(r["p"])
        assert lsh.probe_buckets(r["embedding"], 1) == [r["b"]]


def test_single_query_probe_prunes_built_layout(tmp_path, base, lsh, spark):
    """On a built layout the single-query candidate scan must carry the
    literal bucket IN (...) as a partition filter (static pruning) —
    and multiprobe results must match the batch path's."""
    path = str(tmp_path / "lsh_probe")
    lsh.build(base, path)
    loaded = lsh.load(spark, path)
    q = base.first()["embedding"]
    buckets = lsh.probe_buckets(q, 4)
    cand = loaded.filter(F.col("bucket").isin(buckets))
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan

    single = [(r["id"], r["score"]) for r in
              lsh.query(loaded, q, 5, round_to=6, probes=4).collect()]
    queries = base.limit(1).select(F.col("id").alias("query_id"), "embedding")
    batch = [(r["id"], r["score"]) for r in
             lsh.query_batch(loaded, queries, 5, round_to=6, probes=4)
             .orderBy("rank").collect()]
    assert single == batch


def test_multitable_recall_beats_single_table(spark, base):
    from kowari_spark.operators.lsh import MultiSignLSH

    queries = base.select(F.col("id").alias("query_id"), "embedding").limit(8)
    exact = knn_batch(base, queries, 10, round_to=6)
    single = SignLSH(dim=64, num_planes=4, seed=42)
    mt = MultiSignLSH(dim=64, num_planes=4, num_tables=8, seed=42)
    r1 = mean_metric(recall_at_k(exact, single.query_batch(base, queries, 10, round_to=6), 10), "recall")
    rT = mean_metric(recall_at_k(exact, mt.query_batch(base, queries, 10, round_to=6), 10), "recall")
    assert rT >= r1
    # every query fully served
    counts = mt.query_batch(base, queries, 10, round_to=6).groupBy("query_id").count()
    assert [c["count"] for c in counts.select("count").distinct().collect()] == [10]


def test_multitable_built_layout_roundtrip(tmp_path, base, spark):
    from kowari_spark.operators.lsh import MultiSignLSH

    mt = MultiSignLSH(dim=64, num_planes=4, num_tables=4, seed=7)
    path = str(tmp_path / "mt_lsh")
    mt.build(base, path)
    loaded = mt.load(spark, path)
    queries = base.select(F.col("id").alias("query_id"), "embedding").limit(4)
    from_layout = mt.query_batch(loaded, queries, 5, round_to=6)
    from_df = mt.query_batch(base, queries, 5, round_to=6)
    a = sorted(map(tuple, from_layout.select("query_id", "id", "rank").collect()))
    b = sorted(map(tuple, from_df.select("query_id", "id", "rank").collect()))
    assert a == b


def test_multitable_buckets_match_single_tables(base):
    """Table t of MultiSignLSH(seed) hashes like SignLSH(seed + t) —
    the plane construction HNSW and the near-dup join rely on — in the
    bucket column and in the driver-side ``buckets``."""
    from kowari_spark.operators.lsh import MultiSignLSH

    ml = MultiSignLSH(dim=64, num_planes=6, num_tables=4, seed=42)
    single = [SignLSH(dim=64, num_planes=6, seed=42 + t) for t in range(4)]
    rows = base.select(
        "embedding", ml.bucket_col("embedding").alias("m"),
        *[t.bucket_col("embedding").alias(f"b{i}") for i, t in enumerate(single)],
    ).collect()
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    got = np.array([r["m"] for r in rows])
    assert (got == ml.buckets(V)).all()
    assert (got == np.array([[r[f"b{i}"] for i in range(4)] for r in rows])).all()


def test_multitable_hasher_validation(tmp_path, base, spark):
    """The ``hasher`` knob is gone: passing it is a TypeError. A layout
    whose sidecar records the removed GEMM hasher is refused with a
    rebuild message by ``load`` and ``open_lsh_layout``; a sidecar that
    records "expr", or no hasher, loads (its buckets are the fold's)."""
    import json

    from kowari_spark.fsutil import read_bytes, write_bytes
    from kowari_spark.operators.dedup_index import open_lsh_layout
    from kowari_spark.operators.lsh import MultiSignLSH

    from kowari_spark.operators.dedup import (
        embedding_near_dups_lsh,
        similarity_join,
    )

    for call in (
        lambda: MultiSignLSH(dim=8, hasher="gemm"),
        lambda: embedding_near_dups_lsh(base, 0.9, hasher="gemm"),
        lambda: similarity_join(base, base, 0.9, hasher="gemm"),
    ):
        with pytest.raises(TypeError, match="hasher"):
            call()
    mt = MultiSignLSH(dim=64, num_planes=2, num_tables=2, seed=3)
    path = str(tmp_path / "mt_hasher")
    mt.build(base.limit(20), path)
    meta_path = f"{path}/_lsh_meta.json"
    meta = json.loads(read_bytes(spark, meta_path).decode())
    assert "hasher" not in meta
    for hasher in (None, "expr"):
        if hasher:
            write_bytes(spark, meta_path, json.dumps(dict(meta, hasher=hasher)).encode())
        assert mt.load(spark, path).count() == 40
        assert open_lsh_layout(spark, path)[0]._params() == mt._params()
    write_bytes(spark, meta_path, json.dumps(dict(meta, hasher="gemm")).encode())
    with pytest.raises(ValueError, match="rebuild"):
        mt.load(spark, path)
    with pytest.raises(ValueError, match="rebuild"):
        open_lsh_layout(spark, path)


def test_build_refuses_empty_input(tmp_path, base, spark):
    """A build over an empty frame must refuse BEFORE writing anything:
    a params sidecar over a data-less dir would be accepted by
    open_lsh_layout/SignatureLayout.open and crash the first probe on
    parquet schema inference (ADVICE r11)."""
    from kowari_spark.fsutil import exists
    from kowari_spark.operators.lsh import MultiSignLSH

    empty = base.filter(F.lit(False))
    for idx, name in [
        (SignLSH(dim=64, num_planes=4, seed=1), "sig"),
        (MultiSignLSH(dim=64, num_planes=4, num_tables=2, seed=1), "multi"),
    ]:
        path = str(tmp_path / f"empty_{name}")
        with pytest.raises(ValueError, match="empty DataFrame"):
            idx.build(empty, path)
        assert not exists(spark, f"{path}/_lsh_meta.json")


def test_multi_table_batch_probe_statically_prunes(spark, embeddings, tmp_path):
    """MultiSignLSH.query_batch against a BUILT layout compiles the
    query batch's probed (table, bucket) pairs into a literal
    predicate: the candidate scan's PartitionFilters carry bucket
    values (static pruning — Spark's dynamic pruning emits a
    __tbl-only filter here, which prunes nothing), and the re-score
    reads vectors only from probed partitions (no table-0 join on the
    happy path)."""
    import re

    from kowari_spark.operators.lsh import MultiSignLSH

    base = embeddings.select("vec_id", "embedding").limit(400)
    mlsh = MultiSignLSH(dim=64, num_planes=4, num_tables=2, seed=7)
    path = str(tmp_path / "mlsh_prune")
    mlsh.build(base, path, vec_col="embedding", id_col="vec_id")
    queries = base.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = mlsh.query_batch(
        mlsh.load(spark, path), queries, 5,
        id_col="vec_id", query_vec_col="embedding", round_to=6,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
    assert any(
        "bucket" in f and (" IN " in f or "INSET" in f.upper())
        for f in pf
    ), pf
    # results identical to probing the raw (unpartitioned) relation,
    # where the probe computes buckets on the fly instead of pruning
    want = sorted(map(tuple, mlsh.query_batch(
        base, queries, 5, id_col="vec_id", query_vec_col="embedding",
        round_to=6,
    ).collect()))
    assert sorted(map(tuple, out.collect())) == want
