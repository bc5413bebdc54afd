"""PQ index tests: deterministic fit, encode, compressed layout, ADC
probe parity, exact-rerank contract, plan shapes, DuckDB fit replay."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kowari_spark import fsutil
from kowari_spark.operators.pq import PQ
from kowari_spark.operators.topk import knn


@pytest.fixture(scope="module")
def base(embeddings):
    return embeddings.cache()


@pytest.fixture(scope="module")
def fitted(base):
    return PQ(m=4, k_sub=8, max_iter=2, seed=42).fit(
        base, id_col="vec_id", dim=64
    )


def test_fit_deterministic_and_seed_sensitive(base):
    a = PQ(m=4, k_sub=8, max_iter=2, seed=1).fit(base, id_col="vec_id", dim=64)
    b = PQ(m=4, k_sub=8, max_iter=2, seed=1).fit(base, id_col="vec_id", dim=64)
    assert np.array_equal(a.codebooks, b.codebooks)
    c = PQ(m=4, k_sub=8, max_iter=2, seed=2).fit(base, id_col="vec_id", dim=64)
    assert (a.codebooks != c.codebooks).any()


def test_constructor_validation(base):
    with pytest.raises(ValueError, match="seed_sample"):
        PQ(seed_sample="atuo")
    with pytest.raises(ValueError, match="divisible"):
        PQ(m=5).fit(base, id_col="vec_id", dim=64)


def test_codes_shape_and_range(base, fitted):
    coded = fitted.with_codes(base)
    rows = coded.select("codes").collect()
    assert len(rows) == base.count()
    for r in rows:
        assert len(r["codes"]) == 4
        assert all(0 <= c < 8 for c in r["codes"])
    # the quantizer actually splits each subspace: no code owns everything
    use = (
        coded.select(F.posexplode("codes").alias("sub", "code"))
        .groupBy("sub", "code").count()
        .agg(F.max("count")).first()[0]
    )
    assert use < base.count()


def test_encode_matches_numpy_argmin(base, fitted):
    """The native argmin expression picks the same code numpy does
    (distinct distances — ties are separately pinned by determinism)."""
    rows = base.limit(20).collect()
    got = {
        r["vec_id"]: list(r["codes"])
        for r in fitted.with_codes(base).filter(F.col("vec_id") < 20)
        .select("vec_id", "codes").collect()
    }
    for r in rows:
        v = np.asarray([float(x) for x in r["embedding"]])
        for j in range(4):
            sub = v[j * 16:(j + 1) * 16]
            d = ((fitted.codebooks[j] - sub) ** 2).sum(axis=1)
            assert got[r["vec_id"]][j] == int(np.argmin(d))


def test_build_layout_is_codes_only_and_load_restores(base, fitted, tmp_path, spark):
    path = str(tmp_path / "pq")
    fitted.build(base, path, id_col="vec_id")
    fresh = PQ()
    codes = fresh.load(spark, path)
    # the layout carries ONLY (id, codes) — never the raw vectors
    assert sorted(codes.columns) == ["codes", "vec_id"]
    assert codes.count() == base.count()
    assert fresh.dim == 64 and fresh.m == 4 and fresh.k_sub == 8
    assert np.array_equal(fresh.codebooks, fitted.codebooks)


def test_load_rejects_mismatched_algo_version(base, fitted, tmp_path, spark):
    import json

    from kowari_spark.fsutil import read_bytes, write_bytes

    path = str(tmp_path / "pq_v")
    fitted.build(base, path, id_col="vec_id")
    meta = json.loads(read_bytes(spark, f"{path}/_pq_meta.json").decode())
    meta["version"] = "pq-other-v9"
    # rewrite through the Hadoop FS API (a plain open() would leave the
    # local FS .crc sidecar stale)
    write_bytes(spark, f"{path}/_pq_meta.json", json.dumps(meta).encode())
    with pytest.raises(ValueError, match="rebuild the layout"):
        PQ().load(spark, path)


def test_adc_matches_reconstructed_distance(base, fitted):
    """ADC distance == squared L2 to the RECONSTRUCTED vector (the PQ
    identity: subspaces are disjoint, so the distance decomposes into
    the per-subspace table entries)."""
    codes = fitted.with_codes(base).select("vec_id", "codes")
    q = [float(x) for x in base.filter(F.col("vec_id") == 7).first()["embedding"]]
    got = {
        r["vec_id"]: r["distance"]
        for r in fitted.query(codes, q, 50, id_col="vec_id").collect()
    }
    code_map = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    qv = np.asarray(q)
    for vid, dist in got.items():
        recon = np.concatenate(
            [fitted.codebooks[j][code_map[vid][j]] for j in range(4)]
        )
        assert dist == pytest.approx(float(((qv - recon) ** 2).sum()), abs=1e-9)


def test_batch_matches_single(base, fitted):
    codes = fitted.with_codes(base).select("vec_id", "codes").cache()
    queries = base.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = fitted.query_batch(codes, queries, 10, id_col="vec_id", round_to=6)
    for r in queries.collect():
        single = [
            (x["vec_id"], x["distance"])
            for x in fitted.query(
                codes, list(r["embedding"]), 10, id_col="vec_id", round_to=6
            ).collect()
        ]
        got = [
            (x["vec_id"], x["distance"])
            for x in batch.filter(F.col("query_id") == r["query_id"])
            .orderBy("rank").collect()
        ]
        assert got == single
    codes.unpersist()


def test_probe_plan_never_reads_vectors(base, fitted, tmp_path, spark):
    """The ADC probe's scan reads the codes layout only — ReadSchema
    must not contain the embedding column, and the single-query top-k
    is a TakeOrderedAndProject (no global sort)."""
    path = str(tmp_path / "pq_plan")
    fitted.build(base, path, id_col="vec_id")
    codes = fitted.load(spark, path)
    q = [float(x) for x in base.first()["embedding"]]
    plan = fitted.query(codes, q, 10, id_col="vec_id")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "embedding" not in plan
    assert "TakeOrderedAndProject" in plan


def test_batch_probe_partial_topk_below_shuffle(base, fitted):
    """The batch probe's per-query top-k must push a PARTIAL
    WindowGroupLimit below the query_id exchange: each map task emits
    only k rows per query, so the shuffle carries k*Q rows — not the
    whole scored relation — regardless of corpus size."""
    codes = fitted.with_codes(base).select("vec_id", "codes")
    queries = base.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = fitted.query_batch(codes, queries, 10, id_col="vec_id")._jdf\
        .queryExecution().executedPlan().toString()
    partial = plan.find("row_number(), 10, Partial")
    exchange = plan.find("Exchange hashpartitioning(query_id")
    assert partial != -1 and exchange != -1
    # the plan prints top-down: the partial limit sits BELOW the exchange
    assert partial > exchange


def test_rerank_index_exact_topk(base, fitted):
    """PQIndex with a shortlist covering the whole table == exact knn:
    pins that candidates -> shared exact re-score composes correctly."""
    from kowari_spark.operators.ann import PQIndex

    idx = PQIndex(fitted, rerank=50)  # 50*10 = 500 >= n: full shortlist
    queries = base.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = idx.search(
        base, queries, 10, metric="euclidean", id_col="vec_id", round_to=6
    )
    for r in queries.collect():
        exact = [
            x["vec_id"]
            for x in knn(base, list(r["embedding"]), 10, metric="euclidean",
                         id_col="vec_id", round_to=6).collect()
        ]
        mine = [
            x["vec_id"]
            for x in got.filter(F.col("query_id") == r["query_id"])
            .orderBy("rank").collect()
        ]
        assert mine == exact


def test_fit_replay_in_duckdb(base, each_execution):
    """Re-derive one subspace's Gonzalez seeding driver-side from a
    DuckDB md5-ordered sample and check the fitted codebook's seeds-
    round-0 behavior: the final codebooks must be reproducible from the
    documented arithmetic (full contract parity is the pq_knn oracle
    row; this pins the seeding order convention against DuckDB's md5)."""
    import duckdb

    pdf = base.select("vec_id", "embedding").toPandas()
    con = duckdb.connect()
    con.register("emb", pdf)
    ordered = con.execute(
        "SELECT vec_id FROM emb ORDER BY md5(CAST(vec_id AS VARCHAR) || '#42') LIMIT 512"
    ).df()["vec_id"].tolist()
    rows = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in base.collect()}
    pts = [(i, rows[i][0:16]) for i in ordered]
    pq = PQ(m=4, k_sub=8, max_iter=0, seed=42)
    pq.dim = 64
    seeds = pq._gonzalez(pts)
    for _ in each_execution():
        fitted0 = PQ(m=4, k_sub=8, max_iter=0, seed=42).fit(
            base, id_col="vec_id", dim=64
        )
        assert np.array_equal(np.asarray(seeds), fitted0.codebooks[0])


def _fold_codes(books, vec):
    """Reference encode, written as the SQL replay computes it: per
    subspace, each centroid's squared distance is a sequential
    dimension-ordered (x-y)^2 sum, and the FIRST minimum wins."""
    m, _, ds = books.shape
    codes = []
    for j in range(m):
        sub = vec[j * ds:(j + 1) * ds]
        dists = []
        for c in books[j]:
            acc = 0.0
            for x, y in zip(sub, c):
                acc += (x - y) * (x - y)
            dists.append(acc)
        codes.append(dists.index(min(dists)))
    return codes


def test_arrow_encoder_parity_on_real_table(base, fitted):
    """The numpy encoder produces exactly the reference fold's codes
    on every row of the real embeddings table — the contract that lets
    it share the SQL oracle."""
    got = {
        r["vec_id"]: list(r["codes"])
        for r in fitted.with_codes(base).select("vec_id", "codes").collect()
    }
    want = {
        r["vec_id"]: _fold_codes(
            fitted.codebooks, [float(x) for x in r["embedding"]])
        for r in base.select("vec_id", "embedding").collect()
    }
    assert got == want


def test_arrow_encoder_tie_breaks_lowest_code(spark):
    """A vector exactly equidistant from two centroids must take the
    LOWER code (array_position(array_min) finds the first match in the
    SQL replay; np.argmin returns the first occurrence)."""
    pq = PQ(m=1, k_sub=2, max_iter=0)
    pq.dim = 2
    pq.codebooks = np.array([[[0.0, 0.0], [2.0, 0.0]]])
    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    assert list(pq.with_codes(df).first()["codes"]) == [0]


def test_arrow_encoder_is_shuffle_free(base, fitted):
    plan = fitted.with_codes(base)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan


def test_fit_codebooks_agree_across_encoders(base, each_execution):
    """The fitted codebooks equal a by-hand Lloyd replay from the same
    seeds: each round every vector joins its reference-fold code per
    subspace, and every non-empty centroid moves to its members' mean
    on the 1e-6 HALF_UP grid (summation order differences vanish on
    the grid)."""
    from decimal import ROUND_HALF_UP, Decimal

    def grid(x):
        return float(Decimal(x).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))

    vecs = [[float(x) for x in r["embedding"]]
            for r in base.select("embedding").collect()]
    for _ in each_execution():
        fitted = PQ(m=4, k_sub=8, max_iter=2, seed=42).fit(
            base, id_col="vec_id", dim=64)
        books = PQ(m=4, k_sub=8, max_iter=0, seed=42).fit(
            base, id_col="vec_id", dim=64).codebooks.copy()
        for _ in range(2):
            sums = np.zeros((4, 8, 16))
            cnts = np.zeros((4, 8), dtype=np.int64)
            for v in vecs:
                for j, c in enumerate(_fold_codes(books, v)):
                    sums[j, c] += v[j * 16:(j + 1) * 16]
                    cnts[j, c] += 1
            for j in range(4):
                for c in range(8):
                    if cnts[j, c]:
                        books[j, c] = [grid(x) for x in sums[j, c] / cnts[j, c]]
        assert np.array_equal(fitted.codebooks, books)


def test_encoder_typo_rejected():
    """One encoder: there is no encoder argument to pass."""
    with pytest.raises(TypeError, match="encoder"):
        PQ(encoder="arrow")


def test_arrow_encoder_degraded_rows_match_expr(spark):
    """Null / short / NaN embeddings take the SQL replay's codes: null
    vector -> all-null codes, a short vector encodes only the subspaces
    its length fully covers (zip_with null-padding semantics), a
    NaN-poisoned subspace resolves to code 0 (all distances NaN ->
    first index), and an overlong vector ignores its tail."""
    pq = PQ(m=2, k_sub=2, max_iter=0)
    pq.dim = 4
    pq.codebooks = np.array(
        [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [1.0, 1.0]]]
    )
    df = spark.createDataFrame(
        [
            (0, [0.1, 0.1, 0.9, 0.9]),
            (1, None),
            (2, [0.1, 0.1]),
            (3, [0.1, 0.1, 0.9]),
            (4, [float("nan"), 0.1, 0.9, 0.9]),
            (5, [0.9, 0.9, 0.1, 0.1, 7.0]),  # overlong: extra ignored
        ],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: list(r["codes"]) for r in pq.with_codes(df).collect()}
    assert got == {
        0: [0, 1], 1: [None, None], 2: [0, None], 3: [0, None],
        4: [0, 1], 5: [1, 0],
    }


def test_layout_sidecar_records_encoder_provenance(base, tmp_path, spark):
    import json

    pq = PQ(m=4, k_sub=8, max_iter=1, seed=42,
            seed_sample=512).fit(base, id_col="vec_id", dim=64)
    path = str(tmp_path / "pq_prov")
    pq.build(base, path, id_col="vec_id")
    fresh = PQ()
    fresh.load(spark, path)
    assert fresh.seed_sample == 512
    with open(f"{path}/_pq_meta.json") as f:
        assert "encoder" not in json.load(f)  # one encoder: nothing to record


def test_fit_ignores_degraded_rows(spark, each_execution):
    """Null / short vectors can't be encoded (null codes by design) —
    fit must skip them instead of crashing the Lloyd reduce, and the
    result equals fitting on the clean subset alone. An overlong
    vector is fitted on its first ``dim`` entries, as encode reads it
    (the distributed reduce used to index past the last subspace)."""
    clean = [(i, [float((i * 7 + j * 3) % 13) for j in range(8)])
             for i in range(40)]
    degraded = [(100, None), (101, [1.0, 2.0, 3.0])]
    full = spark.createDataFrame(
        clean + degraded, "id long, embedding array<double>"
    )
    sub = spark.createDataFrame(clean, "id long, embedding array<double>")
    tail = [(i, v + [99.0, -99.0]) for i, v in clean[:5]] + clean[5:]
    long = spark.createDataFrame(tail, "id long, embedding array<double>")
    for _ in each_execution():
        a = PQ(m=2, k_sub=4, max_iter=2, seed=42).fit(full, id_col="id", dim=8)
        b = PQ(m=2, k_sub=4, max_iter=2, seed=42).fit(sub, id_col="id", dim=8)
        assert np.array_equal(a.codebooks, b.codebooks)
        c = PQ(m=2, k_sub=4, max_iter=2, seed=42).fit(long, id_col="id", dim=8)
        assert np.array_equal(c.codebooks, b.codebooks)


def test_load_refuses_bare_parquet(spark, tmp_path):
    """A parquet dir without the _pq_meta.json sidecar is a provenance
    failure (codes are unusable without their exact codebooks), not a
    loadable layout."""
    path = str(tmp_path / "bare_pq")
    spark.range(3).write.parquet(path)
    with pytest.raises(ValueError, match="sidecar"):
        PQ().load(spark, path)


def _string_degraded(spark):
    """61 8-d rows with string ids in one partition: a null vector first
    (dim comes from the first NON-null row), 58 clean rows, then a
    short vector (dropped) and an overlong one (fitted on its first 8
    entries)."""
    clean = [(f"s{i}", [float((i * 7 + j * 3) % 13) + 0.1 * i
                        for j in range(8)]) for i in range(58)]
    return spark.createDataFrame(
        [("x0", None)] + clean
        + [("x1", [1.0, 2.0, 3.0]), ("x2", [0.5] * 8 + [7.0, 9.0, 3.0])],
        "id string, embedding array<double>",
    ).coalesce(1)


_PARITY = {
    "long-dim-round6": ("long", 64, dict(m=4, k_sub=8, max_iter=3)),
    "long-infer-round-none": ("long", None, dict(
        m=4, k_sub=8, max_iter=3, round_centroids=None)),
    "long-exact": ("long", 64, dict(m=4, k_sub=8, max_iter=2,
                                    seed_sample=None)),
    "long-int-sample": ("long", None, dict(m=4, k_sub=8, max_iter=2,
                                           seed_sample=40)),
    "string-degraded-round6": ("string", None, dict(m=2, k_sub=4,
                                                    max_iter=3)),
    "string-degraded-exact": ("string", 8, dict(
        m=2, k_sub=4, max_iter=3, round_centroids=None, seed_sample=None)),
    "multi-file-round6": ("multi", 64, dict(m=4, k_sub=8, max_iter=3)),
}


@pytest.mark.parametrize("case", sorted(_PARITY))
def test_fit_in_memory_parity(spark, base, tmp_path, monkeypatch,
                              count_jobs, case):
    """A corpus inside the driver bound is fitted in memory in 2 Spark
    jobs (size check, collect; no first() even without ``dim``), with
    the distributed fit's codebooks (the driver bound forced to 0) bit
    for bit on a single-partition input: round_centroids None and 6,
    seed_sample "auto", None and an int, integral and string ids,
    null/short/overlong vectors, ``dim`` given or inferred. A 3-file
    input's partial sums merge in shuffle order on the distributed
    side, so there only the 1e-6 grid makes them equal."""
    kind, dim, kw = _PARITY[case]
    if kind == "string":
        df, id_col = _string_degraded(spark), "id"
    elif kind == "multi":
        path = str(tmp_path / "emb3")
        base.repartition(3).write.parquet(path)
        df, id_col = spark.read.parquet(path), "vec_id"
        assert len(df.inputFiles()) == 3
    else:
        df, id_col = base, "vec_id"
    mem, jobs = count_jobs(lambda: PQ(**kw).fit(df, id_col=id_col, dim=dim))
    assert jobs == 2, case
    monkeypatch.setattr(fsutil, "_DRIVER_MAX_ROWS", 0)
    dist = PQ(**kw).fit(df, id_col=id_col, dim=dim)
    assert mem.dim == dist.dim
    assert np.array_equal(mem.codebooks, dist.codebooks), case


def test_fit_in_memory_declines(spark, base, monkeypatch, count_jobs):
    """Input the in-memory fit does not take runs the distributed plan,
    with its codebooks. Beyond the distributed plan's jobs it costs: the
    size check for a corpus one row over the bound; the size check and
    the collect for a NaN entry or a repeated id (seen in the collected
    rows); nothing for a double id (the schema says so). A corpus that
    exactly fills the bound runs in memory in 2 jobs."""
    from kowari_spark.operators.quantizer import fit_input, md5_order

    df = base.select(F.col("vec_id").alias("id"), "embedding")
    ids = [r[0] for r in df.select("id").collect()]
    n = len(ids)
    # a NaN row outside the 40-row seeding sample: the distributed fit
    # then runs to the end instead of refusing the sample
    last = ids[md5_order(ids, 42)[-1]]
    nan = F.array_repeat(F.lit(float("nan")), 64)
    cases = {
        "over the bound": (df, n - 1, 1),
        "fills the bound": (df, n, None),
        "double id": (df.withColumn("id", F.col("id").cast("double")), n, 0),
        "repeated id": (df.unionByName(df.filter(F.col("id") == ids[0])),
                        n + 1, 2),
        "nan": (df.withColumn("embedding", F.when(F.col("id") == last, nan)
                              .otherwise(F.col("embedding"))), n, 2),
    }
    kw = dict(m=4, k_sub=8, max_iter=2, seed=42, seed_sample=40)
    for name, (case, bound, extra) in cases.items():
        case = case.cache()
        case.count()
        with monkeypatch.context() as mp:
            mp.setattr(fsutil, "_DRIVER_MAX_ROWS", bound)
            declined = fit_input(case, "id", "embedding", dim=64,
                                 cut=True) is None
            got, jobs = count_jobs(lambda: PQ(**kw).fit(case, dim=64))
        with monkeypatch.context() as mp:
            mp.setattr(fsutil, "_DRIVER_MAX_ROWS", 0)
            want, dist_jobs = count_jobs(lambda: PQ(**kw).fit(case, dim=64))
        assert np.array_equal(got.codebooks, want.codebooks,
                              equal_nan=True), name
        assert declined == (extra is not None), name
        if extra is None:
            assert jobs == 2, name
        else:
            assert jobs == dist_jobs + extra, (name, jobs, dist_jobs)
        case.unpersist()
