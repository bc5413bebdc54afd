"""IVF index tests: deterministic fit, layout, probe recall vs exact."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kowari_spark import fsutil
from kowari_spark.operators.ivf import IVF
from kowari_spark.operators.topk import knn_batch
from kowari_spark.operators.eval import mean_metric, recall_at_k


@pytest.fixture(scope="module")
def base(embeddings):
    return embeddings.cache()


def test_fit_deterministic(base):
    a = IVF(n_lists=8, max_iter=3, seed=1).fit(base, id_col="vec_id")
    b = IVF(n_lists=8, max_iter=3, seed=1).fit(base, id_col="vec_id")
    assert (a.centroids == b.centroids).all()
    c = IVF(n_lists=8, max_iter=3, seed=2).fit(base, id_col="vec_id")
    assert (a.centroids != c.centroids).any()


def test_assignment_covers_all_rows(base):
    ivf = IVF(n_lists=8, max_iter=3).fit(base, id_col="vec_id")
    lists = ivf.with_lists(base)
    assert lists.count() == base.count()
    ids = [r["list_id"] for r in lists.select("list_id").distinct().collect()]
    assert all(0 <= i < 8 for i in ids)
    # no cell should hold everything (the quantizer actually splits)
    biggest = lists.groupBy("list_id").count().agg(F.max("count")).first()[0]
    assert biggest < base.count()


def test_build_layout_partition_pruned(base, tmp_path, spark):
    ivf = IVF(n_lists=8, n_probe=2, max_iter=3).fit(base, id_col="vec_id")
    path = str(tmp_path / "ivf")
    ivf.build(base, path)
    stored = ivf.load(spark, path)
    assert stored.count() == base.count()
    probe = stored.filter(F.col("list_id") == 3)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # partition filter must prune at the scan, not filter post-read
    assert "PartitionFilters: [isnotnull(list_id" in plan


def test_query_self_hit_and_recall(base, spark):
    ivf = IVF(n_lists=8, n_probe=3, max_iter=3).fit(base, id_col="vec_id")
    lists = ivf.with_lists(base).cache()
    q = [float(x) for x in base.filter(F.col("vec_id") == 0).first()["embedding"]]
    top = ivf.query(lists, q, 5, id_col="vec_id", round_to=6).collect()
    assert top[0]["vec_id"] == 0 and top[0]["score"] == pytest.approx(1.0)

    queries = base.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_batch(base, queries, 10, id_col="vec_id", round_to=6)
    approx = ivf.query_batch(lists, queries, 10, id_col="vec_id", round_to=6)
    rec = mean_metric(recall_at_k(exact, approx, 10, id_col="vec_id"), "recall")
    # 3/8 of the space probed; near neighbors concentrate in the query's
    # cells, so recall must be well above the 3/8 random-baseline
    assert rec >= 0.55


def test_batch_single_agreement(base):
    ivf = IVF(n_lists=8, n_probe=2, max_iter=3).fit(base, id_col="vec_id")
    lists = ivf.with_lists(base).cache()
    q = [float(x) for x in base.filter(F.col("vec_id") == 7).first()["embedding"]]
    single = [(r["vec_id"], r["score"]) for r in
              ivf.query(lists, q, 5, id_col="vec_id", round_to=6).collect()]
    queries = base.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = [(r["vec_id"], r["score"]) for r in
             ivf.query_batch(lists, queries, 5, id_col="vec_id", round_to=6)
             .orderBy("rank").collect()]
    assert single == batch


def test_build_saves_and_load_restores_quantizer(base, tmp_path, spark):
    ivf = IVF(n_lists=8, n_probe=2, max_iter=2, seed=3,
              round_centroids=6).fit(base, id_col="vec_id")
    path = str(tmp_path / "ivf_meta")
    ivf.build(base, path)
    fresh = IVF()
    stored = fresh.load(spark, path)
    assert fresh.n_lists == 8 and fresh.n_probe == 2 and fresh.round_centroids == 6
    assert (fresh.centroids == ivf.centroids).all()
    # probe-ready straight from disk, no refit
    q = [float(x) for x in base.first()["embedding"]]
    top = fresh.query(stored, q, 3, id_col="vec_id", round_to=6).collect()
    assert len(top) == 3


def test_sampled_seeding_matches_distributed_when_sample_covers(base, each_execution):
    """seed_sample >= n must reproduce the exact farthest-first
    traversal bit-for-bit — the parity claim of the driver-side loop
    (same sequential fold, same max-mind/lowest-id tie-break) against
    the distributed argmax scans, and in memory, where both modes run
    the driver loop."""
    for _ in each_execution():
        full = IVF(n_lists=8, max_iter=2, seed=1, seed_sample=None).fit(
            base, id_col="vec_id"
        )
        sampled = IVF(n_lists=8, max_iter=2, seed=1, seed_sample=10_000).fit(
            base, id_col="vec_id"
        )
        assert (full.centroids == sampled.centroids).all()


def test_default_seeding_is_sampled_one_collect(base, spark):
    """The DEFAULT constructor takes the one-collect sampled seeding
    path ("auto" = 64*n_lists): a user calling IVF(n_lists=k) must not
    get k-1 sequential full-table argmax scans (VERDICT r5). Pinned by
    a job-count bound: the whole fit runs far fewer jobs than the
    exact traversal's n_lists-1 seeding scans alone."""
    ivf = IVF(n_lists=8, max_iter=2, seed=1)
    assert ivf.seed_sample == "auto"
    sc = spark.sparkContext
    group = "ivf-default-seeding-probe"
    sc.setJobGroup(group, "count fit jobs", interruptOnCancel=False)
    try:
        ivf.fit(base, id_col="vec_id")
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # sampled path: 1 seeding collect + max_iter Lloyd collects (limit
    # collects may split into incremental jobs) — the exact path would
    # add n_lists-1 = 7 more full-scan seeding jobs on top, so the
    # bound below separates the two paths with room to spare
    assert len(jobs) < ivf.n_lists - 1, jobs
    # and "auto" is bit-identical to the explicit 64*n_lists sample
    explicit = IVF(n_lists=8, max_iter=2, seed=1, seed_sample=64 * 8).fit(
        base, id_col="vec_id"
    )
    assert (ivf.centroids == explicit.centroids).all()


def test_sampled_seeding_small_sample_still_quantizes(base):
    ivf = IVF(n_lists=8, n_probe=3, max_iter=2, seed=1, seed_sample=64).fit(
        base, id_col="vec_id"
    )
    lists = ivf.with_lists(base)
    assert lists.count() == base.count()
    biggest = lists.groupBy("list_id").count().agg(F.max("count")).first()[0]
    assert biggest < base.count()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="seed_sample"):
        IVF(n_lists=8, seed_sample=4).fit(base, id_col="vec_id")


def test_seed_sample_string_typos_rejected_at_construction():
    with pytest.raises(ValueError, match="auto"):
        IVF(seed_sample="AUTO")
    with pytest.raises(ValueError, match="auto"):
        IVF(seed_sample="Auto")
    assert IVF(seed_sample="auto").seed_sample == "auto"


def _fold_cell(cents, vec):
    """Reference assignment, written as the SQL replay computes it:
    each centroid's squared distance is a sequential dimension-ordered
    (x-y)^2 sum, and the FIRST minimum wins."""
    dists = []
    for c in cents:
        acc = 0.0
        for x, y in zip(vec, c):
            acc += (x - y) * (x - y)
        dists.append(acc)
    return dists.index(min(dists))


def test_with_lists_arrow_parity_and_auto_dispatch(spark, embeddings):
    """The cell assignment (shared quantizer argmin encoder, m=1)
    equals the reference fold on the real table; handcrafted degraded
    rows (null/short/overlong vectors) assign a null list_id and a
    NaN-poisoned vector resolves to cell 0. The same row-local plan
    runs at every input size."""
    base = embeddings.select(F.col("vec_id").alias("id"), "embedding").limit(300)
    ivf = IVF(n_lists=8, n_probe=2, max_iter=2, seed=42,
              round_centroids=6).fit(base, id_col="id")
    got = sorted((r["id"], r["list_id"]) for r in
                 ivf.with_lists(base).select("id", "list_id").collect())
    want = sorted((r["id"], _fold_cell(ivf.centroids, list(r["embedding"])))
                  for r in base.collect())
    assert got == want

    dim = 64
    degraded = spark.createDataFrame(
        [
            (0, None),
            (1, [1.0] * (dim - 3)),            # short
            (2, [0.5] * (dim + 5)),            # overlong
            (3, [float("nan")] + [0.0] * (dim - 1)),
            (4, [0.25] * dim),                  # clean control
        ],
        "id long, embedding array<double>",
    )
    got = dict((r["id"], r["list_id"]) for r in
               ivf.with_lists(degraded).select("id", "list_id").collect())
    assert got == {0: None, 1: None, 2: None, 3: 0,
                   4: _fold_cell(ivf.centroids, [0.25] * dim)}

    plan = ivf.with_lists(base)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_fit_engines_agree_and_auto_fit_uses_arrow(spark, each_execution):
    """The fitted centroids equal a by-hand Lloyd replay from the same
    seeds: each round every vector joins its reference-fold cell and
    every non-empty cell moves to its members' mean on the 1e-6
    HALF_UP grid (summation order differences vanish on the grid)."""
    from decimal import ROUND_HALF_UP, Decimal

    def grid(x):
        return float(Decimal(x).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))

    big = spark.range(1500).select(
        F.col("id"),
        F.array(*[((F.col("id") * (i + 3)) % 29).cast("double")
                  for i in range(16)]).alias("embedding"),
    ).cache()
    kw = dict(n_lists=8, n_probe=2, seed=42, round_centroids=6)
    for _ in each_execution():
        fitted = IVF(max_iter=3, **kw).fit(big, id_col="id")
        cents = IVF(max_iter=0, **kw).fit(big, id_col="id").centroids.copy()
        vecs = [list(r["embedding"]) for r in big.collect()]
        for _ in range(3):
            sums = np.zeros_like(cents)
            cnts = np.zeros(len(cents), dtype=np.int64)
            for v in vecs:
                c = _fold_cell(cents, v)
                sums[c] += v
                cnts[c] += 1
            new = cents.copy()
            for c in np.flatnonzero(cnts):
                new[c] = [grid(x) for x in sums[c] / cnts[c]]
            if np.allclose(new, cents, atol=1e-12):
                cents = new
                break
            cents = new
        assert np.array_equal(fitted.centroids, cents)


def test_gonzalez_vectorized_matches_scalar():
    """The vectorized maxmin traversal (dimension-ordered accumulation)
    is byte-for-byte the scalar loop — the SQL fit replays depend on
    it."""
    import random

    from kowari_spark.operators.quantizer import (
        _gonzalez_scalar,
        gonzalez_maxmin,
    )

    rnd = random.Random(7)
    pts = [(i, [rnd.uniform(-1, 1) for _ in range(24)]) for i in range(300)]
    rnd.shuffle(pts)
    assert gonzalez_maxmin(pts, 16) == _gonzalez_scalar(pts, 16)
    # exact-duplicate points force ties -> lowest id must win in both
    dup = pts + [(10_000 + i, v) for i, (_, v) in enumerate(pts[:40])]
    assert gonzalez_maxmin(dup, 12) == _gonzalez_scalar(dup, 12)
    # ragged inputs fall back to the scalar loop
    ragged = [(0, [1.0, 2.0]), (1, [3.0]), (2, [0.5, 0.25])]
    assert gonzalez_maxmin(ragged, 2) == _gonzalez_scalar(ragged, 2)


def test_fit_ignores_degraded_rows(spark, each_execution):
    """Null / short / overlong vectors assign a null list_id by design
    and carry no fittable signal — fit must produce the SAME centroids
    as fitting the clean subset alone. Previously a null list_id
    reaching the driver accumulation hit numpy's None-is-np.newaxis
    semantics: new_c[None] = vec/cnt[None] silently broadcast over the
    ENTIRE centroid matrix (ADVICE r7)."""
    clean = [(i, [float((i * 7 + j * 3) % 13) for j in range(8)])
             for i in range(40)]
    degraded = [(100, None), (101, [1.0, 2.0, 3.0]), (102, [0.0] * 9)]
    full = spark.createDataFrame(
        clean + degraded, "id long, embedding array<double>"
    )
    sub = spark.createDataFrame(clean, "id long, embedding array<double>")
    for _ in each_execution():
        a = IVF(n_lists=4, max_iter=2, seed=42).fit(full, id_col="id")
        b = IVF(n_lists=4, max_iter=2, seed=42).fit(sub, id_col="id")
        assert np.array_equal(a.centroids, b.centroids)
        # and with decimal-grid rounding the degraded path must not crash
        # (the broadcast bug surfaced there as an opaque TypeError)
        c = IVF(n_lists=4, max_iter=2, seed=42, round_centroids=6).fit(
            full, id_col="id"
        )
        d = IVF(n_lists=4, max_iter=2, seed=42, round_centroids=6).fit(
            sub, id_col="id"
        )
        assert np.array_equal(c.centroids, d.centroids)


def test_gonzalez_nan_fails_intelligibly():
    """A NaN-poisoned seed sample has no meaningful maxmin answer —
    the traversal must raise a clear error naming the poisoned ids,
    not the vectorized path's former opaque 'min() arg is an empty
    sequence' (ADVICE r7)."""
    import pytest as _pytest

    from kowari_spark.operators.quantizer import gonzalez_maxmin

    pts = [(i, [float(i), 0.0]) for i in range(10)]
    pts[3] = (3, [float("nan"), 0.0])
    with _pytest.raises(ValueError, match="NaN in seed sample.*3"):
        gonzalez_maxmin(pts, 3)


def test_auto_sizing_resolves_sqrt_n(base, spark, each_execution):
    """n_lists='auto' -> round(sqrt(n)) via the persist-warming count
    (the PQ.fit pattern); n_probe='auto' -> n_lists // 16 floored at 1.
    The resolved fit is bit-identical to an explicit fit with the same
    numbers (auto-sizing changes no arithmetic)."""
    import math

    n = base.count()
    for _ in each_execution():
        auto = IVF(n_lists="auto", n_probe="auto", max_iter=2, seed=42).fit(
            base, id_col="vec_id"
        )
        want_lists = max(1, min(n, int(round(math.sqrt(n)))))
        assert auto.n_lists == want_lists
        assert auto.n_probe == max(1, want_lists // 16)
        explicit = IVF(n_lists=want_lists, n_probe=auto.n_probe, max_iter=2,
                       seed=42).fit(base, id_col="vec_id")
        assert np.array_equal(auto.centroids, explicit.centroids)
        with pytest.raises(ValueError, match="n_lists"):
            IVF(n_lists="mystery")
        with pytest.raises(ValueError, match="n_probe"):
            IVF(n_probe="mystery")


def test_auto_sizing_rederived_per_fit(spark, embeddings):
    """Refitting one IVF(n_lists='auto') instance on a different-size
    corpus re-derives sqrt(n) from THAT corpus instead of silently
    reusing the first fit's resolution (ADVICE r9)."""
    from kowari_spark.operators.ivf import IVF

    vecs = embeddings.select(F.col("vec_id").alias("id"), "embedding")
    ivf = IVF(n_lists="auto", n_probe="auto", max_iter=1, seed=42)
    ivf.fit(vecs.limit(100), id_col="id")
    assert ivf.n_lists == 10  # round(sqrt(100))
    first_probe = ivf.n_probe
    ivf.fit(vecs.limit(400), id_col="id")
    assert ivf.n_lists == 20  # re-derived, not the stale 10
    assert ivf.n_probe == max(1, 20 // 16)
    assert first_probe == 1
    # explicit ints stay untouched across fits
    ivf2 = IVF(n_lists=4, n_probe=2, max_iter=1, seed=42)
    ivf2.fit(vecs.limit(100), id_col="id")
    ivf2.fit(vecs.limit(400), id_col="id")
    assert (ivf2.n_lists, ivf2.n_probe) == (4, 2)


def _string_degraded(spark):
    """61 8-d rows with string ids in one partition: a null vector first
    (dim comes from the first NON-null row), 58 clean rows, then a
    short and an overlong vector — both executions drop all three."""
    clean = [(f"s{i}", [float((i * 7 + j * 3) % 13) + 0.1 * i
                        for j in range(8)]) for i in range(58)]
    return spark.createDataFrame(
        [("x0", None)] + clean + [("x1", [1.0, 2.0, 3.0]), ("x2", [0.5] * 11)],
        "id string, embedding array<double>",
    ).coalesce(1)


_PARITY = {
    "long-round-none": ("long", dict(n_lists=8, max_iter=3)),
    "long-round6-exact": ("long", dict(n_lists=8, max_iter=3,
                                       round_centroids=6, seed_sample=None)),
    "long-auto-lists": ("long", dict(n_lists="auto", n_probe="auto",
                                     max_iter=3, seed_sample=64)),
    "string-degraded-round6": ("string", dict(n_lists=4, max_iter=3,
                                              round_centroids=6,
                                              seed_sample=20)),
    "string-degraded-exact": ("string", dict(n_lists=4, max_iter=3,
                                             seed_sample=None)),
    "multi-file-round6": ("multi", dict(n_lists=8, max_iter=3,
                                        round_centroids=6)),
}


@pytest.mark.parametrize("case", sorted(_PARITY))
def test_fit_in_memory_parity(spark, base, tmp_path, monkeypatch,
                              count_jobs, case):
    """A corpus inside the driver bound is fitted in memory in 2 Spark
    jobs (size check, collect), with the distributed fit's centroids
    (the driver bound forced to 0) bit for bit on a single-partition
    input: round_centroids None and 6, seed_sample "auto", None and an
    int, n_lists="auto", integral and string ids, null/short/overlong
    vectors. A 3-file input's partial sums merge in shuffle order on
    the distributed side, so there only the 1e-6 grid makes them
    equal."""
    kind, kw = _PARITY[case]
    if kind == "string":
        df, id_col = _string_degraded(spark), "id"
    elif kind == "multi":
        path = str(tmp_path / "emb3")
        base.repartition(3).write.parquet(path)
        df, id_col = spark.read.parquet(path), "vec_id"
        assert len(df.inputFiles()) == 3
    else:
        df, id_col = base, "vec_id"
    mem, jobs = count_jobs(lambda: IVF(**kw).fit(df, id_col=id_col))
    assert jobs == 2, case
    monkeypatch.setattr(fsutil, "_DRIVER_MAX_ROWS", 0)
    dist = IVF(**kw).fit(df, id_col=id_col)
    assert (mem.n_lists, mem.n_probe) == (dist.n_lists, dist.n_probe)
    assert np.array_equal(mem.centroids, dist.centroids), case


def test_fit_in_memory_declines(spark, base, monkeypatch, count_jobs):
    """Input the in-memory fit does not take runs the distributed plan,
    with its centroids. Beyond the distributed plan's jobs it costs: the
    size check for a corpus one row over the bound; the size check and
    the collect for a NaN entry or a repeated id (seen in the collected
    rows); nothing for a double id (the schema says so). A corpus that
    exactly fills the bound runs in memory in 2 jobs."""
    from kowari_spark.operators.quantizer import fit_input, md5_order

    df = base.select(F.col("vec_id").alias("id"), "embedding")
    ids = [r[0] for r in df.select("id").collect()]
    n = len(ids)
    # a NaN row outside the 64-row seeding sample: the distributed fit
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
    kw = dict(n_lists=4, max_iter=2, seed=42, seed_sample=64)
    for name, (case, bound, extra) in cases.items():
        case = case.cache()
        case.count()
        with monkeypatch.context() as mp:
            mp.setattr(fsutil, "_DRIVER_MAX_ROWS", bound)
            declined = fit_input(case, "id", "embedding") is None
            got, jobs = count_jobs(lambda: IVF(**kw).fit(case))
        with monkeypatch.context() as mp:
            mp.setattr(fsutil, "_DRIVER_MAX_ROWS", 0)
            want, dist_jobs = count_jobs(lambda: IVF(**kw).fit(case))
        assert np.array_equal(got.centroids, want.centroids,
                              equal_nan=True), name
        assert declined == (extra is not None), name
        if extra is None:
            assert jobs == 2, name
        else:
            assert jobs == dist_jobs + extra, (name, jobs, dist_jobs)
        case.unpersist()
