"""HNSW tests: self-query rank-1 (tests/integration_tests.rs:247-273)
and recall@10 vs brute force — the acceptance metric the reference
defines but never asserts (src/utils.rs:64-79; SURVEY.md §5.2.6)."""

import pytest
from pyspark.sql import functions as F

from kowari_spark.functions import vector
from kowari_spark.operators.eval import mean_metric, recall_at_k
from kowari_spark.operators.hnsw import HNSW, _stable_topk, assign_levels
from kowari_spark.operators.topk import knn_batch


@pytest.fixture(scope="module")
def base(spark, embeddings):
    return embeddings.withColumnRenamed("vec_id", "id").limit(200).cache()


#: a registered alias of cosine: a custom metric has no numpy form, so
#: it takes the pure-JVM expression plan — the reference the GEMM plan
#: is checked against
ALIAS = "cosine_alias"


@pytest.fixture
def alias(monkeypatch):
    monkeypatch.setitem(vector._METRICS, ALIAS, vector.cosine_similarity)
    return ALIAS


@pytest.fixture(scope="module")
def index(base):
    hnsw = HNSW(m=8, ef=32, seed=42)
    edges = hnsw.build(base).cache()
    edges.count()
    return hnsw, edges


def test_levels_deterministic_and_geometric(base, spark):
    a = assign_levels(base, seed=42).select("id", "node_level")
    b = assign_levels(base, seed=42).select("id", "node_level")
    assert a.exceptAll(b).isEmpty()
    counts = {r["node_level"]: r["count"] for r in a.groupBy("node_level").count().collect()}
    # roughly half the nodes at level 0
    assert counts.get(0, 0) > 0.3 * sum(counts.values())


def test_edges_degree_bounded(index):
    _, edges = index
    worst = (
        edges.groupBy("src", "level").count().agg(F.max("count")).first()[0]
    )
    assert worst <= 8  # M


def test_self_query_rank1(base, index):
    hnsw, edges = index
    queries = base.select(F.col("id").alias("query_id"), "embedding").limit(10)
    res = hnsw.query_batch(base, edges, queries, 1, round_to=6).collect()
    for r in res:
        assert r["query_id"] == r["id"]
        assert r["score"] == pytest.approx(1.0, abs=1e-5)


def test_recall_vs_bruteforce(base, index):
    hnsw, edges = index
    queries = base.select(F.col("id").alias("query_id"), "embedding").limit(15)
    approx = hnsw.query_batch(base, edges, queries, 10, round_to=6)
    exact = knn_batch(base, queries, 10, round_to=6)
    m = mean_metric(recall_at_k(exact, approx, 10), "recall")
    assert m >= 0.9, f"hnsw recall@10 too low: {m}"


def test_build_plan_no_python_no_collect(base, alias):
    """The round-1 build collected every layer to the driver (via
    knn_batch's query broadcast). The expression plan (a custom
    metric's) runs one Python function, the sign-LSH hash kernel, once
    per node (before the level explode, under the one bucket grouping)
    — a single ArrowEvalPython — and no other: no grouped-map or batch
    Python eval, no driver-side collect of the layer — candidates come
    from the LSH buckets, pruning from a window."""
    import re

    hnsw = HNSW(m=8, ef=32, seed=42)
    plan = hnsw.candidate_graph(
        base, metric=alias
    )._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"ArrowEvalPython \[(\w+)\(", plan) == ["sign_lsh"]
    for forbidden in ("MapInPandas", "BatchEvalPython",
                      "FlatMapGroupsInPandas"):
        assert forbidden not in plan, f"{forbidden} in build plan"
    assert "Window" in plan
    # candidate generation is the bucketed self-join, not a cross join
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_gemm_scorer_plan_and_agreement(base, alias):
    """The GEMM bucket scorer (every built-in metric's): the plan is the
    grouped-map GEMM — still no cartesian product, no driver collect —
    and the resulting edges agree with the pure-expression plan (the
    cosine alias) except possibly at exact score ties (ulp-level BLAS
    vs fold differences). On this data the graphs must be
    near-identical."""
    gemm = HNSW(m=8, ef=32, seed=42)
    plan = gemm.candidate_graph(base)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    eg = set(map(tuple, gemm.candidate_graph(base).collect()))
    ee = set(map(tuple, gemm.candidate_graph(base, metric=alias).collect()))
    # tie flips only: symmetric difference is a tiny fraction
    assert len(eg ^ ee) <= max(4, len(ee) // 100), (
        f"gemm vs expr edge sets diverge: {len(eg ^ ee)} of {len(ee)}"
    )
    # determinism of the gemm path
    eg2 = set(map(tuple, gemm.candidate_graph(base).collect()))
    assert eg == eg2


def test_no_zero_degree_nodes(base, index):
    _, edges = index
    lvl0 = edges.filter(F.col("level") == 0)
    out_missing = base.select(F.col("id").alias("src")).join(
        lvl0.select("src").distinct(), "src", "left_anti"
    )
    assert out_missing.isEmpty()


def test_entry_point_has_out_edges_on_shared_levels(base, spark):
    """Round-4 ADVICE low (c): the connectivity patch used to exempt
    the entry point, so it could sit edgeless on levels it shares with
    other nodes. Invariant: on every level with >= 2 members, EVERY
    member — entry point included — has out-degree >= 1. num_planes=8
    (256 buckets over 200 vectors) forces many singleton buckets, the
    regime that starves the LSH candidate pass."""
    hnsw = HNSW(m=4, ef=16, seed=42, num_planes=8, num_tables=2,
                refine_rounds=0)
    edges = hnsw.build(base).cache()
    leveled = assign_levels(base.select("id", "embedding"), "id", 42, 16)
    members = leveled.select(
        "id", F.explode(F.sequence(F.lit(0), F.col("node_level"))).alias("level")
    )
    sizes = members.groupBy("level").count()
    shared = sizes.filter(F.col("count") >= 2).select("level")
    need = members.join(shared, "level").select(
        "level", F.col("id").alias("src")
    )
    missing = need.join(edges.select("level", "src").distinct(),
                        ["level", "src"], "left_anti")
    rows = missing.collect()
    assert rows == [], f"nodes without out-edges on shared levels: {rows}"


def test_flat_graph_entry_guard_warns_and_caps(spark, embeddings):
    """Round-4 ADVICE low (b): max_level=0 makes every node level 0;
    the exact entry layer must not silently cross-join the whole table
    with every query — it warns and caps to entry_budget."""
    import warnings

    base = embeddings.withColumnRenamed("vec_id", "id").limit(150).cache()
    hnsw = HNSW(m=4, ef=16, seed=42, max_level=0, num_planes=3,
                num_tables=4, refine_rounds=1)
    edges = hnsw.build(base).cache()
    queries = base.filter(F.col("id") < 3).select(
        F.col("id").alias("query_id"), "embedding"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = hnsw.query_batch(base, edges, queries, 5, id_col="id",
                               entry_budget=32)
        rows = out.collect()
    assert any("flat graph" in str(w.message) for w in caught)
    counts = {}
    for r in rows:
        counts[r["query_id"]] = counts.get(r["query_id"], 0) + 1
    assert all(v == 5 for v in counts.values()) and len(counts) == 3


def test_query_batch_auto_split_matches_unsplit(base, index):
    """A batch above max_batch splits into sub-batches probing the same
    graph — output identical to the unsplit path (the enforced form of
    the broadcast operating bound, VERDICT r5)."""
    hnsw, edges = index
    queries = base.select(F.col("id").alias("query_id"), "embedding").limit(10)
    unsplit = hnsw.query_batch(
        base, edges, queries, 5, round_to=6, max_batch=None
    )
    split = hnsw.query_batch(
        base, edges, queries, 5, round_to=6, max_batch=3
    )
    assert sorted(map(tuple, unsplit.collect())) == sorted(
        map(tuple, split.collect())
    )


def test_contract_forwards_metric_to_graph_navigation(spark):
    """AnnIndex.search(metric=...) must navigate the HNSW graph with
    that metric, not the cosine default (ADVICE r5): on mixed-norm
    vectors the euclidean top-1 via the contract equals the exact
    euclidean top-1."""
    import numpy as np
    from kowari_spark.operators.ann import HNSWIndex

    rng = np.random.RandomState(5)
    # mixed norms: cosine and euclidean rankings disagree strongly
    rows = [
        (i, (rng.normal(size=8) * rng.uniform(0.1, 20.0)).tolist())
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "id int, embedding array<double>").cache()
    queries = df.filter(F.col("id") < 6).select(
        F.col("id").alias("query_id"), "embedding"
    )
    hnsw = HNSW(m=8, ef=64, seed=42)
    edges = hnsw.build(df, metric="euclidean").cache()
    strategy = HNSWIndex(hnsw)
    got = strategy.search(
        df, queries, 3, metric="euclidean", built=edges, round_to=6
    )
    direct = hnsw.query_batch(
        df, edges, queries, 3, metric="euclidean", round_to=6
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # sanity: euclidean scores are negative distances (a cosine-scored
    # walk would return values in [-1, 1] with near-1 self-hits), and
    # most self-hits are found (approximate navigation, not exhaustive)
    rows = got.collect()
    assert all(r["score"] <= 0.0 for r in rows)
    top1 = {r["query_id"]: r["id"] for r in rows if r["rank"] == 1}
    assert sum(1 for q, i in top1.items() if q == i) >= 4
    # without built=, search() must BUILD the graph under the search
    # metric too — identical output to the explicit euclidean build
    auto = strategy.search(df, queries, 3, metric="euclidean", round_to=6)
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, rows))


def test_gemm_scorer_rejects_unknown_metric(base, alias, monkeypatch):
    """A custom registered metric has no numpy form: the GEMM scorer
    must never score it (that would build the graph on the wrong
    geometry). Its candidate plan is the expression plan, and its build
    skips the in-memory (GEMM) path for the distributed one."""
    h = HNSW(m=4, ef=16, seed=42, refine_rounds=0)
    plan = h.candidate_graph(
        base, metric=alias
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    calls = _spy_distributed(monkeypatch)
    edges = _edges(h.build(base, metric=alias))
    assert len(calls) == 1 and edges


def test_build_dim_param_skips_inference_job(spark, base):
    """candidate_graph(dim=) makes plan construction job-free (the
    dim inference costs one Spark job per build — ADVICE r5, same
    pattern as the dedup joins), with an edge set identical to the
    inferred-dim build."""
    hnsw = HNSW(m=4, ef=16, seed=42)
    sc = spark.sparkContext
    group = "hnsw-dim-probe"
    sc.setJobGroup(group, "plan-time job probe", interruptOnCancel=False)
    try:
        withdim = hnsw.candidate_graph(base, dim=64)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    inferred = hnsw.candidate_graph(base)
    assert sorted(map(tuple, withdim.collect())) == sorted(
        map(tuple, inferred.collect())
    )


def test_gemm_refine_build_matches_expr_build(base, alias, monkeypatch):
    """The GEMM refine (group-local scoring of the two-hop candidates,
    _refine_topm_gemm) must reproduce the expression path's NN-descent
    (the cosine alias): identical candidate set (edges ∪ two-hop via a
    shared neighbor, plus the 1-hop edges scored separately), so full
    distributed builds agree except at ulp-level score ties (BLAS vs
    fold summation)."""
    monkeypatch.setattr(HNSW, "BEAM_MAX_NODES", 0)  # distributed plan
    gemm = HNSW(m=8, ef=32, seed=42, refine_rounds=2)
    eg = set(map(tuple, gemm.build(base).collect()))
    ee = set(map(tuple, gemm.build(base, metric=alias).collect()))
    assert len(eg ^ ee) <= max(4, len(ee) // 100), (
        f"gemm vs expr refined builds diverge: {len(eg ^ ee)} of {len(ee)}"
    )
    # determinism of the gemm refine
    eg2 = set(map(tuple, gemm.build(base).collect()))
    assert eg == eg2


# -- incremental maintenance (round-8 ask #6) --------------------------------

def test_insert_recall_matches_rebuild(spark, embeddings):
    """Online insert at a 50% inserted fraction: recall@10 over the
    incrementally-grown graph stays within 0.1 of a full rebuild's
    (recall-equivalence acceptance, not graph isomorphism), and every
    inserted node is findable as its own top-1."""
    full = embeddings.withColumnRenamed("vec_id", "id").limit(200).cache()
    old = full.filter(F.col("id") % 2 == 0).cache()
    new = full.filter(F.col("id") % 2 == 1).cache()
    h = HNSW(m=8, ef=32, seed=42)
    base2, edges2 = h.insert(old, h.build(old), new)
    edges2 = edges2.cache()

    queries = full.select(F.col("id").alias("query_id"), "embedding").limit(15)
    exact = knn_batch(full, queries, 10, round_to=6)
    grown = hnsw_recall = mean_metric(recall_at_k(
        exact, h.query_batch(base2, edges2, queries, 10, round_to=6), 10
    ), "recall")
    rebuilt = mean_metric(recall_at_k(
        exact, h.query_batch(full, h.build(full), queries, 10, round_to=6),
        10
    ), "recall")
    assert grown >= rebuilt - 0.1, (grown, rebuilt)

    # inserted nodes are immediately findable (reachable via the
    # reverse edges the insert added)
    newq = new.select(F.col("id").alias("query_id"), "embedding").limit(8)
    for r in h.query_batch(base2, edges2, newq, 1, round_to=6).collect():
        assert r["query_id"] == r["id"]


def test_insert_edges_shape_and_levels(spark, embeddings):
    """The delta is bidirectional, respects the M bound per (new node,
    level), and only links levels both endpoints occupy (the same
    deterministic level draw the batch build uses)."""
    full = embeddings.withColumnRenamed("vec_id", "id").limit(120).cache()
    old = full.filter(F.col("id") < 100)
    new = full.filter(F.col("id") >= 100)
    h = HNSW(m=4, ef=16, seed=42)
    delta = h.insert_edges(old, h.build(old), new).cache()
    assert delta.count() > 0
    # bidirectional: every fwd edge has its reverse
    fwd = delta.filter(F.col("src") >= 100)
    rev = delta.filter(F.col("dst") >= 100)
    a = {(r["level"], r["src"], r["dst"]) for r in fwd.collect()}
    b = {(r["level"], r["dst"], r["src"]) for r in rev.collect()}
    assert a == b
    # M bound per (new node, level)
    worst = fwd.groupBy("src", "level").count().agg(F.max("count")).first()[0]
    assert worst <= 4
    # level constraint: an edge at level l needs BOTH endpoints there
    lv = {r["id"]: r["node_level"]
          for r in assign_levels(full, seed=42).collect()}
    for lvl, s, d in a:
        assert lv[s] >= lvl and lv[d] >= lvl


def test_layout_roundtrip_and_sidecar(spark, embeddings, tmp_path):
    """build_layout/load_layout: a FRESH instance restores params from
    the sidecar and probes identically; bare dirs are refused."""
    full = embeddings.withColumnRenamed("vec_id", "id").limit(150).cache()
    path = str(tmp_path / "hnsw_layout")
    h = HNSW(m=8, ef=32, seed=42)
    h.build_layout(full, path)

    fresh = HNSW(m=1, ef=1, seed=0)
    base, edges, meta = fresh.load_layout(spark, path)
    assert (fresh.m, fresh.ef, fresh.seed) == (8, 32, 42)
    assert meta["metric"] == "cosine"
    q = full.select(F.col("id").alias("query_id"), "embedding").limit(5)
    a = sorted(map(tuple, fresh.query_batch(base, edges, q, 5,
                                            round_to=6).collect()))
    b = sorted(map(tuple, h.query_batch(
        full, h.build(full), q, 5, round_to=6).collect()))
    assert a == b

    bare = str(tmp_path / "bare")
    full.limit(3).write.parquet(f"{bare}/edges")
    with pytest.raises(ValueError, match="sidecar"):
        HNSW().load_layout(spark, bare)


def test_insert_id_collision_yields_no_self_edges(spark, embeddings):
    """A batch reusing existing ids retrieves itself from the frozen
    graph — the insert must not emit degenerate self-edges."""
    full = embeddings.withColumnRenamed("vec_id", "id").limit(100).cache()
    h = HNSW(m=4, ef=16, seed=42)
    delta = h.insert_edges(full, h.build(full), full.limit(5))
    assert delta.filter(F.col("src") == F.col("dst")).count() == 0


def _qb_rows(df):
    return sorted(
        (r["query_id"], r["id"], r["score"], r["rank"]) for r in df.collect()
    )


def test_query_batch_driver_beam_parity(base, index, monkeypatch):
    """The bounded driver-side beam is a transport change, not an
    algorithm change: row-for-row, score-for-score (exact float
    equality) identical to the distributed search for every numpy
    metric. Guards the round-16 beam routing (VERDICT r15 ask #4)."""
    hnsw, edges = index
    queries = base.select(F.col("id").alias("query_id"), "embedding").limit(12)
    for metric in ("cosine", "dot", "euclidean", "manhattan"):
        assert hnsw._try_driver_beam(
            base, edges, queries, 7, metric, "id", "embedding",
            "query_id", "embedding", 4, 6, 2048, 8192,
        ) is not None, f"beam unexpectedly declined metric={metric}"
        got_beam = _qb_rows(
            hnsw.query_batch(base, edges, queries, 7, metric=metric,
                             round_to=6)
        )
        with monkeypatch.context() as mp:
            mp.setattr(HNSW, "BEAM_MAX_NODES", 0)
            got_dist = _qb_rows(
                hnsw.query_batch(base, edges, queries, 7, metric=metric,
                                 round_to=6)
            )
        assert got_beam == got_dist, f"beam/distributed diverged: {metric}"


def test_query_batch_driver_beam_parity_flat_graph(spark, embeddings,
                                                   monkeypatch):
    """Flat graph (l_cut==0, n > entry_budget): the beam's md5-ordered
    entry sample must pick the exact same entry rows as the distributed
    sample (same salt string, same hex ordering)."""
    import warnings

    base = embeddings.withColumnRenamed("vec_id", "id").limit(150).cache()
    hnsw = HNSW(m=4, ef=16, seed=42, max_level=0, num_planes=3,
                num_tables=4, refine_rounds=1)
    edges = hnsw.build(base).cache()
    queries = base.filter(F.col("id") < 3).select(
        F.col("id").alias("query_id"), "embedding"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got_beam = _qb_rows(
            hnsw.query_batch(base, edges, queries, 5, round_to=6,
                             entry_budget=32)
        )
    assert any("flat graph" in str(w.message) for w in caught)
    monkeypatch.setattr(HNSW, "BEAM_MAX_NODES", 0)
    got_dist = _qb_rows(
        hnsw.query_batch(base, edges, queries, 5, round_to=6,
                         entry_budget=32)
    )
    assert got_beam == got_dist


def test_query_batch_driver_beam_declines_unrounded_and_custom(base, index):
    """No round_to, or a custom metric, must fall through to the
    distributed plan (ULP parity is only provable under rounding)."""
    hnsw, edges = index
    queries = base.select(F.col("id").alias("query_id"), "embedding").limit(3)
    assert hnsw._try_driver_beam(
        base, edges, queries, 5, "cosine", "id", "embedding",
        "query_id", "embedding", 4, None, 2048, 8192,
    ) is None
    assert hnsw._try_driver_beam(
        base, edges, queries, 5, "my_custom", "id", "embedding",
        "query_id", "embedding", 4, 6, 2048, 8192,
    ) is None


def test_query_batch_driver_beam_bounded_jobs(spark, base, index):
    """The beam's whole probe is a handful of bounded collects — the
    job-floor cost the distributed plan pays (~25-30 AQE
    materialization jobs) must be gone."""
    hnsw, edges = index
    queries = base.select(F.col("id").alias("query_id"), "embedding").limit(4)
    sc = spark.sparkContext
    group = "hnsw-beam-jobs"
    sc.setJobGroup(group, "beam job probe", interruptOnCancel=False)
    try:
        out = hnsw.query_batch(base, edges, queries, 5, round_to=6)
        rows = out.collect()
    finally:
        sc.setJobGroup(None, None)
    assert len(rows) == 4 * 5
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 8, f"beam probe ran {len(jobs)} jobs"


# -- bounded in-memory build -------------------------------------------------

def _edges(df):
    return set(map(tuple, df.select("src", "dst", "level").collect()))


class _Distributed(Exception):
    """Raised by the spy when the distributed plan is entered."""


def _spy_distributed(monkeypatch, stop=False):
    """Record every call of the distributed plan's first stage; with
    ``stop`` raise ``_Distributed`` there instead of running it."""
    calls = []
    plan = HNSW.candidate_graph

    def spy(self, *args, **kwargs):
        calls.append(args)
        if stop:
            raise _Distributed()
        return plan(self, *args, **kwargs)

    monkeypatch.setattr(HNSW, "candidate_graph", spy)
    return calls


@pytest.mark.parametrize("refine_rounds", [0, 1])
@pytest.mark.parametrize("metric", ["cosine", "dot", "euclidean",
                                    "manhattan"])
def test_build_in_memory_parity(base, monkeypatch, metric, refine_rounds):
    """A graph under the build's node bound is built on the driver with
    the distributed plan's arithmetic: the edge set is IDENTICAL to the
    distributed build's (forced with ``BEAM_MAX_NODES = 0``), not
    merely close."""
    hnsw = HNSW(m=8, ef=32, seed=42, refine_rounds=refine_rounds)
    one = base.orderBy("id").limit(1)  # no pair: an empty edge set
    calls = _spy_distributed(monkeypatch)
    local = _edges(hnsw.build(base, metric=metric))
    local_one = _edges(hnsw.build(one, metric=metric))
    assert calls == [], "the in-memory path did not run"
    monkeypatch.setattr(HNSW, "BEAM_MAX_NODES", 0)
    dist = _edges(hnsw.build(base, metric=metric))
    dist_one = _edges(hnsw.build(one, metric=metric))
    assert len(calls) == 2
    assert local == dist, (
        f"{metric} refine={refine_rounds}: {len(local ^ dist)} edges differ"
    )
    assert local_one == dist_one == set()


def test_build_in_memory_falls_through(spark, base, alias, monkeypatch):
    """Input the in-memory build does not replicate (null or NaN
    elements, duplicate or null ids), a custom metric and a corpus over
    either node bound (the beam's or ``BUILD_MAX_NODES``) each take the
    distributed plan unchanged. Rows that are not graph nodes (a null
    or short vector) are dropped in memory, not a reason to fall
    through; a ``dim`` no vector has, like an empty input, leaves no
    node at all, and the build returns an empty graph."""
    import numpy as np

    hnsw = HNSW(m=4, ef=16, seed=42, refine_rounds=0)
    rows = [(i, np.random.RandomState(i).normal(size=4).tolist())
            for i in range(20)]

    def in_memory(extra, dim=None, max_nodes=64):
        df = spark.createDataFrame(rows + extra,
                                   "id long, embedding array<double>")
        return hnsw._build_in_memory(df, "id", "embedding", "cosine", dim,
                                     max_nodes)

    clean = _edges(in_memory([]))
    assert clean
    for dropped in ([(20, None)],                            # null vector
                    [(20, [1.0, 2.0])]):                     # short
        assert _edges(in_memory(dropped)) == clean, dropped
    for bad in ([(20, [1.0, None, 2.0, 3.0])],               # null element
                [(20, [1.0, float("nan"), 2.0, 3.0])],       # NaN
                [(19, [1.0, 2.0, 3.0, 4.0])],                # duplicate id
                [(None, [1.0, 2.0, 3.0, 4.0])]):             # null id
        assert in_memory(bad) is None, bad
    assert in_memory([], dim=8) is None
    assert in_memory([], max_nodes=19) is None                # over the bound
    # no row is a graph node: the distributed build returns no edge
    none = spark.createDataFrame(rows, "id long, embedding array<double>")
    assert _edges(hnsw.build(none, dim=8)) == set()
    assert _edges(hnsw.build(none.limit(0), dim=4)) == set()

    calls = _spy_distributed(monkeypatch, stop=True)
    hnsw.build(base)  # in memory: the spy never fires
    vec_type = base.schema["embedding"].dataType.simpleString()
    for bad in ("array(1.0, 2.0)", "NULL"):
        extra = spark.range(1).select(
            F.lit(10**6).cast("long").alias("id"),
            F.expr(f"CAST({bad} AS {vec_type})").alias("embedding"),
        )
        degraded = base.select("id", "embedding").unionByName(extra)
        got = _edges(hnsw.build(degraded))
        assert not any(10**6 in (s, d) for s, d, _ in got), bad
    assert calls == []
    with pytest.raises(_Distributed):
        hnsw.build(base, metric=alias)
    with monkeypatch.context() as mp:
        mp.setattr(HNSW, "BEAM_MAX_NODES", 50)
        with pytest.raises(_Distributed):
            hnsw.build(base)
    monkeypatch.setattr(HNSW, "BUILD_MAX_NODES", 50)
    with pytest.raises(_Distributed):
        hnsw.build(base)
    assert len(calls) == 3


def test_build_in_memory_bounded_jobs(spark, base):
    """The default build of a graph under the node bound is in memory:
    one bounded count and one bounded collect, at most 3 Spark jobs
    (the distributed plan runs ~16-40)."""
    hnsw = HNSW()
    sc = spark.sparkContext
    group = "hnsw-inmem-build"
    sc.setJobGroup(group, "in-memory build job probe", interruptOnCancel=False)
    try:
        edges = hnsw.build(base)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 3, f"in-memory build ran {len(jobs)} jobs"
    assert edges.count() > 0


#: md5 of the sorted (src, dst, level) edge list of the contract's
#: hnsw_knn build, per fixture, as the distributed expression plan
#: built it when that plan still served small corpora of built-in
#: metrics (24 Spark jobs); the in-memory GEMM build must reproduce it
_CONTRACT_EDGES_MD5 = {
    "sf0.001": "a2c3467d857cf185b09cf0c40881debf",
    "sf0.01": "b47a9f476854005bc46fb5efb681b6e2",
}


def test_contract_build_matches_pinned_edges(spark, sf_dir):
    """The contract's default build (``_HNSW_PARAMS`` over the 200
    vectors ``vec_id < 200``, dim 64) runs in at most 3 Spark jobs and
    its edge set hashes to the pinned distributed build's."""
    import hashlib
    import os

    import __spark_entry__ as entry

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    sc = spark.sparkContext
    group = "hnsw-contract-build"
    sc.setJobGroup(group, "contract build job probe", interruptOnCancel=False)
    try:
        edges = HNSW(**entry._HNSW_PARAMS).build(base, id_col="vec_id",
                                                  dim=64)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 3, f"contract build ran {len(jobs)} jobs"
    rows = sorted(map(tuple, edges.select("src", "dst", "level").collect()))
    want = _CONTRACT_EDGES_MD5[os.path.basename(sf_dir.rstrip("/"))]
    assert hashlib.md5(repr(rows).encode()).hexdigest() == want


def _degraded_corpus(spark, n: int, kind: str):
    """n 8-d rows, some of them not graph nodes: null vectors (the
    first row's among them) and/or 5-d vectors. Returns (df, bad ids)."""
    import numpy as np

    rng = np.random.RandomState(n)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(n)]
    bad = set()
    if kind in ("null", "mixed"):
        for i in (0, n // 3, n - 1):
            rows[i] = (i, None)
            bad.add(i)
    if kind in ("ragged", "mixed"):
        for i in (5, n // 2):
            rows[i] = (i, rng.normal(size=5).tolist())
            bad.add(i)
    return spark.createDataFrame(rows, "id long, embedding array<double>"), bad


@pytest.mark.parametrize("kind", ["null", "ragged", "mixed"])
@pytest.mark.parametrize("n", [60, 1100])
def test_build_drops_degraded_rows(spark, monkeypatch, n, kind):
    """A row whose vector is null, or is not the graph's dimension long
    (inferred past a null first row), is not a graph node in either
    build: the in-memory and the distributed builds return the same
    edges, none of them leaves or reaches a degraded id, and every
    other node keeps a level-0 out-edge."""
    df, bad = _degraded_corpus(spark, n, kind)
    hnsw = HNSW(m=8, ef=32, seed=42)
    calls = _spy_distributed(monkeypatch)
    local = _edges(hnsw.build(df))
    assert calls == [], "the in-memory path did not run"
    monkeypatch.setattr(HNSW, "BEAM_MAX_NODES", 0)
    dist = _edges(hnsw.build(df))
    assert len(calls) == 1
    assert local == dist, f"{len(local ^ dist)} edges differ"
    assert not any(s in bad or d in bad for s, d, _ in local)
    assert {s for s, _, lvl in local if lvl == 0} == set(range(n)) - bad


def test_stable_topk_matches_stable_argsort():
    """The kernel's partition-based selection returns exactly the first
    k columns of a stable argsort: ties (including -0.0 vs 0.0) by
    column, infinities in place, NaN rows through the full sort."""
    import numpy as np

    rng = np.random.default_rng(7)
    for trial in range(400):
        rows, width = int(rng.integers(1, 20)), int(rng.integers(1, 30))
        A = rng.integers(-2, 3, size=(rows, width)).astype(float)
        if trial % 2:
            A = A * rng.normal(size=(rows, width))
        A[rng.random(A.shape) < 0.1] *= -0.0
        A[rng.random(A.shape) < 0.1] = np.inf
        if trial % 5 == 0:
            A[rng.random(A.shape) < 0.1] = np.nan
        for k in range(width + 1):
            expect = np.argsort(A, axis=1, kind="stable")[:, :k]
            np.testing.assert_array_equal(_stable_topk(A, k), expect)
