"""Benchmark harness — one JSON line on stdout.

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Each query is timed
end-to-end (plan + execute + fetch); the headline metric is the total
wall time of the suite.

Small-line stabilization (VERDICT r10 "what's wrong" #1): sub-3 s
query lines are re-run twice and report the MEDIAN of three — the
suite-position/GC drift that made one small line a false >1.3x
"mover" every round (customer_strings r7/r8, doc_lang_quality r9/r10,
ivfpq_knn r10, each proven drift by A/B) sits exactly in this band,
and a median absorbs one bad draw. Build/ingest lines stay
single-shot: their first call materializes a cached layout, so a
rerun would time the cache hit, not the build. NOTE for cross-round
comparison: medians of warm reruns sit at steady-state, so r10→r11
small-line drops are partly this mechanism, not code.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from kowari_spark import get_session
from kowari_spark.operators import knn_batch


def bench_queries(spark, sf_dir, scratch):
    """name -> zero-arg callable executing one benchmark query.

    Covers every contract query plus the BASELINE.md measurement plan:
    exact-knn-batch-100, lsh-build (bucket column + partitioned layout
    write), ingest-validated (10k-vector dimension-checked append).
    """
    out = {}

    # offline index builds, each timed on its own line; the contract
    # queries below then measure the online probes against the prebuilt
    # layouts (the build-once/probe-many split the indexes exist for)
    out["ivf_build_16"] = lambda: entrymod._ivf_index(spark, sf_dir)
    out["lsh_index_build"] = lambda: entrymod._lsh_index(spark, sf_dir)
    out["hnsw_build"] = lambda: entrymod._hnsw_index(spark, sf_dir)
    out["pq_build"] = lambda: entrymod._pq_index(spark, sf_dir)
    # composed IVF×PQ layout (cells + codes, partitionBy(list_id));
    # runs after its two parents so this line times the composition
    out["ivfpq_build"] = lambda: entrymod._ivfpq_index(spark, sf_dir)
    # signature-layout builds (dedup_index): timed on their own lines so
    # the *_against contract rows below measure the PROBE, the
    # build-once/probe-many split the index rows already use
    out["mh_sig_build"] = lambda: entrymod._minhash_sig_layout(spark, sf_dir)
    out["sh_sig_build"] = lambda: entrymod._simhash_sig_layout(spark, sf_dir)
    out["wn_sig_build"] = lambda: entrymod._winnow_sig_layout(spark, sf_dir)
    out["md_sig_build"] = lambda: entrymod._media_sig_layout(spark, sf_dir)
    out["bm25_build"] = lambda: entrymod._bm25_layout(spark, sf_dir)
    out["lsh_hist_build"] = lambda: entrymod._lsh_hist_layout(spark, sf_dir)
    out["dsir_fit_build"] = lambda: entrymod._dsir_layout(spark, sf_dir)
    out["text_lsh_build"] = lambda: entrymod._text_lsh_layout(spark, sf_dir)
    out["text_mlsh_build"] = lambda: entrymod._text_mlsh_layout(spark, sf_dir)
    # FIXED alphabetical order, deliberately decoupled from queries()'
    # dict order: the contract dict rotates every round (driver
    # validation window), and per-line wall times in one long-lived
    # JVM are position-sensitive (a line running after 40 heavy rows
    # reads up to ~3x its isolated cost — measured r15). Sorting by
    # name pins every line's suite position across rounds, so the
    # driver's round-over-round per-line comparison stops seeing
    # rotation-induced position noise.
    contract = entrymod.queries()
    for name in sorted(contract):
        out[name] = (lambda f=contract[name]: f(spark, sf_dir).toPandas())

    def knn_batch_100():
        base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = base.filter(F.col("vec_id") < 100).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return knn_batch(
            base, queries, 10, metric="cosine", id_col="vec_id", round_to=6
        ).toPandas()

    def lsh_build():
        from kowari_spark.operators.lsh import SignLSH

        base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        # p sized to the data: 256 buckets at sf0.1 (p=16's 65k buckets
        # is a 100 TB layout, not a 5k-vector one)
        SignLSH(dim=64, num_planes=8, seed=42).build(
            base, f"{scratch}/lsh_build", vec_col="embedding"
        )

    def cp_build_40():
        # cold cross-polytope layout build at the T=40 recommended
        # config: the storage-x-T partitionBy(__tbl, bucket) write whose
        # cost precedes every probe-side win the quality block records
        from kowari_spark.operators.cplsh import CrossPolytopeLSH

        base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        CrossPolytopeLSH(dim=64, num_tables=40, seed=100).build(
            base, f"{scratch}/cp_build", vec_col="embedding"
        )

    def hnsw_build_full():
        # full-table graph build (GEMM bucket scoring; the contract
        # hnsw_build line stays on the 200-vector instance, so this
        # line is what tracks the larger build's cost)
        from kowari_spark.operators.hnsw import HNSW

        base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        h = HNSW(m=8, ef=32, seed=42, num_planes=5, num_tables=4)
        h.build(base, id_col="vec_id").count()

    def ingest_validated_10k():
        from kowari_spark.catalog import CollectionManager

        n = 10_000
        vecs = (
            spark.range(n)
            .select(
                F.col("id").cast("string").alias("id"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(64)),
                    lambda i: F.rand(42) * 2 - 1,
                ).cast("array<float>").alias("embedding"),
                F.to_json(F.struct(F.col("id").alias("k"))).alias("metadata"),
            )
        )
        mgr = CollectionManager(spark, f"{scratch}/wh")
        coll = mgr.create_collection(f"bench_{time.monotonic_ns()}", dimension=64,
                                     mode="strict")
        coll.add_df(vecs)

    out["exact_knn_batch_100"] = knn_batch_100
    out["lsh_build_p8"] = lsh_build
    out["cp_build_40"] = cp_build_40
    out["hnsw_build_full"] = hnsw_build_full
    out["ingest_validated_10k"] = ingest_validated_10k
    return out


def quality_gates(spark, sf_dir) -> dict:
    """BASELINE.md: recall@10 of the approximate paths vs brute force,
    reported alongside any speedup."""
    from kowari_spark.operators.eval import mean_metric, recall_at_k
    from kowari_spark.operators.ivf import IVF

    from kowari_spark.operators.lsh import MultiSignLSH

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = base.count()
    queries = base.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_batch(base, queries, 10, id_col="vec_id", round_to=6)
    # product knn path: multi-table OR-construction tuned for recall>=0.8
    # on THIS data (neighbors at cos~0.35 are barely tighter than random,
    # so high recall costs a large candidate fraction — reported honestly
    # below; on clustered real-world embeddings the same machinery prunes
    # hard, see embedding_near_dups_lsh at threshold 0.9)
    mt = MultiSignLSH(dim=64, num_planes=4, num_tables=12, seed=42)
    mt_res = mt.query_batch(base, queries, 10, id_col="vec_id", round_to=6)
    out = {"recall_lsh_at_10": round(
        mean_metric(recall_at_k(exact, mt_res, 10, id_col="vec_id"), "recall"), 4
    )}
    qb = queries.select("query_id", F.posexplode(mt.bucket_col("embedding")).alias("__tbl", "bucket"))
    bk = base.select(F.col("vec_id").alias("id"), F.posexplode(mt.bucket_col("embedding")).alias("__tbl", "bucket"))
    out["lsh_multi_cand_frac"] = round(
        bk.join(qb, ["__tbl", "bucket"]).select("query_id", "id").distinct().count()
        / (queries.count() * n), 4
    )
    # reference-faithful single-bucket probe (what lsh_knn_top10 pins)
    lsh = entrymod._LSH.query_batch(base, queries, 10, id_col="vec_id", round_to=6)
    out["recall_lsh_single_bucket"] = round(
        mean_metric(recall_at_k(exact, lsh, 10, id_col="vec_id"), "recall"), 4
    )
    # cross-polytope LSH — the round-4 recall/cost winner (BASELINE.md
    # sweep): T=40 @ 1 probe is the swept default that hits the >=0.85
    # recall @ <=0.25 candidate-fraction target on this data; the second
    # point shows the probes knob trading candidates for recall
    from kowari_spark.operators.cplsh import CrossPolytopeLSH

    cp = CrossPolytopeLSH(dim=64, num_tables=40, seed=100)
    cp_res = cp.query_batch(base, queries, 10, id_col="vec_id", round_to=6)
    out["recall_cp_at_10"] = round(
        mean_metric(recall_at_k(exact, cp_res, 10, id_col="vec_id"), "recall"), 4
    )
    cq = queries.select(
        "query_id", F.posexplode(cp.buckets_udf(spark)(F.col("embedding"))).alias("__tbl", "bucket")
    )
    cb = base.select(
        F.col("vec_id").alias("id"),
        F.posexplode(cp.buckets_udf(spark)(F.col("embedding"))).alias("__tbl", "bucket"),
    )
    out["cp_cand_frac"] = round(
        cb.join(F.broadcast(cq), ["__tbl", "bucket"]).select("query_id", "id").distinct().count()
        / (queries.count() * n), 4
    )
    cp16 = CrossPolytopeLSH(dim=64, num_tables=16, seed=100)
    cp16_res = cp16.query_batch(
        base, queries, 10, id_col="vec_id", round_to=6, probes=3
    )
    out["recall_cp16_p3_at_10"] = round(
        mean_metric(recall_at_k(exact, cp16_res, 10, id_col="vec_id"), "recall"), 4
    )
    # IVF tuned default (round-5): farthest-first seeding, 32 cells,
    # 5 Lloyd rounds, probe 8/32 = 0.25 of the space — the measured
    # config clearing recall >= 0.7 at the CP-LSH candidate budget.
    # The full recall-vs-n_probe curve is published alongside so the
    # probe knob's cost/recall trade is recorded, not implied.
    ivf = IVF(n_lists=32, n_probe=8, max_iter=5, seed=42).fit(base, id_col="vec_id")
    lists = ivf.with_lists(base).persist()
    curve = {}
    for p in (4, 6, 8, 10):
        ivf.n_probe = p
        got = ivf.query_batch(lists, queries, 10, id_col="vec_id", round_to=6)
        curve[f"{p}/32"] = round(
            mean_metric(recall_at_k(exact, got, 10, id_col="vec_id"), "recall"), 4
        )
    out["recall_ivf_at_10"] = curve["8/32"]
    out["ivf_probe_frac"] = round(8 / 32, 4)
    out["ivf_recall_curve"] = curve
    # legacy 16-cell/3-probe point (rounds 2-4 comparison series)
    ivf16 = IVF(n_lists=16, n_probe=3, max_iter=3, seed=42).fit(base, id_col="vec_id")
    lists16 = ivf16.with_lists(base).persist()
    approx16 = ivf16.query_batch(lists16, queries, 10, id_col="vec_id", round_to=6)
    out["recall_ivf16_p3_at_10"] = round(
        mean_metric(recall_at_k(exact, approx16, 10, id_col="vec_id"), "recall"), 4
    )
    lists16.unpersist()
    lists.unpersist()
    # Collection-surface serving default (round 15, VERDICT r14 #3):
    # a bare coll.signature_layout() now builds the measured-good
    # MultiSignLSH(num_planes=4, num_tables=12, seed=42)
    # OR-construction (previously SignLSH(p=8) at ~0.40 recall) —
    # measured here through an actual stored layout (the exact facade
    # build/probe path), not an in-memory shortcut. The ×12 storage
    # trade is the documented cost of the recall.
    import shutil as _sh
    import tempfile as _tf

    _cd = _tf.mkdtemp(prefix="bench_coll_lsh_")
    try:
        _md = MultiSignLSH(dim=64, num_planes=4, num_tables=12, seed=42)
        _md.build(base, f"{_cd}/lsh", vec_col="embedding", id_col="vec_id")
        _sres = _md.query_batch(
            _md.load(spark, f"{_cd}/lsh"), queries, 10,
            id_col="vec_id", round_to=6,
        )
        out["recall_collection_default_at_10"] = round(
            mean_metric(
                recall_at_k(exact, _sres, 10, id_col="vec_id"), "recall"
            ), 4,
        )
    finally:
        _sh.rmtree(_cd, ignore_errors=True)
    # HNSW full-table graph (GEMM bucket scoring), so all
    # index families publish recall next to their cost lines
    from kowari_spark.operators.hnsw import HNSW

    h = HNSW(m=16, ef=48, seed=42, num_planes=4, num_tables=6)
    hb = base.withColumnRenamed("vec_id", "id")
    hedges = h.build(hb, id_col="id")
    hres = h.query_batch(
        hb, hedges, queries, 10, id_col="id", round_to=6
    ).withColumnRenamed("id", "vec_id")
    out["recall_hnsw_at_10"] = round(
        mean_metric(recall_at_k(exact, hres, 10, id_col="vec_id"), "recall"), 4
    )
    # PQ (fifth index family): the compressed-scan ADC ranking measured
    # against the metric it approximates (euclidean), next to the
    # serving path's shortlist+exact-rerank recall vs the cosine exact
    # baseline (PQIndex). Raw ADC on these near-random vectors
    # quantizes coarsely — reported honestly, the rerank line is the
    # number the serving shape delivers
    from kowari_spark.operators.ann import PQIndex
    from kowari_spark.operators.pq import PQ

    pq = PQ(m=8, k_sub=16, max_iter=3, seed=42).fit(base, id_col="vec_id", dim=64)
    pcodes = pq.with_codes(base).select("vec_id", "codes").persist()
    exact_l2 = knn_batch(base, queries, 10, metric="euclidean",
                         id_col="vec_id", round_to=6)
    adc = pq.query_batch(pcodes, queries, 10, id_col="vec_id", round_to=6)
    out["recall_pq_adc_at_10"] = round(
        mean_metric(recall_at_k(exact_l2, adc, 10, id_col="vec_id"), "recall"), 4
    )
    prr = PQIndex(pq, rerank=8).search(
        base, queries, 10, metric="cosine", built=pcodes,
        id_col="vec_id", round_to=6,
    )
    out["recall_pq_rerank8_at_10"] = round(
        mean_metric(recall_at_k(exact, prr, 10, id_col="vec_id"), "recall"), 4
    )
    pcodes.unpersist()
    # SemDeDup pair recall: cluster-local comparison misses cross-cell
    # pairs by design — publish the measured fraction of exact all-pairs
    # near-dups (cos >= 0.3) recovered within cells, next to the cell
    # count that bought the quadratic confinement
    from kowari_spark.operators.dedup import embedding_near_dups, semantic_dedup

    sivf = IVF(n_lists=16, n_probe=1, max_iter=3, seed=42, round_centroids=6)
    sd = semantic_dedup(base, threshold=0.3, id_col="vec_id", ivf=sivf)
    # recovered pairs: (loser, rep) edges transitively imply membership;
    # count exact pairs whose two ends landed in the same component
    comp = sd.select(F.col("vec_id").alias("id"), F.col("rep_id"))
    ex_pairs = embedding_near_dups(base, threshold=0.3, id_col="vec_id", round_to=6)
    la = comp.withColumnRenamed("id", "id_a").withColumnRenamed("rep_id", "ra")
    lb = comp.withColumnRenamed("id", "id_b").withColumnRenamed("rep_id", "rb")
    joined = ex_pairs.join(la, "id_a").join(lb, "id_b")
    # ONE pass over the quadratic exact-pairs join: count + same-component
    # tally together (a separate filtered count would run the O(n^2)
    # cosine join twice)
    agg = joined.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), 1).otherwise(0)).alias("same"),
    ).first()
    out["semdedup_pair_recall"] = round(
        (agg["same"] or 0) / max(agg["n"], 1), 4
    )
    out["semdedup_n_lists"] = 16
    # IVF×PQ recall curve vs flat PQ at equal rerank: the composed
    # probe reads ~n_probe/n_lists of the codes; flat PQ reads 100%.
    # Recall at each candidate fraction shows what the pruning costs
    # (flat PQIndex rerank=8 = the 16/16 end of the same curve).
    from kowari_spark.operators.ann import IVFPQIndex
    from kowari_spark.operators.ivfpq import IVFPQ

    cpq = PQ(m=8, k_sub=16, max_iter=3, seed=42).fit(
        base, id_col="vec_id", dim=64
    )
    civf = IVF(n_lists=16, n_probe=1, max_iter=3, seed=42,
               round_centroids=6)
    civf.fit(base, id_col="vec_id")
    comp = IVFPQIndex(IVFPQ(civf, cpq), rerank=8)
    curve = {}
    for np_ in (1, 2, 4, 16):
        civf.n_probe = np_  # probe width only; centroids unchanged
        res = comp.search(base, queries, 10, metric="cosine",
                          id_col="vec_id", round_to=6)
        curve[f"{np_}/16"] = round(
            mean_metric(recall_at_k(exact, res, 10, id_col="vec_id"),
                        "recall"), 4
        )
    out["ivfpq_recall_curve_rerank8"] = curve
    # convergence pin (VERDICT r7): probing ALL cells reads every code
    # row, so the pruned ADC must land exactly on flat-PQ rerank recall
    # — same codes, same rerank; divergence means the pruned ADC drifted
    if curve["16/16"] != out["recall_pq_rerank8_at_10"]:
        raise RuntimeError(
            f"ivfpq full-probe recall {curve['16/16']} != flat-PQ rerank "
            f"{out['recall_pq_rerank8_at_10']} — pruned ADC diverged"
        )
    # Filtered-ANN selectivity curve (round-7 ask #5): where= search vs
    # EXACT filtered knn at ~50/10/1% predicate selectivity. recall is
    # 1.0 whenever a query starves into the filtered brute force (the
    # fallback construction); the interesting numbers are the starved
    # fraction (how often the index shortlist ran dry post-filter —
    # each starved query costs O(n_filtered), the degenerate-to-scan
    # regime users should see coming) and the wall cost next to it.
    from kowari_spark.operators.ann import SignLSHIndex

    fidx = SignLSHIndex(entrymod._LSH)
    fbuilt = fidx.build_df(base, id_col="vec_id")
    n_q = queries.count()
    fsel = {}
    for tag, mod in (("50pct", 2), ("10pct", 10), ("1pct", 100)):
        pred = F.col("vec_id") % mod == 0
        sub = base.filter(pred)
        t0 = time.perf_counter()
        fres = fidx.search(
            base, queries, 10, metric="cosine", built=fbuilt,
            id_col="vec_id", round_to=6, where=pred,
        ).persist()
        fres.count()
        wall = time.perf_counter() - t0
        fexact = knn_batch(sub, queries, 10, id_col="vec_id", round_to=6)
        rec = mean_metric(
            recall_at_k(fexact, fres, 10, id_col="vec_id"), "recall"
        )
        # starved fraction from the PUBLIC candidates() relation — the
        # same post-filter >= k accounting search() applies internally
        csz = (
            fidx.candidates(fbuilt, base, queries, 10, id_col="vec_id")
            .join(sub.select("vec_id"), "vec_id")
            .groupBy("query_id").count()
        )
        n_ok = csz.filter(F.col("count") >= 10).count()
        fsel[tag] = {
            "recall_vs_exact_filtered": round(rec, 4),
            "starved_frac": round(1.0 - n_ok / n_q, 4),
            "sec": round(wall, 2),
        }
        fres.unpersist()
    # wider probe at 50% selectivity: multi-probing widens the
    # candidate set, so fewer queries starve into the filtered
    # brute force — the knob the guidance note points at
    fidx4 = SignLSHIndex(entrymod._LSH, probes=4)
    pred = F.col("vec_id") % 2 == 0
    sub = base.filter(pred)
    csz4 = (
        fidx4.candidates(fbuilt, base, queries, 10, id_col="vec_id")
        .join(sub.select("vec_id"), "vec_id")
        .groupBy("query_id").count()
    )
    n_ok4 = csz4.filter(F.col("count") >= 10).count()
    fsel["50pct_probes4"] = {
        "starved_frac": round(1.0 - n_ok4 / n_q, 4),
    }
    out["filtered_ann_selectivity"] = fsel
    # star-verified component-split rate (round-8 ask #8): the
    # documented verified-star trade, quantified on the real corpus —
    # the fraction of verified-PAIRS dup components whose members land
    # in MORE THAN ONE star-mode component, and the extra survivors
    # those splits leave behind (each split component keeps one more
    # representative than the pairs pipeline would)
    from kowari_spark.operators.dedup import dedup_clusters, minhash_dedup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ccp = dedup_clusters(
        minhash_dedup_pairs(docs, threshold=0.5, edges="pairs")
    ).withColumnRenamed("cluster_id", "cp")
    ccs = dedup_clusters(
        minhash_dedup_pairs(docs, threshold=0.5, edges="star")
    ).withColumnRenamed("cluster_id", "cs")
    # a doc verified in pairs mode can be absent from the star edge set
    # entirely (all its member↔min edges failed verification) — that is
    # a split too: coalesce to a singleton star component
    percomp = (
        ccp.join(ccs, "id", "left")
        .groupBy("cp")
        .agg(F.countDistinct(F.coalesce(F.col("cs"), F.col("id"))).alias("ns"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0)).alias("split"),
            F.sum(F.col("ns") - 1).alias("extra"),
        )
        .first()
    )
    out["star_verified_split_frac"] = round(
        (percomp["split"] or 0) / max(percomp["n"], 1), 4
    )
    out["star_verified_extra_survivors"] = int(percomp["extra"] or 0)
    out.update(_clustered_quality(spark))
    return out


def _clustered_quality(spark) -> dict:
    """PQ / SemDeDup quality on a CLUSTERED fixture — the number the
    near-random testdata can't show. The corpus embeddings are ~uniform
    on the sphere (BASELINE.md's honesty caveat: pq_adc 0.26, semdedup
    pair recall 0.21 are floor values for that geometry); real corpora
    are clustered, and the jittered-family scale runs argued recall
    rises sharply there. This measures it instead of arguing: a seeded
    mixture of 20 tight gaussians around unit-norm centers (sigma=0.05,
    within-cluster cosine ~0.99) — deterministic, self-contained,
    regenerated per run."""
    import numpy as np
    from pyspark.sql import functions as F

    from kowari_spark.operators.ann import PQIndex
    from kowari_spark.operators.dedup import embedding_near_dups, semantic_dedup
    from kowari_spark.operators.eval import mean_metric, recall_at_k
    from kowari_spark.operators.ivf import IVF
    from kowari_spark.operators.pq import PQ

    rng = np.random.default_rng(42)
    k_clusters, per, dim = 20, 50, 64
    centers = rng.standard_normal((k_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, per, axis=0) + 0.05 * rng.standard_normal(
        (k_clusters * per, dim)
    )
    from kowari_spark.fsutil import local_df

    base = local_df(
        spark,
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<double>",
    ).cache()
    queries = base.filter(F.col("vec_id") % 125 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = {}

    exact = knn_batch(base, queries, 10, metric="cosine",
                      id_col="vec_id", round_to=6)
    exact_l2 = knn_batch(base, queries, 10, metric="euclidean",
                         id_col="vec_id", round_to=6)
    pq = PQ(m=8, k_sub=16, max_iter=3, seed=42).fit(
        base, id_col="vec_id", dim=dim
    )
    pcodes = pq.with_codes(base).select("vec_id", "codes").persist()
    adc = pq.query_batch(pcodes, queries, 10, id_col="vec_id", round_to=6)
    out["recall_pq_adc_clustered_at_10"] = round(
        mean_metric(recall_at_k(exact_l2, adc, 10, id_col="vec_id"), "recall"), 4
    )
    prr = PQIndex(pq, rerank=8).search(
        base, queries, 10, metric="cosine", built=pcodes,
        id_col="vec_id", round_to=6,
    )
    out["recall_pq_rerank8_clustered_at_10"] = round(
        mean_metric(recall_at_k(exact, prr, 10, id_col="vec_id"), "recall"), 4
    )
    pcodes.unpersist()

    # SemDeDup pair recall at a threshold that selects same-cluster
    # pairs (within-cluster cos ~0.99, cross-cluster ~center overlap)
    sivf = IVF(n_lists=16, n_probe=1, max_iter=3, seed=42, round_centroids=6)
    sd = semantic_dedup(base, threshold=0.9, id_col="vec_id", ivf=sivf)
    comp = sd.select(F.col("vec_id").alias("id"), F.col("rep_id"))
    ex_pairs = embedding_near_dups(base, threshold=0.9, id_col="vec_id",
                                   round_to=6)
    la = comp.withColumnRenamed("id", "id_a").withColumnRenamed("rep_id", "ra")
    lb = comp.withColumnRenamed("id", "id_b").withColumnRenamed("rep_id", "rb")
    agg = ex_pairs.join(la, "id_a").join(lb, "id_b").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), 1).otherwise(0)).alias("same"),
    ).first()
    out["semdedup_pair_recall_clustered"] = round(
        (agg["same"] or 0) / max(agg["n"], 1), 4
    )
    base.unpersist()
    return out


def _clear_index_caches() -> None:
    """Remove every prebuilt layout the contract queries cached in this
    process so every ``*_build`` line times a COLD build every run
    (round 3's numbers silently measured cache loads); the contract
    queries that follow still exercise the build-once/probe-many split
    against the indexes built this run. All of them live in the entry's
    one per-process cache directory (``_cache_dir``), so clearing it
    covers every present and future cache family by construction.

    Set KOWARI_BENCH_WARM=1 to keep caches (for probe-only profiling)."""
    if os.environ.get("KOWARI_BENCH_WARM", "").strip() in ("1", "true"):
        return
    root = entrymod._cache_dir()
    for name in os.listdir(root):
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def _cache_state() -> dict:
    """Page-cache telemetry at suite start (MemFree/Cached/Buffers MB
    from /proc/meminfo): round-over-round bench drift has repeatedly
    adjudicated to cold-cache parquet reads, not code (VERDICT r12's
    1.12x; r10's similar call) — recording the cache state makes that
    adjudication mechanical instead of forensic. Zero query-path cost;
    absent /proc (non-Linux) records nothing."""
    out = {}
    try:
        with open("/proc/meminfo") as fh:
            for ln in fh:
                k, _, rest = ln.partition(":")
                if k in ("MemFree", "Cached", "Buffers", "MemAvailable"):
                    out[k.lower() + "_mb"] = int(rest.split()[0]) // 1024
    except OSError:
        pass
    return out


# Every query line the round-15 driver capture carried on stdout. These
# stay INDIVIDUALLY visible in every future stdout line regardless of
# how fast they get — the driver's round-over-round comparison treats a
# key that disappears as a dropped line (adding keys is allowed,
# removing one reads as a regression). Lines outside this set are
# emitted individually while the 1900-char stdout budget holds
# (largest-first), and only the remainder folds into
# __small_queries_total.
_PINNED_STDOUT = frozenset({
    "ivf_build_16", "hnsw_build", "pq_build", "ivfpq_build",
    "cp_knn_top10", "doc_bm25_batch", "doc_bm25_resharded",
    "doc_bm25_top10", "doc_decontam", "doc_dedup_against",
    "doc_dedup_against_verified", "doc_dedup_keep", "doc_dedup_keep_star",
    "doc_despan", "doc_dsir_against", "doc_dsir_top", "doc_dsir_unlearned",
    "doc_dup_clusters", "doc_dup_spans", "doc_hybrid_batch",
    "doc_hybrid_batch_multi", "doc_hybrid_indexed", "doc_hybrid_rrf",
    "doc_incremental_keep", "doc_lang_quality", "doc_minhash_pairs",
    "doc_minhash_tuned", "doc_semantic_decontam", "doc_simhash_against",
    "doc_simhash_keep", "doc_simhash_near", "doc_simhash_star",
    "doc_surprisal", "doc_surprisal_buckets", "doc_text_knn",
    "doc_winnow_against", "doc_winnow_pairs", "doc_winnow_star",
    "embedding_dedup_against", "embedding_near_dups_lsh",
    "embedding_semantic_dedup", "events_sessions", "filtered_lsh_knn",
    "hnsw_knn", "ivf_knn", "lsh_precision_at_10", "lsh_recall_at_10",
    "media_dedup_keep", "media_pipeline", "price_quantiles",
    "pricing_summary", "revenue_by_nation", "revenue_rollup",
    "salted_supplier_revenue", "similarity_join", "cp_build_40",
    "hnsw_build_full", "ingest_validated_10k",
})

# The driver records only the LAST 2000 chars of stdout and parses the
# JSON line out of that window (BENCH_r06 overflowed it: parsed=null,
# 17 lines lost). 120 full query names are ~2830 chars even at 1
# decimal — they can never all fit — so the stdout line maximizes
# per-line visibility instead: quality/cache telemetry live ONLY in
# bench_full.json, timings are 1-decimal (0.1 s granularity is inside
# the documented environment noise; full precision is in the file), and
# lines are folded smallest-last only once the budget is exhausted.
_STDOUT_BUDGET = 1900


def _fit_stdout_line(payload: dict, timings: dict) -> str:
    """Largest possible stdout JSON line under ``_STDOUT_BUDGET``.

    Every ``_PINNED_STDOUT`` line is always individually present; the
    other lines are added largest-value-first while the rendered line
    still fits; whatever stays hidden is summed into
    ``__small_queries_total`` (full per-line detail is in
    bench_full.json either way)."""

    def render(shown: set) -> str:
        q = {k: round(v, 1) for k, v in timings.items() if k in shown}
        hidden = [v for k, v in timings.items() if k not in shown]
        if hidden or "__small_queries_total" not in q:
            q["__small_queries_total"] = round(sum(hidden), 1)
        payload["queries"] = q
        return json.dumps(payload, separators=(",", ":"))

    shown = {k for k in timings if k in _PINNED_STDOUT}
    line = render(shown)
    for k in sorted((k for k in timings if k not in shown),
                    key=lambda k: (-timings[k], k)):
        trial = render(shown | {k})
        if len(trial) <= _STDOUT_BUDGET:
            shown.add(k)
            line = trial
    return line


# Below this much page cache the box is in the ambient state that made
# BENCH_r10/r12/r13 drift adjudications forensic (r13 captured at
# 6.3 GB cached; isolated reruns of its movers landed uniformly ~2x
# their warm readings). The floor turns that call mechanical: the JSON
# self-declares warm/cold, so a round-over-round comparison across
# mismatched states starts from the artifact, not an investigation.
_WARM_FLOOR_MB = 12_000


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    cache0 = _cache_state()
    conditions = (
        "warm" if cache0.get("cached_mb", 0) >= _WARM_FLOOR_MB else "cold"
    )
    _clear_index_caches()
    spark = get_session(app="kowari_bench")

    # warm the JVM + parquet footers so timings measure the queries
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    scratch = tempfile.mkdtemp(prefix="kowari_bench_")
    auto_warmup = False
    try:
        warm_env = os.environ.get("SPARK_GRAFT_BENCH_WARMUP")
        # Round 15 (VERDICT r14 #7): the warm-up pass runs
        # AUTOMATICALLY when the ambient page cache is cold, not just
        # under the opt-in env var — two rounds of driver captures
        # moved 1.7-2x on untouched code purely from ambient cache
        # state, costing a forensic adjudication each time. One
        # untimed pass of the whole suite makes every capture
        # warm-by-construction (back-to-back rule) at the cost of
        # ~1.7x wall time on a cold box. SPARK_GRAFT_BENCH_WARMUP=0
        # opts out (timing the cold path on purpose); =1 forces the
        # pass even on a warm box (the historical opt-in).
        if warm_env == "1" or (warm_env != "0" and conditions == "cold"):
            auto_warmup = warm_env != "1"
            wscratch = tempfile.mkdtemp(prefix="kowari_bench_warm_")
            try:
                for fn in bench_queries(spark, sf_dir, wscratch).values():
                    fn()
            finally:
                shutil.rmtree(wscratch, ignore_errors=True)
            _clear_index_caches()
            conditions = "warm"
        timings = {}
        for name, fn in bench_queries(spark, sf_dir, scratch).items():
            t0 = time.perf_counter()
            fn()
            wall = time.perf_counter() - t0
            # median-of-3 for drift-prone small QUERY lines; builds and
            # ingest are one-shot (reruns would hit their caches)
            once = "build" in name or name == "ingest_validated_10k"
            if wall < 3.0 and not once:
                walls = [wall]
                for _ in range(2):
                    t0 = time.perf_counter()
                    fn()
                    walls.append(time.perf_counter() - t0)
                wall = sorted(walls)[1]
            timings[name] = round(wall, 3)
        quality = quality_gates(spark, sf_dir)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    payload = {
        "metric": "suite_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "quality": quality,
        "sf": sf,
        "cache_at_start": cache0,
        "bench_conditions": conditions,
        "auto_warmup": auto_warmup,
    }
    # Full-precision payload (every line, quality, cache telemetry) in a
    # file beside the repo; the stdout line is the driver-facing window.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_full.json"), "w"
        ) as fh:
            json.dump(payload, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass
    payload["quality"] = "see bench_full.json"
    payload["cache_at_start"] = "see bench_full.json"
    print(_fit_stdout_line(payload, timings))


if __name__ == "__main__":
    main()
