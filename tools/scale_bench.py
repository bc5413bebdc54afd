"""Scale-evidence bench: run the headline operators on 10x / 100x the
sf0.1 data and measure how wall-time grows vs data volume.

The contract queries in ``__spark_entry__`` pin some inputs (e.g. the
HNSW instance is a fixed 200-vector subset so its SQL oracle stays
exact), so this harness drives the OPERATORS directly over derived
tables whose size actually scales:

- embeddings x M: M jittered copies (deterministic per-element hash
  jitter keeps the distribution's shape — copies are near but not
  exact duplicates, so bucket occupancy scales ~linearly like real
  growth would);
- documents x M: M hash-shuffled copies (words re-ordered by a
  per-copy deterministic sort key, which rewrites essentially every
  shingle, so cross-copy Jaccard stays low and the near-dup pair
  count scales like independent data — a cyclic rotation would
  PRESERVE shingles and explode pair counts quadratically).

Derived data lands under ``.scale/x<M>`` (gitignored) and is reused
across runs. Output: one JSON line per (query, multiplier) plus a
summary table of time-ratio vs data-ratio — the measurement behind
BASELINE.md's scale-evidence section.

Usage: python tools/scale_bench.py [--mults 1,10,100] [--base sfdir]
       [--ops knn_batch_top5,cp_knn_top10,...]   (default: all)

Sizing: shuffle partitions scale with sqrt(mult) per suite (see
run_suite). local[32] shares ONE JVM heap across all 32 tasks, so big
multipliers also need a realistic heap for that one process —
``KOWARI_DRIVER_MEM=48g python tools/scale_bench.py --mults 1000`` (a
cluster gives each executor its own heap; the default 8g models a
*driver*, not 32 executors).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from kowari_spark import get_session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE_DIR = os.path.join(REPO, ".scale")


def derive(spark, base_dir: str, mult: int) -> str:
    """Materialize the x``mult`` derived tables (idempotent)."""
    out = os.path.join(SCALE_DIR, f"x{mult}")
    if os.path.exists(os.path.join(out, "embeddings.parquet", "_SUCCESS")) and (
        os.path.exists(os.path.join(out, "documents.parquet", "_SUCCESS"))
    ):
        return out

    emb = spark.read.parquet(f"{base_dir}/embeddings.parquet")
    docs = spark.read.parquet(f"{base_dir}/documents.parquet")
    n_emb = emb.count()
    n_doc = docs.count()

    copies = spark.range(mult).select(F.col("id").cast("int").alias("__copy"))

    # embeddings: deterministic per-(copy, vec, dim) jitter in
    # [-0.1, 0.1] — near the original, never identical (copy 0 exact)
    jittered = (
        emb.crossJoin(F.broadcast(copies))
        .select(
            (F.col("vec_id") + F.col("__copy").cast("long") * n_emb).alias("vec_id"),
            F.when(F.col("__copy") == 0, F.col("embedding"))
            .otherwise(
                F.transform(
                    "embedding",
                    lambda x, i: (
                        x
                        + (
                            F.pmod(
                                F.hash(F.col("vec_id"), F.col("__copy"), i),
                                F.lit(2001),
                            )
                            - 1000
                        )
                        / 10000.0
                    ).cast("float"),
                )
            )
            .alias("embedding"),
            F.col("label"),
        )
    )
    jittered.repartition(32).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )

    # documents: per-copy deterministic word SHUFFLE (sort by
    # hash(word, position, copy)) — a permutation rewrites essentially
    # every word shingle (a rotation would preserve them and make every
    # copy a near-dup of its original, exploding pair counts
    # quadratically), so cross-copy Jaccard stays low and the near-dup
    # pair count scales ~linearly like independent data would
    words = F.split(F.col("text"), " ")
    keyed = F.transform(
        words,
        lambda w, i: F.struct(
            F.hash(w, i, F.col("__copy")).alias("k"), w.alias("w")
        ),
    )
    shuffled = F.transform(F.array_sort(keyed), lambda s: s["w"])
    rdocs = (
        docs.crossJoin(F.broadcast(copies))
        .select(
            (F.col("doc_id") + F.col("__copy").cast("long") * n_doc).alias("doc_id"),
            F.when(F.col("__copy") == 0, F.col("text"))
            .otherwise(F.array_join(shuffled, " "))
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    rdocs.repartition(32).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    return out


def warm_up(spark) -> None:
    """One untimed JVM job and one Python-worker job on a tiny frame:
    without it the first timed line of a session also pays the JVM's
    and the Python workers' start-up, and a per-run x10/x100 ratio
    measures warm-up instead of growth."""
    tiny = spark.range(8)
    tiny.agg(F.sum("id")).collect()
    tiny.mapInPandas(lambda batches: batches, tiny.schema).collect()


def timed(fn) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = fn()
    return time.perf_counter() - t0, n


def run_suite(
    spark, sf_dir: str, mult: int, ops: set[str] | None = None
) -> dict[str, dict]:
    # size the shuffle to the multiplier (the standing rule: partitions
    # must fit the executor heap at the target SF). local[32] keeps 32
    # concurrent tasks inside ONE driver JVM, so at x1000 the default 32
    # shuffle partitions put ~16M-row hash aggregates in every task at
    # once — sqrt growth keeps per-task state roughly flat and AQE
    # coalesces the small ones back down.
    import math as _math

    parts = max(32, min(512, int(32 * _math.sqrt(mult))))
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        return _run_suite(spark, sf_dir, mult, ops)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _run_suite(
    spark, sf_dir: str, mult: int, ops: set[str] | None = None
) -> dict[str, dict]:
    from kowari_spark.operators.cplsh import CrossPolytopeLSH
    from kowari_spark.operators.dedup import dedup_clusters, minhash_dedup_pairs
    from kowari_spark.operators.hnsw import HNSW
    from kowari_spark.operators.ivf import IVF
    from kowari_spark.operators.lsh import MultiSignLSH
    from kowari_spark.operators.topk import knn_batch

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
    n = emb.count()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out: dict[str, dict] = {}

    def want(name):
        return ops is None or name in ops

    def rec(name, secs, rows):
        out[name] = {"sec": round(secs, 3), "rows": rows, "n": n}
        print(
            f"  x{mult:<4} {name:<22} {secs:7.2f}s rows={rows}",
            flush=True,
        )

    if want("knn_batch_top5"):
        s, r = timed(lambda: knn_batch(
            emb, queries, 5, id_col="vec_id", round_to=6).count())
        rec("knn_batch_top5", s, r)

    if want("cp_knn_top10"):
        cp = CrossPolytopeLSH(dim=64, num_tables=40, seed=100)
        s, r = timed(lambda: cp.query_batch(
            emb, queries, 10, id_col="vec_id", round_to=6, probes=4).count())
        rec("cp_knn_top10", s, r)

    if want("cp_build") or want("cp_knn_prebuilt"):
        # the 100 TB serving shape: build the partitionBy(__tbl, bucket)
        # layout once offline, then probes read only the probed
        # partitions (cp_knn_top10 above hashes the whole base per call)
        cpb = CrossPolytopeLSH(dim=64, num_tables=40, seed=100)
        layout = os.path.join(SCALE_DIR, f"x{mult}", "cp_layout")
        s, _ = timed(lambda: cpb.build(
            emb, layout, vec_col="embedding",
            max_records_per_file=1_000_000) or 0)
        if want("cp_build"):
            rec("cp_build", s, 0)
        if want("cp_knn_prebuilt"):
            loaded = cpb.load(spark, layout)
            s, r = timed(lambda: cpb.query_batch(
                loaded, queries, 10, id_col="vec_id", round_to=6,
                probes=4).count())
            rec("cp_knn_prebuilt", s, r)

    if want("pq_build") or want("pq_knn_prebuilt"):
        # PQ's 100 TB shape: fit + encode into the compressed (id,
        # codes) layout once offline, then the ADC probe scans codes
        # only — never the raw vectors
        from kowari_spark.operators.pq import PQ

        playout = os.path.join(SCALE_DIR, f"x{mult}", "pq_layout")
        have_layout = os.path.exists(os.path.join(playout, "_pq_meta.json"))
        # a probe-only run reuses an existing layout instead of paying an
        # untimed refit+re-encode per invocation
        if want("pq_build") or not have_layout:
            pqb = PQ(m=8, k_sub=16, max_iter=2, seed=42)
            s, _ = timed(lambda: (
                pqb.fit(emb, id_col="vec_id", dim=64),
                pqb.build(emb, playout, id_col="vec_id"),
            ) and 0)
            if want("pq_build"):
                rec("pq_build", s, 0)
        if want("pq_knn_prebuilt"):
            pqp = PQ()
            pcodes = pqp.load(spark, playout)
            s, r = timed(lambda: pqp.query_batch(
                pcodes, queries, 10, id_col="vec_id", round_to=6).count())
            rec("pq_knn_prebuilt", s, r)

    if want("ivfpq_build") or want("ivfpq_knn_prebuilt"):
        # composed serving structure: n_probe cell pruning over the
        # compressed codes — the probe should beat BOTH parents (flat-PQ
        # scans every code row; IVF re-reads full vectors in its cells)
        import math as _math

        from kowari_spark.operators.ivf import IVF as _IVF
        from kowari_spark.operators.ivfpq import IVFPQ
        from kowari_spark.operators.pq import PQ as _PQ

        # cells sized to ~4000 rows: pruning wins only when a probed
        # cell is a meaningful fraction of the data AND the per-cell
        # partition listing stays cheap; n_probe/n_lists ~6% candidate
        # fraction holds constant across decades
        nl = max(16, n // 4000)
        clayout = os.path.join(SCALE_DIR, f"x{mult}", "ivfpq_layout")
        have = os.path.exists(os.path.join(clayout, "_ivfpq_meta.json"))
        if want("ivfpq_build") or not have:
            comp = IVFPQ(
                _IVF(n_lists=nl, n_probe=max(2, nl // 16), max_iter=2,
                     seed=42, round_centroids=6,
                     seed_sample=max(512, 8 * nl)),
                _PQ(m=8, k_sub=16, max_iter=2, seed=42),
            )
            s, _ = timed(lambda: (
                comp.fit(emb, id_col="vec_id", dim=64),
                comp.build(emb, clayout, id_col="vec_id"),
            ) and 0)
            if want("ivfpq_build"):
                rec("ivfpq_build", s, 0)
        if want("ivfpq_knn_prebuilt"):
            cp2 = IVFPQ(_IVF(), _PQ())
            ccodes = cp2.load(spark, clayout)
            s, r = timed(lambda: cp2.query_batch(
                ccodes, queries, 10, id_col="vec_id", round_to=6).count())
            rec("ivfpq_knn_prebuilt", s, r)

    if want("ivfpq_build_auto") or want("ivfpq_knn_auto"):
        # the DEFAULT sizing path (round-8 ask #3): n_lists="auto"
        # resolves to sqrt(n) from the persist-warming count, bounding
        # the per-pass assignment at O(n^1.5·d) — the decade table under
        # this default must grow SUB-quadratically, unlike the
        # fixed-cell-size rule (n/4000) whose assignment is ~n²/4000
        from kowari_spark.operators.ivf import IVF as _IVF
        from kowari_spark.operators.ivfpq import IVFPQ
        from kowari_spark.operators.pq import PQ as _PQ

        alayout = os.path.join(SCALE_DIR, f"x{mult}", "ivfpq_auto_layout")
        compa = IVFPQ(
            _IVF(n_lists="auto", n_probe="auto", max_iter=2, seed=42,
                 round_centroids=6),
            _PQ(m=8, k_sub=16, max_iter=2, seed=42),
        )
        s, _ = timed(lambda: (
            compa.fit(emb, id_col="vec_id", dim=64),
            compa.build(emb, alayout, id_col="vec_id"),
        ) and 0)
        if want("ivfpq_build_auto"):
            rec("ivfpq_build_auto", s, compa.ivf.n_lists)
        if want("ivfpq_knn_auto"):
            s, r = timed(lambda: compa.query_batch(
                compa.load(spark, alayout), queries, 10, id_col="vec_id",
                round_to=6).count())
            rec("ivfpq_knn_auto", s, r)

    # bucket width sized to the corpus: ~2^p buckets of ~100 vectors
    import math

    p = max(4, int(math.log2(max(n / 100, 2))))
    if want("lsh_knn_top10"):
        # hashes with one GEMM per Arrow batch (operators/lsh.py kernel)
        ml = MultiSignLSH(dim=64, num_planes=p, num_tables=8, seed=42)
        s, r = timed(lambda: ml.query_batch(
            emb, queries, 10, id_col="vec_id", round_to=6).count())
        rec("lsh_knn_top10", s, r)

    if want("ivf_fit") or want("ivf_knn"):
        # a corpus of at most fsutil._DRIVER_MAX_ROWS rows (x1, x10) is
        # fitted in memory, x100 by the distributed Lloyd plan
        ivf = IVF(n_lists=16, n_probe=3, max_iter=3, seed=42)
        s, _ = timed(lambda: ivf.fit(emb, id_col="vec_id") and 0)
        if want("ivf_fit"):
            rec("ivf_fit", s, 0)
        if want("ivf_knn"):
            lists = ivf.with_lists(emb).persist()
            lists.count()
            s, r = timed(lambda: ivf.query_batch(
                lists, queries.limit(4), 10, id_col="vec_id", round_to=6).count())
            rec("ivf_knn", s, r)
            lists.unpersist()

    if want("pq_fit"):
        # the fit alone (pq_build adds the encode and write); in memory
        # at x1 and x10, distributed at x100, as ivf_fit
        from kowari_spark.operators.pq import PQ as _PQ

        pqf = _PQ(m=8, k_sub=16, max_iter=2, seed=42)
        s, _ = timed(lambda: pqf.fit(emb, id_col="vec_id", dim=64) and 0)
        rec("pq_fit", s, 0)

    if want("hnsw_build") or want("hnsw_knn"):
        h = HNSW(m=8, ef=32, seed=42, num_planes=p, num_tables=4)
        t0 = time.perf_counter()
        edges = h.build(emb, id_col="vec_id")
        if want("hnsw_build"):
            rec("hnsw_build", time.perf_counter() - t0, edges.count())
        if want("hnsw_knn"):
            s, r = timed(lambda: h.query_batch(
                emb, edges, queries, 10, id_col="vec_id", round_to=6).count())
            rec("hnsw_knn", s, r)

    if want("hnsw_insert_10pct"):
        # incremental-maintenance economics: build on 90% of the corpus,
        # insert the last 10% through the frozen graph (insert_edges) —
        # the wall to compare against hnsw_build's full rebuild, plus
        # the recall the grown graph delivers vs exact
        from kowari_spark.operators.eval import mean_metric, recall_at_k

        hi = HNSW(m=8, ef=32, seed=42, num_planes=p, num_tables=4)
        old = emb.filter(F.col("vec_id") % 10 != 0).persist()
        new = emb.filter(F.col("vec_id") % 10 == 0).persist()
        base_edges = hi.build(old, id_col="vec_id").localCheckpoint()
        s, r = timed(lambda: hi.insert_edges(
            old, base_edges, new, id_col="vec_id").count())
        rec("hnsw_insert_10pct", s, r)
        nb, ne = hi.insert(old, base_edges, new, id_col="vec_id")
        exact = knn_batch(emb, queries, 10, id_col="vec_id", round_to=6)
        grown = hi.query_batch(nb, ne, queries, 10, id_col="vec_id",
                               round_to=6)
        rec_at = mean_metric(
            recall_at_k(exact, grown, 10, id_col="vec_id"), "recall")
        line = f"         hnsw_insert_10pct recall@10 = {rec_at:.4f}"
        if want("hnsw_build") or want("hnsw_knn"):
            # same-config full rebuild as the honest comparison point
            rb = mean_metric(recall_at_k(
                exact,
                h.query_batch(emb, edges, queries, 10, id_col="vec_id",
                              round_to=6),
                10, id_col="vec_id"), "recall")
            line += f" (full rebuild = {rb:.4f})"
        print(line)
        old.unpersist(); new.unpersist()

    if want("doc_pack_chunks"):
        # sequence packing: one window cumsum per hash-assigned stream;
        # num_streams sized ~sqrt growth like the shuffle partitions so
        # per-stream sort state stays flat as the corpus grows
        from kowari_spark.operators.pack import pack_documents

        streams = max(32, int(32 * (mult ** 0.5)))
        # aggregate OVER the computed columns: a bare count() lets the
        # optimizer prune the window away and times only the scan
        s, r = timed(lambda: int(pack_documents(
            docs, budget=512, num_streams=streams
        ).agg(F.count("*").alias("n"), F.max("last_chunk"),
              F.sum("end_pos")).collect()[0]["n"]))
        rec("doc_pack_chunks", s, r)

    if want("doc_repetition"):
        from kowari_spark.operators.quality import repetition_stats

        s, r = timed(lambda: int(repetition_stats(docs).agg(
            F.count("*").alias("n"), F.sum("top2gram_frac"),
            F.sum("dup5gram_frac")).collect()[0]["n"]))
        rec("doc_repetition", s, r)

    if want("doc_decontam"):
        # eval/benchmark sets do NOT grow with the corpus: fixed
        # 500-doc eval slice at every multiplier, so this measures the
        # corpus-side gram scaling
        from kowari_spark.operators.decontam import ngram_decontaminate

        eval_df = docs.filter(F.col("doc_id") < 500)
        s, r = timed(lambda: int(ngram_decontaminate(
            docs, eval_df, n=13
        ).agg(F.count("*").alias("n"), F.sum("contam_grams"),
              F.sum("total_grams")).collect()[0]["n"]))
        rec("doc_decontam", s, r)

    if want("doc_bm25"):
        from kowari_spark.operators.search import bm25_search

        s, r = timed(lambda: len(bm25_search(
            docs, "vector hash join batch", k=10).collect()))
        rec("doc_bm25", s, r)

    if want("bm25_build") or want("bm25_indexed"):
        # keyword-search serving economics: tokenize the corpus ONCE
        # into the term-bucketed postings layout, then probe from
        # stored postings — bit-identical scores to doc_bm25's
        # full-corpus scan above, but the probe reads only the query
        # terms' hash buckets and never re-tokenizes text.
        from kowari_spark.operators.search import (
            bm25_search_indexed,
            build_bm25_layout,
        )

        n_doc = docs.count()
        bpath = os.path.join(SCALE_DIR, f"x{mult}", "bm25_postings")
        built = os.path.exists(os.path.join(bpath, "_bm25_meta.json"))
        if want("bm25_build") or not built:
            s, r = timed(lambda: (build_bm25_layout(docs, bpath),
                                  n_doc)[1])
            if want("bm25_build"):
                rec("bm25_build", s, r)
        if want("bm25_indexed"):
            s, r = timed(lambda: len(bm25_search_indexed(
                spark, bpath, "vector hash join batch", k=10).collect()))
            rec("bm25_indexed", s, r)

    if want("bm25_auto"):
        # buckets="auto" A/B (VERDICT r12 #4): the same corpus probed
        # through the historical fixed-64 layout and the corpus-sized
        # one. Auto targets ~fixed postings rows PER bucket, so the
        # probe — which reads at most |query terms| buckets — should
        # stay FLAT with mult where the b64 line grows scan-bound
        # (bucket bytes grow linearly once the corpus outruns 64
        # buckets: x100 resolves to 109, x1000 to 1083).
        from kowari_spark.operators.search import (
            bm25_search_indexed,
            build_bm25_layout,
            load_bm25_layout,
        )

        n_doc4 = docs.count()
        b64 = os.path.join(SCALE_DIR, f"x{mult}", "bm25_postings")
        if not os.path.exists(os.path.join(b64, "_bm25_meta.json")):
            build_bm25_layout(docs, b64, buckets=64)
        apath = os.path.join(SCALE_DIR, f"x{mult}", "bm25_postings_auto")
        if not os.path.exists(os.path.join(apath, "_bm25_meta.json")):
            s, _r = timed(lambda: (build_bm25_layout(docs, apath), 1)[1])
            rec("bm25_auto_build", s, n_doc4)
        _, am = load_bm25_layout(spark, apath, _raw=True)
        print(f"  x{mult:<4} auto resolved buckets={am['buckets']}",
              flush=True)
        qtxt = "vector hash join batch"
        s, r = timed(lambda: len(bm25_search_indexed(
            spark, b64, qtxt, k=10).collect()))
        rec("bm25_indexed_b64", s, r)
        s, r = timed(lambda: len(bm25_search_indexed(
            spark, apath, qtxt, k=10).collect()))
        rec("bm25_indexed_auto", s, r)

    if want("bm25_sharded"):
        # VERDICT r13 #5: the >bucket-cap regime, reached locally by
        # EMULATING the cap at 400 (the real 16,384-bucket cap needs
        # ~4.1B tokens; the mechanism is cap-relative, so the geometry
        # and the measurement transfer). single_capped = what a capped
        # auto produces (per-bucket bytes grow past the cap); sharded =
        # S children, each back at the flat ~250k-rows-per-bucket
        # target. Scores are parity-checked against the capped single
        # layout every run.
        from kowari_spark.functions.text import token_count
        from kowari_spark.operators.search import (
            _BM25_AUTO_TARGET_ROWS,
            _read_sharded_meta,
            bm25_search_indexed,
            build_bm25_layout,
            build_bm25_sharded,
        )

        EMU_CAP = 400
        sum_dl = int(docs.agg(
            F.sum(token_count(F.col("text")))).first()[0] or 0)
        needed = sum_dl // _BM25_AUTO_TARGET_ROWS + 1
        S = max(1, (needed + EMU_CAP - 1) // EMU_CAP)
        capped = min(needed, EMU_CAP)
        cpath = os.path.join(SCALE_DIR, f"x{mult}", "bm25_capped")
        if not os.path.exists(os.path.join(cpath, "_bm25_meta.json")):
            s0, _ = timed(lambda: (
                build_bm25_layout(docs, cpath, buckets=capped), 1)[1])
            rec("bm25_capped_build", s0, docs.count())
        spath = os.path.join(SCALE_DIR, f"x{mult}", "bm25_sharded")
        if not os.path.exists(
            os.path.join(spath, "_bm25_sharded_meta.json")
        ):
            s0, _ = timed(lambda: (
                build_bm25_sharded(docs, spath, shards=S), 1)[1])
            rec("bm25_sharded_build", s0, docs.count())
        sm = _read_sharded_meta(spark, spath)
        print(f"  x{mult:<4} emu_cap={EMU_CAP} needed={needed} "
              f"capped_buckets={capped} shards={sm['shards']} "
              f"per_shard_buckets={sm['buckets']}", flush=True)
        qtxt = "vector hash join batch"
        sC, rC = timed(lambda: len(bm25_search_indexed(
            spark, cpath, qtxt, k=10).collect()))
        rec("bm25_capped_probe", sC, rC)
        sS, rS = timed(lambda: len(bm25_search_indexed(
            spark, spath, qtxt, k=10).collect()))
        rec("bm25_sharded_probe", sS, rS)
        a = [tuple(r) for r in bm25_search_indexed(
            spark, cpath, qtxt, k=10).collect()]
        b = [tuple(r) for r in bm25_search_indexed(
            spark, spath, qtxt, k=10).collect()]
        assert a == b, "sharded probe diverged from the single layout"

    if want("bm25_tomb_curve"):
        # VERDICT r13 #6: probe wall vs PENDING tombstone-log size —
        # the shuffle fallback past _DELETE_BROADCAST_MAX is
        # functionally pinned (tests) but was never measured; this
        # curve gives the apply-at-cadence guidance its crossover
        # number. Logs are planted with the O(|batch|) text path,
        # probed, then cleared (the layout other ops read stays
        # pristine).
        from kowari_spark import fsutil
        from kowari_spark.operators.search import (
            bm25_search_indexed,
            build_bm25_layout,
            delete_from_bm25_layout,
        )
        from kowari_spark.streaming.ingest import _DELETE_BROADCAST_MAX

        tpath = os.path.join(SCALE_DIR, f"x{mult}", "bm25_postings_auto")
        if not os.path.exists(os.path.join(tpath, "_bm25_meta.json")):
            build_bm25_layout(docs, tpath)
        n_docs = docs.count()
        fsutil.delete(spark, f"{tpath}/_tombstones")
        qtxt = "vector hash join batch"
        s0, r0 = timed(lambda: len(bm25_search_indexed(
            spark, tpath, qtxt, k=10).collect()))
        rec("bm25_probe_log0", s0, r0)
        sizes = [z for z in (1_000, 100_000, 1_500_000)
                 if z < n_docs]  # delete-all refusal guard
        for z in sizes:
            delete_from_bm25_layout(
                spark, tpath,
                docs.filter(F.col("doc_id") < z).select("doc_id", "text"),
                mode="tombstone",
            )
            tag = f"{z // 1000}k"
            if z > _DELETE_BROADCAST_MAX:
                tag += "_shuffle"  # past the broadcast bound
            sz, rz = timed(lambda: len(bm25_search_indexed(
                spark, tpath, qtxt, k=10).collect()))
            rec(f"bm25_probe_log{tag}", sz, rz)
            fsutil.delete(spark, f"{tpath}/_tombstones")

    if want("sketch_layouts"):
        # round 14: stored-sketch economics — build is one corpus
        # scan, but append and estimate are STATE-scale (<= m or k
        # rows per group), so both should stay ~flat with mult while
        # build grows linearly. Parity vs the one-shot sketch is
        # asserted every run (same registers by construction).
        from kowari_spark.operators.sketch import (
            append_hll_layout,
            build_hll_layout,
            hll_distinct,
            hll_layout_estimate,
        )

        hpath = os.path.join(SCALE_DIR, f"x{mult}", "hll_lang")
        hist4 = docs.filter(F.col("doc_id") % 10 != 0)
        batch4 = docs.filter(F.col("doc_id") % 10 == 0)
        if not os.path.exists(os.path.join(hpath, "_hll_meta.json")):
            s0, _ = timed(lambda: (build_hll_layout(
                hist4, hpath, ["lang"], "text", p=6), 1)[1])
            rec("hll_layout_build", s0, docs.count())
            s0, _ = timed(lambda: (append_hll_layout(
                spark, hpath, batch4), 1)[1])
            rec("hll_layout_append", s0, batch4.count())
        s0, r0 = timed(lambda: len(
            hll_layout_estimate(spark, hpath).collect()))
        rec("hll_layout_estimate", s0, r0)
        got = sorted(map(tuple, hll_layout_estimate(spark, hpath).collect()))
        want_ = sorted(map(tuple, hll_distinct(
            docs, ["lang"], "text", p=6).collect()))
        assert got == want_, "stored-sketch estimate diverged from one-shot"

    if want("hybrid_serve"):
        # stored-state hybrid serving end to end (round 12, multi-table
        # capable): two keyword+vector queries share ONE pruned postings
        # scan and ONE (table, bucket) equi-join against the stored
        # MultiSignLSH layout of hashed embeddings — the wall should
        # track probed buckets (per-bucket history), never the corpus.
        # Contract geometry (p=6 per table): x1 starves the 20-deep
        # probe (fallback branch), bigger mults serve from partitions.
        from kowari_spark.functions.text import hashed_embeddings
        from kowari_spark.operators.lsh import _LSH_META_NAME, MultiSignLSH
        from kowari_spark.operators.search import (
            build_bm25_layout,
            hybrid_batch_indexed,
        )

        n_doc3 = docs.count()
        bpath = os.path.join(SCALE_DIR, f"x{mult}", "bm25_postings")
        if not os.path.exists(os.path.join(bpath, "_bm25_meta.json")):
            build_bm25_layout(docs, bpath)
        emb = hashed_embeddings(docs, "text", "doc_id", 32)
        mlsh = MultiSignLSH(dim=32, num_planes=6, num_tables=2, seed=11)
        mpath = os.path.join(SCALE_DIR, f"x{mult}", "text_mlsh")
        if not os.path.exists(os.path.join(mpath, _LSH_META_NAME)):
            s, _r = timed(lambda: (mlsh.build(
                emb, mpath, vec_col="embedding", id_col="doc_id"
            ), 1)[1])
            rec("hybrid_mlsh_build", s, n_doc3)
        qdocs = (("qa", 0), ("qb", 3))
        rows = {
            r["doc_id"]: r["embedding"]
            for r in emb.filter(
                F.col("doc_id").isin([d for _, d in qdocs])
            ).collect()
        }
        vec_df = spark.createDataFrame(
            [(qid, [float(x) for x in rows[d]]) for qid, d in qdocs],
            "query_id string, embedding array<double>",
        )
        texts = {"qa": "vector hash join batch", "qb": "filter scan"}
        s, r = timed(lambda: len(hybrid_batch_indexed(
            spark, bpath, mpath, texts, vec_df, k=10, fetch_k=20
        ).collect()))
        rec("hybrid_serve_batch2", s, r)

        # geometry sized to the corpus ("size num_planes to the data",
        # SignLSH.build): candidates per probe track per-bucket history
        # (n / 2^p), so planes must grow with the corpus to keep the
        # serve flat — p = 6 + 2·log10(mult) holds ~80 docs/bucket at
        # every mult here
        p_tuned = 6 + 2 * len(str(mult)) - 2
        if p_tuned != 6:
            mlsh_t = MultiSignLSH(
                dim=32, num_planes=p_tuned, num_tables=2, seed=11
            )
            tpath = os.path.join(
                SCALE_DIR, f"x{mult}", f"text_mlsh_p{p_tuned}"
            )
            if not os.path.exists(os.path.join(tpath, _LSH_META_NAME)):
                mlsh_t.build(
                    emb, tpath, vec_col="embedding", id_col="doc_id"
                )
            s, r = timed(lambda: len(hybrid_batch_indexed(
                spark, bpath, tpath, texts, vec_df, k=10, fetch_k=20
            ).collect()))
            rec(f"hybrid_serve_tuned_p{p_tuned}", s, r)

        # BOTH halves sized to the corpus (VERDICT r12 #7): tuned
        # planes for the vector half, auto buckets for the keyword
        # half (run the bm25_auto op first to materialize the layout)
        # — plus the same serve with maintenance pending (a 200-doc
        # tombstone log on the postings), proving probes stay
        # tens-of-seconds while deletes queue.
        apath = os.path.join(SCALE_DIR, f"x{mult}", "bm25_postings_auto")
        if os.path.exists(os.path.join(apath, "_bm25_meta.json")):
            vlay = tpath if p_tuned != 6 else mpath
            s, r = timed(lambda: len(hybrid_batch_indexed(
                spark, apath, vlay, texts, vec_df, k=10, fetch_k=20
            ).collect()))
            rec("hybrid_serve_auto", s, r)

            import shutil as _sh

            from kowari_spark.operators.search import (
                delete_from_bm25_layout,
            )

            work = os.path.join(
                SCALE_DIR, f"x{mult}", "bm25_auto_tombed"
            )
            _sh.rmtree(work, ignore_errors=True)
            _sh.copytree(apath, work)
            delete_from_bm25_layout(
                spark, work,
                docs.select("doc_id").orderBy("doc_id").limit(200),
                mode="tombstone",
            )
            s, r = timed(lambda: len(hybrid_batch_indexed(
                spark, work, vlay, texts, vec_df, k=10, fetch_k=20
            ).collect()))
            rec("hybrid_serve_auto_tombed", s, r)
            _sh.rmtree(work, ignore_errors=True)

    if want("bm25_delete"):
        # BM25 delete economics (VERDICT r12 #1): a document's terms
        # hash across ~every tb bucket, so the eager delete is a ~full
        # layout rewrite, O(corpus) — while the tombstone delete logs
        # 200 (id, dl) pairs, O(batch): flat at every mult. Probes
        # stay bit-exact throughout (probe-parity tests);
        # apply_bm25_deletes folds the physical rewrite into the
        # maintenance window via repair's sibling-dir swap.
        import shutil as _sh

        from kowari_spark.operators.search import (
            apply_bm25_deletes,
            bm25_search_indexed,
            build_bm25_layout,
            delete_from_bm25_layout,
        )

        src_lay = os.path.join(SCALE_DIR, f"x{mult}", "bm25_postings")
        if not os.path.exists(os.path.join(src_lay, "_bm25_meta.json")):
            build_bm25_layout(docs, src_lay, buckets=64)
        doomed = docs.select("doc_id").orderBy("doc_id").limit(200)
        qtxt = "vector hash join batch"
        work = os.path.join(SCALE_DIR, f"x{mult}", "bm25_del_work")

        _sh.rmtree(work, ignore_errors=True)
        _sh.copytree(src_lay, work)
        # text-carrying batch: the O(|batch|) flat path (dl computed
        # from the batch text, zero postings reads)
        doomed_txt = (
            docs.select("doc_id", "text").orderBy("doc_id").limit(200)
        )
        s, _r = timed(lambda: (delete_from_bm25_layout(
            spark, work, doomed_txt, mode="tombstone"), 200)[1])
        rec("bm25_tomb_delete_200", s, 200)
        # id-only batch: dl read from stored postings (bounded
        # broadcast semi-join over a column-pruned scan — grows with
        # corpus BYTES but never shuffles the corpus)
        _sh.rmtree(f"{work}/_tombstones", ignore_errors=True)
        s, _r = timed(lambda: (delete_from_bm25_layout(
            spark, work, doomed, mode="tombstone"), 200)[1])
        rec("bm25_tomb_delete_id_only", s, 200)
        s, r = timed(lambda: len(bm25_search_indexed(
            spark, work, qtxt, k=10).collect()))
        rec("bm25_indexed_tombed", s, r)
        s, _r = timed(lambda: (apply_bm25_deletes(spark, work), 200)[1])
        rec("bm25_apply_deletes", s, 200)

        _sh.rmtree(work, ignore_errors=True)
        _sh.copytree(src_lay, work)
        s, _r = timed(lambda: (delete_from_bm25_layout(
            spark, work, doomed), 200)[1])
        rec("bm25_eager_delete_200", s, 200)
        _sh.rmtree(work, ignore_errors=True)

    if want("doc_top_bigrams"):
        from kowari_spark.operators.quality import top_ngrams

        s, r = timed(lambda: len(top_ngrams(docs, n=2, k=20).collect()))
        rec("doc_top_bigrams", s, r)

    if want("doc_mixture_sample"):
        from kowari_spark.operators.sampling import mixture_sample

        s, r = timed(lambda: mixture_sample(
            docs, "lang", {"en": 0.5, "de": 0.2, "es": 0.15, "fr": 0.15},
            seed=7,
        ).count())
        rec("doc_mixture_sample", s, r)

    if want("embedding_near_dups_lsh"):
        # perfbench ann_serve's near-dup call (threshold 0.98, 8 planes,
        # 4 tables, dim 64). A corpus of at most fsutil._DRIVER_MAX_ROWS
        # rows runs in memory (x1, x10); x100 takes the distributed
        # plan. The jittered copies are near-duplicates of each other,
        # so pair counts grow with the copy families, as in
        # semantic_dedup below.
        from kowari_spark.operators.dedup import embedding_near_dups_lsh

        s, r = timed(lambda: embedding_near_dups_lsh(
            emb, 0.98, num_planes=8, num_tables=4, id_col="vec_id", dim=64,
        ).count())
        rec("embedding_near_dups_lsh", s, r)

    if want("semantic_dedup"):
        # SemDeDup at scale: cells must stay task-sized, so n_lists
        # grows with the corpus (sqrt growth like the partitions);
        # round_to=None skips the per-pair decimal
        # rounding only the SQL oracle needs. NOTE the derived
        # embeddings are M jittered copies of each original, so dup
        # FAMILIES grow with M (pair count is family-quadratic) — a
        # real corpus has small families; treat this line as a
        # worst-case, not linear-growth evidence.
        from kowari_spark.operators.dedup import semantic_dedup

        nl = max(16, int(16 * (mult ** 0.5)))
        sivf = IVF(n_lists=nl, n_probe=1, max_iter=2, seed=42)
        # pin pairs: this line tracks the r6-comparable all-pairs cell
        # cost (the library default is edges="auto" since r9)
        s, r = timed(lambda: semantic_dedup(
            emb, threshold=0.5, id_col="vec_id", ivf=sivf,
            round_to=None, edges="pairs",
        ).filter("NOT is_kept").count())
        rec("semantic_dedup", s, r)

    if want("semdedup_hot"):
        # VERDICT r8 missing #2 evidence: ONE planted dense cluster of
        # F near-identical embeddings quantizes into ONE cell — the
        # all-pairs cell step is F²/2 pair entries in a single task
        # (2.5e9 at 50k, an OOM); star edges score F-1 member↔min
        # cosines. pairs is only attempted at the small family sizes.
        from kowari_spark.operators.dedup import semantic_dedup

        base_vecs = emb.select("vec_id", "embedding")
        for fs in (1_000, 5_000, 50_000):
            fam = spark.range(fs).select(
                (F.col("id") + 10_000_000).alias("vec_id"),
                F.transform(
                    F.array_repeat(F.lit(1.0), 64),
                    lambda x, i: x + (
                        F.xxhash64(F.col("id"), i, F.lit("hotcell"))
                        % 1000
                    ).cast("double") / 1.0e6,
                ).alias("embedding"),
            )
            corpus = base_vecs.unionByName(fam).persist()
            corpus.count()
            nl = 16
            for mode in (("star",) if fs > 5_000 else ("star", "pairs")):
                hivf = IVF(n_lists=nl, n_probe=1, max_iter=2, seed=42)
                s, r = timed(lambda m=mode: semantic_dedup(
                    corpus, threshold=0.99, id_col="vec_id", ivf=hivf,
                    round_to=None, edges=m,
                ).filter("NOT is_kept").count())
                rec(f"semdedup_hot{fs}_{mode}", s, r)
            corpus.unpersist()

    if want("doc_despan"):
        # exact-substring span removal: the wide shuffle is the global
        # first-occurrence rank keyed on the gram hash
        from kowari_spark.operators.spans import remove_duplicate_spans

        s, r = timed(lambda: int(remove_duplicate_spans(
            docs, min_len=5
        ).agg(F.count("*").alias("n"), F.sum("removed_tokens"),
              F.sum("n_tokens")).collect()[0]["n"]))
        rec("doc_despan", s, r)

    if want("doc_dsir"):
        # DSIR importance selection: two explodes feed the bucket
        # histograms (<=10k rows out each), the log-ratio relation
        # broadcasts into the raw feature stream, and the only
        # stream-sized shuffle is the per-document fold — surprisal's
        # shape with a broadcast side-input
        from kowari_spark.operators.sampling import dsir_top

        s, r = timed(lambda: dsir_top(
            docs, docs.filter(F.col("lang") == "en"), 100).count())
        rec("doc_dsir", s, r)

    if want("doc_surprisal"):
        # unigram-model quality proxy: the wide shuffles are the vocab
        # count and the token⋈vocab join (both keyed on the token)
        from kowari_spark.operators.quality import unigram_surprisal

        s, r = timed(lambda: int(unigram_surprisal(docs).agg(
            F.count("*").alias("n"), F.sum("mean_logprob"),
            F.sum("n_tokens")).collect()[0]["n"]))
        rec("doc_surprisal", s, r)

    def minhash_pairs():
        # pin pairs: these lines track the r1-comparable pairs-mode cost
        # (the library default is edges="auto" since r9). Built inside
        # the timed call: a corpus inside the driver bounds is answered
        # in memory while the call runs, not when its rows are counted
        return minhash_dedup_pairs(docs, threshold=0.5, edges="pairs")

    if want("doc_minhash_pairs"):
        s, r = timed(lambda: minhash_pairs().count())
        rec("doc_minhash_pairs", s, r)
    if want("doc_dup_clusters"):
        s, r = timed(lambda: dedup_clusters(minhash_pairs()).count())
        rec("doc_dup_clusters", s, r)

    if want("sig_build") or want("dedup_against"):
        # incremental crawl-over-history dedup (dedup_index): build the
        # persisted signature layout over the FULL M× history once
        # (sig_build — the cost a recurring pipeline pays only when
        # history changes algorithm), then probe an x1-sized "new crawl
        # batch" against it (dedup_against_x1 — the recurring cost).
        # The point of the table: probe << build at every M, because
        # the probe fingerprints only the batch and scans (never
        # shuffles, never re-hashes) the stored band relation.
        from kowari_spark.operators.dedup_index import (
            build_minhash_layout,
            dedup_against,
        )

        n_doc = docs.count()
        sig_path = os.path.join(SCALE_DIR, f"x{mult}", "minhash_sig")
        built = os.path.exists(os.path.join(sig_path, "_minhash_meta.json"))
        if want("sig_build") or not built:
            s, r = timed(lambda: (build_minhash_layout(docs, sig_path),
                                  n_doc)[1])
            if want("sig_build"):
                rec("sig_build", s, r)
        if want("dedup_against"):
            n_base = max(1, n_doc // mult)
            batch = docs.filter(F.col("doc_id") < n_base).select(
                (F.col("doc_id") + F.lit(10**12)).alias("doc_id"), "text"
            )
            s, r = timed(lambda: dedup_against(
                spark, sig_path, batch, mode="reps").count())
            rec("dedup_against_x1", s, r)

    if want("sh_sig_build") or want("sh_against"):
        # the r10 ask (VERDICT r9 #1 + #4): decade evidence that the
        # BOUNDED simhash probe (mode="reps", per-block min-id rep,
        # Hamming-verified from stored state) stays flat as history
        # grows — the pairs probe's join output is linear in history
        # (|batch|·|hist|/2^block_bits), which is exactly why reps is
        # now the default.
        from kowari_spark.operators.dedup_index import (
            build_simhash_layout,
            simhash_dedup_against,
        )

        n_doc = docs.count()
        sh_path = os.path.join(SCALE_DIR, f"x{mult}", "simhash_sig")
        built = os.path.exists(os.path.join(sh_path, "_simhash_meta.json"))
        if want("sh_sig_build") or not built:
            s, r = timed(lambda: (build_simhash_layout(docs, sh_path),
                                  n_doc)[1])
            if want("sh_sig_build"):
                rec("sh_sig_build", s, r)
        if want("sh_against"):
            n_base = max(1, n_doc // mult)
            batch = docs.filter(F.col("doc_id") < n_base).select(
                (F.col("doc_id") + F.lit(10**12)).alias("doc_id"), "text"
            )
            s, r = timed(lambda: simhash_dedup_against(
                spark, sh_path, batch, max_hamming=6, mode="reps").count())
            rec("sh_against_x1", s, r)

    if want("sig_delete"):
        # facade delete economics: drop a fixed 200-doc keep-list slice
        # from the Mx-history layout. Two deliberately-contrasting
        # families: minhash partitions by band (bands=4 — every doc in
        # every partition, so ANY delete is a full rewrite, O(layout));
        # simhash partitions by content block (256 — a 200-id set
        # touches ≤200 blocks, pruned rewrite). The table is the
        # guidance: deletes are batch-amortized maintenance (collect a
        # tombstone list, delete at compaction cadence), never per-doc.
        from kowari_spark.operators import dedup_index as dxi
        from kowari_spark.operators.dedup_index import SignatureLayout

        doomed = docs.select("doc_id").orderBy("doc_id").limit(200)
        for fam, sub, meta_name, build in (
            ("minhash", "minhash_sig", dxi._META_NAME,
             dxi.build_minhash_layout),
            ("simhash", "simhash_sig", dxi._SIMHASH_META_NAME,
             dxi.build_simhash_layout),
        ):
            p = os.path.join(SCALE_DIR, f"x{mult}", sub)
            if not os.path.exists(os.path.join(p, meta_name)):
                build(docs, p)
            lay = SignatureLayout.open(spark, p)
            s, parts = timed(lambda: lay.delete(doomed))
            # rows = rewritten partition count ("*" full rewrite -> -1)
            rec(f"{fam[:2]}_delete_200", s,
                -1 if parts == ["*"] else len(parts))
            # restore (untimed): deterministic re-fingerprint of the
            # deleted docs — later ops see identical layout rows
            lay.append(docs.join(doomed, "doc_id", "left_semi"))

    if want("sig_tombstone"):
        # tombstone-delete economics (VERDICT r11 missing #3): the same
        # 200-doc slice as sig_delete, but the minhash delete is an
        # O(|ids|) log append instead of the all-bands rewrite (which
        # grows with history — mh_delete_200 in the sig_delete table);
        # probes pay one broadcast anti-join while the log is pending,
        # and apply_deletes() folds the physical rewrite into the
        # compaction cadence.
        from kowari_spark.operators import dedup_index as dxi
        from kowari_spark.operators.dedup_index import SignatureLayout

        doomed = docs.select("doc_id").orderBy("doc_id").limit(200)
        p = os.path.join(SCALE_DIR, f"x{mult}", "minhash_sig")
        if not os.path.exists(os.path.join(p, dxi._META_NAME)):
            dxi.build_minhash_layout(docs, p)
        lay = SignatureLayout.open(spark, p)
        probe_batch = docs.filter(F.col("doc_id") < 2000)
        s, r = timed(lambda: lay.dedup_against(probe_batch).count())
        rec("mh_probe_clean", s, r)
        s, _n = timed(lambda: (lay.delete(doomed, mode="tombstone"), 200)[1])
        rec("mh_tombstone_200", s, 200)
        s, r = timed(lambda: lay.dedup_against(probe_batch).count())
        rec("mh_probe_tombstoned", s, r)
        s, parts = timed(lambda: lay.apply_deletes())
        rec("mh_apply_deletes", s, -1 if parts == ["*"] else len(parts))
        # restore (untimed): deterministic re-fingerprint, so later ops
        # see the identical layout
        lay.append(docs.join(doomed, "doc_id", "left_semi"))

    if want("dsir_append"):
        # additive DSIR maintenance (VERDICT r11 ask #1): roll a fixed
        # x1-sized batch into the STORED model — one batch pass + three
        # sidecar-scale (≤10k-row) rewrites, where a crawl loop without
        # the append verb pays dsir_fit's three full corpus passes at
        # the same mult per batch. Appended onto a COPY so the cached
        # fit layout other ops score against stays pristine.
        import shutil

        from kowari_spark.operators.sampling import (
            _DSIR_LAYOUT_VERSION,
            append_dsir_layout,
            build_dsir_layout,
        )

        n_doc2 = docs.count()
        dpath = os.path.join(SCALE_DIR, f"x{mult}", "dsir_fit")
        mp = os.path.join(dpath, "_dsir_meta.json")
        ok = False
        if os.path.exists(mp):
            with open(mp) as fh:
                ok = json.load(fh).get("version") == _DSIR_LAYOUT_VERSION
        if not ok:  # absent or a pre-append v1 cache: refit once
            build_dsir_layout(
                docs, docs.filter(F.col("lang") == "en"), dpath
            )
        work = os.path.join(SCALE_DIR, f"x{mult}", "dsir_append_work")
        shutil.rmtree(work, ignore_errors=True)
        shutil.copytree(dpath, work)
        n_base = max(1, n_doc2 // mult)
        batch = docs.filter(F.col("doc_id") < n_base)
        s, r = timed(
            lambda: (append_dsir_layout(spark, work, batch), n_base)[1]
        )
        rec("dsir_append_x1", s, r)
        # ...and the unlearn inverse: subtracting the batch just rolled
        # in must cost the same sidecar-scale roll (one batch pass +
        # three ≤10k-row rewrites), independent of the fit corpus
        from kowari_spark.operators.sampling import remove_from_dsir_layout

        s, r = timed(
            lambda: (remove_from_dsir_layout(spark, work, batch), n_base)[1]
        )
        rec("dsir_remove_x1", s, r)

    if want("semdecon"):
        # embedding-space decontamination: the eval set stays FIXED
        # (the benchmark doesn't grow with the corpus) while the corpus
        # multiplies — scoring should track the corpus
        # linearly (one GEMM per batch, no shuffle beyond the
        # embedding groupBy).
        from kowari_spark.operators.decontam import semantic_decontaminate

        # fixed x1-sized eval set (benchmarks don't grow with the crawl)
        ev = docs.filter(F.col("doc_id") % 17 == 0).select(
            "text").limit(300)
        s, r = timed(lambda: semantic_decontaminate(
            docs, ev, 0.98).filter("is_contaminated").count())
        rec("semdecon", s, r)

    if want("corpus_balance"):
        # the round-11 corpus-balancing ops: per-source frequency cap
        # (one shuffle, partial top-cap below the exchange) and the
        # CCNet surprisal split in its scale mode (approx percentile
        # boundaries — no per-stratum global sort). Both should track
        # the corpus linearly: nothing quadratic, no single-partition
        # stage.
        from kowari_spark.operators.quality import surprisal_buckets
        from kowari_spark.operators.sampling import source_cap

        s, r = timed(lambda: source_cap(
            docs, 15, order_by=F.desc(F.length("text"))).count())
        rec("source_cap_15", s, r)
        s, r = timed(lambda: surprisal_buckets(
            docs, strata_col="lang", mode="approx").count())
        rec("surprisal_split_approx", s, r)

    if want("wn_sig_build") or want("wn_against"):
        # decade evidence for the third text family (VERDICT r9 #4):
        # the winnow probe joins the batch's fingerprints against the
        # per-fp MIN history id (reps), O(batch fps) join output.
        from kowari_spark.operators.dedup_index import (
            build_winnow_layout,
            winnow_dedup_against,
        )

        n_doc = docs.count()
        wn_path = os.path.join(SCALE_DIR, f"x{mult}", "winnow_sig")
        built = os.path.exists(os.path.join(wn_path, "_winnow_meta.json"))
        if want("wn_sig_build") or not built:
            s, r = timed(lambda: (build_winnow_layout(docs, wn_path),
                                  n_doc)[1])
            if want("wn_sig_build"):
                rec("wn_sig_build", s, r)
        if want("wn_against"):
            n_base = max(1, n_doc // mult)
            batch = docs.filter(F.col("doc_id") < n_base).select(
                (F.col("doc_id") + F.lit(10**12)).alias("doc_id"), "text"
            )
            s, r = timed(lambda: winnow_dedup_against(
                spark, wn_path, batch, min_shared=2, mode="reps").count())
            rec("wn_against_x1", s, r)

    if want("incr_loop") or want("incr_loop_compact"):
        # steady-state incremental economics (VERDICT r9 #5): a real
        # crawl pipeline runs filter_new_against -> append forever, so
        # the question isn't one probe against a pristine layout — it's
        # whether probe cost creeps as appends accumulate small files,
        # and where compaction must kick in. 10 sequential batches
        # (deciles of the corpus); layout bootstrapped on decile 0.
        # incr_loop_compact runs compact_bucketed_layout every 3
        # appends; the per-batch probe walls + final file counts are
        # the BASELINE.md table.
        import shutil

        from kowari_spark.operators.dedup_index import (
            append_minhash_layout,
            build_minhash_layout,
            filter_new_against,
        )
        from kowari_spark.streaming.ingest import compact_bucketed_layout

        def count_files(p):
            total = 0
            for root, _dirs, files in os.walk(p):
                total += sum(
                    1 for f in files
                    if f.endswith(".parquet") and not f.startswith("_")
                )
            return total

        for opname, every in (("incr_loop", 0), ("incr_loop_compact", 3)):
            if not want(opname):
                continue
            path = os.path.join(SCALE_DIR, f"x{mult}", f"incr_{every}")
            shutil.rmtree(path, ignore_errors=True)
            build_minhash_layout(docs.filter(F.col("doc_id") % 10 == 0),
                                 path)
            walls = []
            for i in range(1, 10):
                batch = docs.filter(F.col("doc_id") % 10 == i)
                s, kept = timed(
                    lambda b=batch: filter_new_against(spark, path, b)
                    .count()
                )
                walls.append(round(s, 3))
                append_minhash_layout(spark, path, batch)
                if every and i % every == 0:
                    compact_bucketed_layout(spark, path,
                                             partition_col="band")
            rec(f"{opname}_probe_last", walls[-1], count_files(path))
            print(f"         {opname} per-batch probe walls: {walls}")

    if want("md_sig_build") or want("md_against"):
        # the fourth signature family at scale: mult*2000 synthetic
        # 32x24 images in history, a 200-image batch probed against the
        # stored banded dHash layout (decode only the batch; Hamming
        # verified from stored longs; reps bound). NOTE: the synthetic
        # KWM pattern repeats mod 256, so with >=256 history images the
        # batch keys (10^9..) all alias history — DELIBERATE worst case
        # for timing: every batch image collides and the probe pays
        # full bucket pruning + verification on each.
        from kowari_spark.operators.dedup_index import (
            build_media_layout,
            media_dedup_against,
        )
        from kowari_spark.operators.multimodal import synth_media

        n_media = 2000 * mult
        md_path = os.path.join(SCALE_DIR, f"x{mult}", "media_sig")
        built = os.path.exists(os.path.join(md_path, "_media_meta.json"))
        if want("md_sig_build") or not built:
            hist_m = synth_media(
                spark.range(n_media).select(F.col("id").alias("media_id")),
                kind="image", width=32, height=24,
            )
            s, r = timed(lambda: (build_media_layout(hist_m, md_path),
                                  n_media)[1])
            if want("md_sig_build"):
                rec("md_sig_build", s, r)
        if want("md_against"):
            batch_m = synth_media(
                spark.range(200).select(
                    (F.col("id") + 10**9).alias("media_id")
                ),
                kind="image", width=32, height=24,
            )
            s, r = timed(lambda: media_dedup_against(
                spark, md_path, batch_m, max_hamming=6, mode="reps"
            ).count())
            rec("md_against_x1", s, r)

    if want("emb_sig_build") or want("emb_against"):
        # incremental VECTOR dedup vs a stored SignLSH layout
        # (dedup_index.embedding_near_dups_against): build the
        # bucket-partitioned history layout once, then probe an
        # x1-sized batch — cosine verification reads STORED vectors,
        # the batch's bounded bucket list statically prunes history.
        from kowari_spark.operators.dedup_index import (
            embedding_near_dups_against,
        )
        from kowari_spark.operators.lsh import SignLSH

        n_emb = emb.count()
        lsh = SignLSH(dim=64, num_planes=8, seed=42)
        lpath = os.path.join(SCALE_DIR, f"x{mult}", "lsh_sig")
        built = os.path.exists(os.path.join(lpath, "_SUCCESS"))
        if want("emb_sig_build") or not built:
            s, r = timed(lambda: (
                lsh.build(emb.select("vec_id", "embedding"), lpath),
                n_emb)[1])
            if want("emb_sig_build"):
                rec("emb_sig_build", s, r)
        if want("emb_against"):
            n_base = max(1, n_emb // mult)
            batch = emb.filter(F.col("vec_id") < n_base).select(
                (F.col("vec_id") + 10**12).alias("vec_id"), "embedding"
            )
            s, r = timed(lambda: embedding_near_dups_against(
                spark, lsh, lpath, batch, threshold=0.5,
                id_col="vec_id", mode="reps",
            ).count())
            rec("emb_against_x1", s, r)

    if want("dsir_fit") or want("dsir_score"):
        # incremental DSIR economics (VERDICT r10 ask #3): the fit pays
        # the corpus passes ONCE (dsir_fit grows with mult); scoring a
        # fixed x1-sized batch against the STORED dense ratio relation
        # must stay FLAT in mult — the relation is 10k rows regardless
        # of what it was fit on, and scoring reads only the batch.
        from kowari_spark.operators.sampling import (
            build_dsir_layout,
            dsir_score_against,
        )

        n_doc2 = docs.count()
        dpath = os.path.join(SCALE_DIR, f"x{mult}", "dsir_fit")
        built = os.path.exists(os.path.join(dpath, "_dsir_meta.json"))
        if want("dsir_fit") or not built:
            s, r = timed(lambda: (build_dsir_layout(
                docs, docs.filter(F.col("lang") == "en"), dpath
            ), n_doc2)[1])
            if want("dsir_fit"):
                rec("dsir_fit", s, r)
        if want("dsir_score"):
            n_base = max(1, n_doc2 // mult)
            batch = docs.filter(F.col("doc_id") < n_base)
            s, r = timed(lambda: dsir_score_against(
                spark, dpath, batch
            ).count())
            rec("dsir_score_x1", s, r)

    if want("md_against_big"):
        # decode-free media history at ANY mult (VERDICT r10 ask #5:
        # the x1000 media line without 2M image decodes). synth_media
        # content is a pure function of media_id mod 256, so the
        # 2000*mult history fingerprints are the 256 decoded phashes
        # joined back by id % 256 — the resulting layout is
        # BIT-IDENTICAL to the decode path's (same phash per id, same
        # banding, same partitioning); only the redundant decodes are
        # skipped. The probe then runs the REAL path: decode the
        # 200-image batch, literal-IN prune, Hamming-verify reps.
        import json as _json

        from kowari_spark.fsutil import write_bytes
        from kowari_spark.operators.dedup_index import (
            _MEDIA_LAYOUT_VERSION,
            _MEDIA_META_NAME,
            _media_banded,
            media_dedup_against,
        )
        from kowari_spark.operators.multimodal import media_phash, synth_media

        n_media = 2000 * mult
        md_meta = {
            "version": _MEDIA_LAYOUT_VERSION, "hash_size": 8, "bands": 8,
            "codec": "kwm", "frame": 0, "id_col": "media_id",
            "media_col": "media",
        }
        mpath = os.path.join(SCALE_DIR, f"x{mult}", "media_sig_synth")
        if not os.path.exists(os.path.join(mpath, _MEDIA_META_NAME)):
            pat = media_phash(
                synth_media(
                    spark.range(256).select(F.col("id").alias("media_id")),
                    kind="image", width=32, height=24,
                ),
                media_col="media", id_col="media_id", codec="kwm",
                hash_size=8, frame=0,
            ).select(F.col("media_id").alias("__k"), "phash")
            ph = (
                spark.range(n_media)
                .select(
                    F.col("id").alias("media_id"),
                    (F.col("id") % 256).alias("__k"),
                )
                .join(F.broadcast(pat), "__k")
                .select("media_id", "phash")
            )
            s, r = timed(lambda: (
                _media_banded(md_meta, ph)
                .repartition(F.col("bv"))
                .write.mode("overwrite").partitionBy("bv").parquet(mpath),
                n_media,
            )[1])
            write_bytes(
                spark, f"{mpath}/{_MEDIA_META_NAME}",
                _json.dumps(md_meta).encode(),
            )
            rec("md_synth_build", s, r)
        batch_m = synth_media(
            spark.range(200).select((F.col("id") + 10**9).alias("media_id")),
            kind="image", width=32, height=24,
        )
        s, r = timed(lambda: media_dedup_against(
            spark, mpath, batch_m, max_hamming=6, mode="reps"
        ).count())
        rec("md_against_big_x1", s, r)

    if want("incr_loop_fam") or want("incr_loop_fam_compact"):
        # facade-driven steady-state loop for every family beyond
        # minhash (VERDICT r10 ask #6): 9 sequential filter_new ->
        # append batches through SignatureLayout.open — per-family
        # probe walls must stay flat as appended files accumulate (the
        # incr_loop question, generalized, and the facade's own scale
        # exercise). Media runs a fixed 2000-image corpus at every
        # mult: its batches pay real decode, and the loop's subject is
        # file-accumulation creep, which is mult-independent. The
        # _compact variant runs compact_bucketed_layout every 3
        # appends — the measured x1 answer: media creeps 2.3->5.0 s
        # plain (each append touches ~all 2048 bv partitions, so files
        # accumulate fastest there) and compaction flattens it; the
        # other families' partition fan-out per append is narrow
        # enough that 9 appends stay flat either way.
        import shutil

        from kowari_spark.operators.dedup_index import (
            SignatureLayout,
            build_media_layout,
            build_simhash_layout,
            build_winnow_layout,
        )
        from kowari_spark.operators.lsh import SignLSH
        from kowari_spark.operators.multimodal import synth_media
        from kowari_spark.streaming.ingest import compact_bucketed_layout

        media_all = synth_media(
            spark.range(2000).select(F.col("id").alias("media_id")),
            kind="image", width=32, height=24,
        )
        fams = (
            ("simhash", docs.select("doc_id", "text"), "doc_id",
             lambda d, p: build_simhash_layout(d, p),
             {"max_hamming": 6}, "block"),
            ("winnow", docs.select("doc_id", "text"), "doc_id",
             lambda d, p: build_winnow_layout(d, p),
             {"min_shared": 2}, "fpb"),
            ("media", media_all, "media_id",
             lambda d, p: build_media_layout(d, p),
             {"max_hamming": 6}, "bv"),
            ("embedding", emb.select("vec_id", "embedding"), "vec_id",
             lambda d, p: SignLSH(dim=64, num_planes=8, seed=42).build(
                 d, p, vec_col="embedding", id_col="vec_id"),
             {"threshold": 0.5}, "bucket"),
        )
        for opname, every in (("incr_loop_fam", 0),
                              ("incr_loop_fam_compact", 3)):
            if not want(opname):
                continue
            suffix = "_c" if every else ""
            for kind, src, idc, boot_build, kw, pcol in fams:
                fpath = os.path.join(
                    SCALE_DIR, f"x{mult}", f"incrfam_{kind}{suffix}"
                )
                shutil.rmtree(fpath, ignore_errors=True)
                boot_build(src.filter(F.col(idc) % 10 == 0), fpath)
                lay = SignatureLayout.open(spark, fpath)
                assert lay.kind == (
                    "embedding" if kind == "embedding" else kind
                )
                walls, kept = [], 0
                for i in range(1, 10):
                    batch = src.filter(F.col(idc) % 10 == i)
                    s, kept = timed(
                        lambda b=batch: lay.filter_new(b, **kw).count()
                    )
                    walls.append(round(s, 3))
                    lay.append(batch)
                    if every and i % every == 0:
                        lay.compact()  # facade maintenance verb
                rec(f"incrfam_{kind}{suffix}_last", walls[-1], kept)
                print(
                    f"         incrfam_{kind}{suffix} probe walls: {walls}"
                )

    if want("planted_family"):
        # VERDICT r8 #1 evidence: ONE planted duplicate family of F
        # members lands in ONE (band, band_key) bucket per band — the
        # all-pairs self-join materializes bands·F(F-1)/2 candidate
        # rows on single join keys (quadratic, skewed), star edges emit
        # F-1 (linear). pairs is only attempted at the small family
        # sizes; at 50k it would emit 5·10⁹ rows from four keys.
        from kowari_spark.operators.dedup import minhash_band_pairs

        fam_text = (
            "planted boilerplate family document sharing one long run "
            "of identical tokens across every member of the family"
        )
        base_docs = docs.select("doc_id", "text")
        for fs in (1_000, 5_000, 50_000):
            fam = spark.range(fs).select(
                (F.col("id") + 10_000_000).alias("doc_id"),
                F.lit(fam_text).alias("text"),
            )
            corpus = base_docs.unionByName(fam)
            s, r = timed(
                lambda: minhash_band_pairs(corpus, edges="star").count())
            rec(f"family{fs}_star", s, r)
            if fs <= 5_000:
                s, r = timed(lambda: minhash_band_pairs(
                    corpus, edges="pairs").count())
                rec(f"family{fs}_pairs", s, r)
        # end-to-end keep-list through the 50k family on star edges:
        # candidates -> Jaccard verify -> adaptive CC -> representatives
        corpus = base_docs.unionByName(
            spark.range(50_000).select(
                (F.col("id") + 10_000_000).alias("doc_id"),
                F.lit(fam_text).alias("text"),
            )
        )
        from kowari_spark.operators.dedup import dedup_keep_representatives

        s, r = timed(lambda: dedup_keep_representatives(
            corpus,
            minhash_dedup_pairs(corpus, threshold=0.5, edges="star"),
        ).count())
        rec("family50000_star_keep", s, r)

    if want("collection_delete"):
        # round 15 (VERDICT r14 #1): merge-on-read collection deletes.
        # The decade claim: delete_df(tombstone) writes O(batch) — its
        # wall should stay ~flat per decade while the eager rewrite
        # (and optimize(), the scheduled apply) grow O(table). The
        # read-time anti-join overhead is measured explicitly.
        import shutil as _sh

        from kowari_spark.catalog import CollectionManager

        wh = os.path.join(SCALE_DIR, f"x{mult}", "coll_wh")
        _sh.rmtree(wh, ignore_errors=True)
        c = CollectionManager(spark, wh).create_collection(
            "scale", dimension=64, mode="strict"
        )
        vecs = emb.select(
            F.col("vec_id").cast("string").alias("id"),
            F.col("embedding"),
            F.lit(None).cast("string").alias("metadata"),
        )
        s, _ = timed(lambda: (c.add_df(vecs), 1)[1])
        rec("coll_ingest", s, n)
        pct1 = emb.filter(F.col("vec_id") % 100 == 7).select("vec_id")
        k = pct1.count()
        s, _ = timed(
            lambda: (c.delete_df(pct1, strategy="tombstone"), 1)[1]
        )
        rec("coll_delete_tomb_1pct", s, k)
        s, r = timed(lambda: c.df().count())
        rec("coll_read_tombed", s, r)
        s, _ = timed(lambda: (c.optimize(), 1)[1])
        rec("coll_apply_optimize", s, c.count())
        pct2 = emb.filter(F.col("vec_id") % 100 == 8).select("vec_id")
        k2 = pct2.count()
        s, _ = timed(
            lambda: (c.delete_df(pct2, strategy="eager"), 1)[1]
        )
        rec("coll_delete_eager_1pct", s, k2)
        _sh.rmtree(wh, ignore_errors=True)

    if want("bm25_reshard"):
        # round 15 (VERDICT r14 #2): the re-shard maintenance verb vs
        # the monolithic rebuild it replaces. reshard re-routes the
        # POSTINGS (one bounded pass per shard, no text re-tokenized),
        # so its decade line should sit well under the sharded build's
        # — and the probe must stay score-identical afterwards.
        import shutil as _sh

        from kowari_spark.operators.search import (
            _read_sharded_meta,
            bm25_search_indexed,
            build_bm25_sharded,
            reshard_bm25_sharded,
        )

        rpath = os.path.join(SCALE_DIR, f"x{mult}", "bm25_reshard")
        _sh.rmtree(rpath, ignore_errors=True)
        n_doc = docs.count()
        s, _ = timed(
            lambda: (build_bm25_sharded(docs, rpath, shards=2), 1)[1]
        )
        rec("bm25_reshard_build2", s, n_doc)
        qtxt = "vector hash join batch"
        before = [tuple(r) for r in bm25_search_indexed(
            spark, rpath, qtxt, k=10).collect()]
        s, _ = timed(lambda: reshard_bm25_sharded(spark, rpath, factor=2))
        rec("bm25_reshard_2to4", s, n_doc)
        sm = _read_sharded_meta(spark, rpath)
        assert sm["shards"] == 4
        sP, rP = timed(lambda: len(bm25_search_indexed(
            spark, rpath, qtxt, k=10).collect()))
        rec("bm25_reshard_probe", sP, rP)
        after = [tuple(r) for r in bm25_search_indexed(
            spark, rpath, qtxt, k=10).collect()]
        assert after == before, "reshard changed scores"
        _sh.rmtree(rpath, ignore_errors=True)

    emb.unpersist()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", default="1,10,100")
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--ops", default=None,
                    help="comma-separated op names to run (default all)")
    args = ap.parse_args()
    mults = [int(m) for m in args.mults.split(",")]
    ops = set(args.ops.split(",")) if args.ops else None

    spark = get_session(app="kowari_scale_bench")
    warm_up(spark)
    results: dict[int, dict] = {}
    for m in mults:
        sf_dir = args.base if m == 1 else derive(spark, args.base, m)
        print(f"== x{m} ({sf_dir}) ==", flush=True)
        results[m] = run_suite(spark, sf_dir, m, ops)

    print("\n== scaling summary (time ratio vs x1; data ratio = mult) ==")
    base = results[mults[0]]
    names = list(base)
    header = "query".ljust(22) + "".join(f"x{m}".rjust(10) for m in mults)
    print(header)
    for q in names:
        row = q.ljust(22)
        for m in mults:
            sec = results[m][q]["sec"]
            row += f"{sec:9.2f}s"
        print(row)
    print(json.dumps({"mults": mults, "results": {str(m): r for m, r in results.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
