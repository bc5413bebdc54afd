"""The benchmark's workloads.

Each workload drives kowari_spark's public API from outside, on inputs
that ``gen`` makes from the seed, with one closed-loop client on one
session. Every workload runs the same three phases, so every workload
reports every end-to-end metric:

    set-up -> index -> serve

``Run`` holds what the phases share: the session, the recorder, the
run's scratch directory and the tally of operations and failed checks.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import contextmanager

import numpy as np

from perfbench import gen
from perfbench.trace import tree_cpu_seconds

K = 10
ROUND_TO = 6
# a rounded score is exact to half a unit in the last place; two
# roundings of one value differ by at most one unit
SCORE_TOL = 1.01e-6


class Run:
    def __init__(self, spark, rec, work: str, seed: int, seconds: float,
                 t0: float):
        self.t0 = t0  # process start: set-up time counts from here
        self.spark = spark
        self.rec = rec
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}  # trace-only per-layer values

    def setup_done(self) -> None:
        """End of the first set-up stretch: session start, input
        generation and ingest."""
        self.e2e["setup_s"] = time.perf_counter() - self.t0

    @contextmanager
    def more_setup(self):
        """A later stretch of set-up (opening layouts, warm-up)."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.e2e["setup_s"] += time.perf_counter() - t

    @staticmethod
    def cpu() -> float:
        return tree_cpu_seconds(os.getpid())

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    def op(self, fn, what: str):
        """One request or batch; an exception counts as a failure and
        the workload goes on."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # the run must keep going and report it
            self.failed += 1
            print(f"operation failed: {what}: {e!r}", file=sys.stderr)
            return None


def count_files(spark, path: str) -> int:
    """Data files under ``path``, partition directories included."""
    from kowari_spark import fsutil

    return fsutil.count_data_files(spark, path) + sum(
        count_files(spark, os.path.join(path, d))
        for d in fsutil.list_dirs(spark, path)
    )


def _query_frame(run: Run, rows):
    from kowari_spark.fsutil import local_df

    with run.rec.call("fsutil", "local_df"):
        return local_df(
            run.spark, rows, "query_id string, embedding array<double>"
        )


# -- exact reference -----------------------------------------------------

def _unit(m: np.ndarray) -> np.ndarray:
    m = m.astype(np.float64)
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def exact_topk(base_unit: np.ndarray, ids: np.ndarray, q: np.ndarray,
               k: int, round_to: int | None):
    """numpy top-k by cosine, ties on ascending id — the program's
    ordering. Returns (ids, scores)."""
    s = base_unit @ (q.astype(np.float64) / np.linalg.norm(q))
    if round_to is not None:
        s = np.round(s, round_to)
    cand = np.argpartition(-s, k + 32)[: k + 32]
    order = sorted(cand, key=lambda i: (-s[i], ids[i]))[:k]
    return [ids[i] for i in order], [float(s[i]) for i in order]


def check_exact(run: Run, got, want, what: str) -> None:
    ids = [r[0] for r in got]
    ok = ids == want[0] and all(
        abs(float(r[1]) - w) <= SCORE_TOL for r, w in zip(got, want[1])
    )
    run.check(ok, f"{what}: exact top-{K} differs from numpy")


def check_ann(run: Run, got, q, base_unit, row_of, round_to, what: str):
    """ANN hits: K of them, scores non-increasing, each score the exact
    cosine of its id."""
    scores = [float(r[1]) for r in got]
    qn = q.astype(np.float64) / np.linalg.norm(q)
    exact = [float(base_unit[row_of[r[0]]] @ qn) for r in got]
    if round_to is not None:
        exact = [round(x, round_to) for x in exact]
    ok = (
        len(got) == K
        and all(a >= b for a, b in zip(scores, scores[1:]))
        and all(abs(a - b) <= SCORE_TOL for a, b in zip(scores, exact))
    )
    run.check(ok, f"{what}: ANN scores are not the exact cosines, in order")


def recall(got, want_ids) -> float:
    return len({r[0] for r in got} & set(want_ids)) / len(want_ids)


# -- ann_serve -----------------------------------------------------------

ANN_N = 3000
ANN_DIM = 64
ANN_CLUSTERS = 16
ANN_DUP_FRAC = 0.01
ANN_BATCH = 32
ANN_QUERY_POOL = 2000  # held-out vectors; each probe takes a fresh one
NEAR_DUP_THRESHOLD = 0.98
FAMILIES = ("exact", "ivf", "cplsh", "hnsw")


def ann_serve(run: Run) -> None:
    """Top-10 similarity search over a strict Collection, exact and
    through IVF, cross-polytope LSH and HNSW layouts built in the run."""
    from kowari_spark.catalog import CollectionManager
    from kowari_spark.operators.cplsh import CrossPolytopeLSH
    from kowari_spark.operators.dedup import embedding_near_dups_lsh
    from kowari_spark.operators.hnsw import HNSW
    from kowari_spark.operators.ivf import IVF
    from kowari_spark.operators.topk import knn_batch

    spark, rec = run.spark, run.rec
    vs = gen.vectors(run.seed, ANN_N, ANN_DIM, ANN_CLUSTERS,
                     ANN_QUERY_POOL + ANN_BATCH, ANN_DUP_FRAC)
    gen.write_vectors(run.path("vectors.parquet"), vs.ids, vs.base)
    ids = np.array(vs.ids)
    row_of = {v: i for i, v in enumerate(vs.ids)}
    base_unit = _unit(vs.base)
    batch_q, pool = vs.queries[:ANN_BATCH], vs.queries[ANN_BATCH:]

    coll = CollectionManager(spark, run.path("warehouse")).create_collection(
        "vectors", ANN_DIM
    )
    with rec.call("catalog", "add_df"):
        coll.add_df(spark.read.parquet(run.path("vectors.parquet")))
    base = coll.df()
    run.setup_done()

    # -- index: the persisted layouts, and the near-dup join -----------
    t, c = time.perf_counter(), run.cpu()
    ivf = IVF()
    cp = CrossPolytopeLSH(ANN_DIM, num_tables=20)
    hnsw = HNSW(num_tables=2, refine_rounds=0)
    with rec.call("operators.ivf", "fit"):
        ivf.fit(base)
    with rec.call("operators.ivf", "build"):
        ivf.build(base, run.path("ivf"))
    with rec.call("operators.cplsh", "build"):
        cp.build(base, run.path("cplsh"))
    with rec.call("operators.hnsw", "build_layout"):
        hnsw.build_layout(base, run.path("hnsw"))
    with rec.call("operators.dedup", "embedding_near_dups_lsh"):
        pairs = embedding_near_dups_lsh(
            base, NEAR_DUP_THRESHOLD, num_planes=8, dim=ANN_DIM
        ).select("id_a", "id_b").collect()
    run.e2e["index_s"] = time.perf_counter() - t
    run.e2e["index_cpu_s"] = run.cpu() - c

    if rec.traced:
        for name, layer in (("ivf", "operators.ivf.build"),
                            ("cplsh", "operators.cplsh.build"),
                            ("hnsw", "operators.hnsw.build_layout")):
            run.layer[f"{layer}.files"] = count_files(spark, run.path(name))
    run.layer["operators.dedup.embedding_near_dups_lsh.pairs"] = len(pairs)
    found = {tuple(sorted(p)) for p in pairs}
    for a, b in found:
        cos = float(base_unit[row_of[a]] @ base_unit[row_of[b]])
        run.check(cos >= NEAR_DUP_THRESHOLD - 1e-9,
                  f"near-dup pair {a},{b} has cosine {cos}")
    above = [tuple(sorted(p)) for p in vs.planted
             if base_unit[row_of[p[0]]] @ base_unit[row_of[p[1]]]
             >= NEAR_DUP_THRESHOLD]
    run.e2e["dedup_recall"] = (
        sum(p in found for p in above) / len(above) if above else 1.0
    )

    # -- more set-up: open the layouts, verify on a batch, warm up -------
    with run.more_setup():
        with rec.call("operators.ivf", "load"):
            ivf_l = ivf.load(spark, run.path("ivf"))
        with rec.call("operators.cplsh", "load"):
            cp_l = cp.load(spark, run.path("cplsh"))
        with rec.call("operators.hnsw", "load_layout"):
            h_base, h_edges, _ = hnsw.load_layout(spark, run.path("hnsw"))
        rows = [(f"b{i}", [float(x) for x in q])
                for i, q in enumerate(batch_q)]
        qdf = _query_frame(run, rows)
        with rec.call("operators.topk", "knn_batch"):
            exact_b = run.op(lambda: knn_batch(base, qdf, K).collect(),
                             "knn_batch")
        with rec.call("operators.ivf", "query_batch"):
            ivf_b = run.op(lambda: ivf.query_batch(ivf_l, qdf, K).collect(),
                           "ivf.query_batch")
    exact_by, ivf_by = _by_query(exact_b, "id", "score"), \
        _by_query(ivf_b, "id", "score")
    for i, q in enumerate(batch_q):
        qid = f"b{i}"
        check_exact(run, exact_by.get(qid, []),
                    exact_topk(base_unit, ids, q, K, None), f"knn_batch {qid}")
        check_ann(run, ivf_by.get(qid, []), q, base_unit, row_of, None,
                  f"ivf batch {qid}")
    if rec.traced:
        _candidate_fracs(run, ivf, ivf_l, cp, cp_l, qdf, base)

    # -- serve: round-robin single probes, each on a fresh vector -----
    def probe(family: str, q: np.ndarray, qid: str):
        v = [float(x) for x in q]
        if family == "exact":
            with rec.call("catalog", "search_with_scores"):
                return coll.search_with_scores(v, K, round_to=ROUND_TO) \
                    .select("id", "score").collect()
        if family == "ivf":
            with rec.call("operators.ivf", "query"):
                return ivf.query(ivf_l, v, K, round_to=ROUND_TO) \
                    .select("id", "score").collect()
        if family == "cplsh":
            with rec.call("operators.cplsh", "query_batch.single"):
                qf = _query_frame(run, [(qid, v)])
                return cp.query_batch(cp_l, qf, K, round_to=ROUND_TO) \
                    .select("id", "score").collect()
        # round_to set: graphs under the beam bound take the driver beam
        with rec.call("operators.hnsw", "query_batch.beam"):
            qf = _query_frame(run, [(qid, v)])
            return hnsw.query_batch(h_base, h_edges, qf, K,
                                    round_to=ROUND_TO) \
                .select("id", "score").collect()

    def serve_round(r: int):
        out = []
        with rec.request(f"probe-round-{r}"):
            for j, fam in enumerate(FAMILIES):
                q = pool[(len(FAMILIES) * r + j) % len(pool)]
                res = run.op(lambda: probe(fam, q, f"q{r}-{j}"), fam)
                out.append((fam, q, res))
        return out

    with run.more_setup(), rec.tracing(False):
        serve_round(0)  # warm-up: excluded from every statistic
    probes = _serve(run, serve_round)

    recalls: dict[str, list[float]] = {f: [] for f in FAMILIES[1:]}
    for fam, q, res in probes:
        if res is None:
            continue
        want = exact_topk(base_unit, ids, q, K, ROUND_TO)
        got = [(r["id"], r["score"]) for r in res]
        if fam == "exact":
            check_exact(run, got, want, "catalog probe")
            continue
        check_ann(run, got, q, base_unit, row_of, ROUND_TO, f"{fam} probe")
        recalls[fam].append(recall(got, want[0]))
    run.e2e["recall_at_10"] = statistics.mean(
        x for v in recalls.values() for x in v
    )
    for fam, layer in (("ivf", "operators.ivf"), ("cplsh", "operators.cplsh"),
                       ("hnsw", "operators.hnsw")):
        run.layer[f"{layer}.recall_at_10"] = statistics.mean(recalls[fam])
    if rec.traced:
        _catalog_stats(run, coll, live_rows=ANN_N, dim=ANN_DIM,
                       id_bytes=sum(map(len, vs.ids)))


def _by_query(rows, id_col: str, score_col: str) -> dict[str, list]:
    out: dict[str, list] = {}
    for r in sorted(rows or [], key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r[id_col], r[score_col]))
    return out


def _candidate_fracs(run, ivf, ivf_l, cp, cp_l, qdf, base) -> None:
    """Candidates per query ÷ corpus size, through the public index
    strategies (traced runs only)."""
    from kowari_spark.operators.ann import CrossPolytopeIndex, IVFIndex

    for layer, idx, built in (("operators.ivf", IVFIndex(ivf), ivf_l),
                              ("operators.cplsh", CrossPolytopeIndex(cp),
                               cp_l)):
        n = idx.candidates(built, base, qdf, K).count()
        run.layer[f"{layer}.candidate_frac"] = n / (ANN_BATCH * ANN_N)


def _serve(run: Run, serve_round) -> list[tuple]:
    """Closed loop of rounds for ``run.seconds``; returns every request as
    (kind, input, result).

    In a traced run the rounds alternate between untraced and traced, so
    the ratio of their walls on the same session and inputs gives the
    tracing overhead."""
    probes, walls = [], {True: [], False: []}
    r, end = 1, time.perf_counter() + run.seconds
    while time.perf_counter() < end or not walls[False]:
        traced = run.rec.traced and r % 2 == 0
        t0 = time.perf_counter()
        with run.rec.tracing(traced):
            probes.extend(serve_round(r))
        walls[traced].append(time.perf_counter() - t0)
        r += 1
    if walls[True]:
        run.layer["trace.overhead_frac"] = (
            statistics.mean(walls[True]) / statistics.mean(walls[False]) - 1
        )
    return probes


def _catalog_stats(run: Run, coll, live_rows: int, dim: int,
                   id_bytes: int) -> None:
    """Segment, file and byte counts of the collection as it stands, and
    bytes on disk ÷ bytes of live user data."""
    from kowari_spark import fsutil

    with run.rec.call("catalog", "versions"):
        latest = coll.versions()[-1]
    data = os.path.join(coll.path, "data")
    run.layer["catalog.segments"] = len(latest["segments"])
    run.layer["catalog.tombstone_files"] = sum(
        fsutil.count_data_files(run.spark, os.path.join(data, t["name"]))
        for t in latest.get("tombstones", [])
    )
    run.layer["catalog.data_files"] = count_files(run.spark, data)
    on_disk = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(coll.path) for f in files
    )
    run.layer["catalog.bytes_on_disk"] = on_disk
    run.layer["catalog.space_amp"] = on_disk / (id_bytes + 4 * dim * live_rows)


# -- text_dedup ----------------------------------------------------------

DOC_N = 3000
DOC_VOCAB = 5000
DOC_DIM = 32
DOC_CLUSTERS = [2] * 60 + [3] * 30 + [5] * 12 + [8] * 6
DOC_BATCH = 40
DOC_QUERY_POOL = 1000
JACCARD_THRESHOLD = 0.6
BM25_SAMPLE = 12
TEXT_WARMUP = 3  # queries; the first few are markedly slower


def text_dedup(run: Run) -> None:
    """MinHash near-dup removal over documents, applied to a strict
    Collection of their embeddings as a keep-list, then BM25 keyword
    search over the kept documents."""
    from pyspark.sql import functions as F

    from kowari_spark.catalog import CollectionManager
    from kowari_spark.fsutil import local_df
    from kowari_spark.operators.dedup import (
        dedup_keep_representatives,
        minhash_band_pairs,
        minhash_banding,
        minhash_dedup_pairs,
    )
    from kowari_spark.operators.search import (
        bm25_batch_indexed,
        bm25_search_batch,
        build_bm25_layout,
    )

    spark, rec = run.spark, run.rec
    ds = gen.documents(run.seed, DOC_N, DOC_VOCAB, DOC_DIM, zipf_a=1.1,
                       min_len=30, max_len=80, cluster_sizes=DOC_CLUSTERS,
                       n_queries=DOC_BATCH + DOC_QUERY_POOL)
    gen.write_docs(run.path("docs.parquet"), ds)
    gen.write_vectors(run.path("doc_vectors.parquet"), ds.ids, ds.emb)
    text_of = dict(zip(ds.ids, ds.texts))

    coll = CollectionManager(spark, run.path("warehouse")).create_collection(
        "docs", DOC_DIM
    )
    with rec.call("catalog", "add_df"):
        coll.add_df(spark.read.parquet(run.path("doc_vectors.parquet")))
    docs = spark.read.parquet(run.path("docs.parquet"))
    num_hashes, bands = minhash_banding(JACCARD_THRESHOLD)
    run.setup_done()

    # -- index: near-dup pairs -> keep-list -> collection; BM25 ------
    t, c = time.perf_counter(), run.cpu()
    with rec.call("operators.dedup", "minhash_dedup_pairs"):
        pairs = minhash_dedup_pairs(
            docs, threshold=JACCARD_THRESHOLD, num_hashes=num_hashes,
            bands=bands,
        ).select("id_a", "id_b", "jaccard").collect()
    with rec.call("operators.dedup", "dedup_keep_representatives"):
        pairs_df = local_df(spark, [(p[0], p[1]) for p in pairs],
                            "id_a string, id_b string")
        kept = {r[0] for r in dedup_keep_representatives(docs, pairs_df)
                .select("doc_id").collect()}
    losers = sorted(set(ds.ids) - kept)
    with rec.call("catalog", "delete_df"):
        removed = coll.delete_df(_ids_frame(run, losers)) if losers else 0
    if rec.traced:  # the merge-on-read state reads pay for
        _catalog_stats(run, coll, live_rows=len(kept), dim=DOC_DIM,
                       id_bytes=sum(map(len, kept)))
    with rec.call("catalog", "optimize"):
        coll.optimize()
    with rec.call("catalog", "vacuum"):
        coll.vacuum()
    kept_docs = docs.join(F.broadcast(_ids_frame(run, losers, "doc_id")),
                          "doc_id", "left_anti")
    with rec.call("operators.search", "build_bm25_layout"):
        build_bm25_layout(kept_docs, run.path("bm25"))
    run.e2e["index_s"] = time.perf_counter() - t
    run.e2e["index_cpu_s"] = run.cpu() - c

    run.layer["operators.dedup.cc_edges"] = len(pairs)
    if rec.traced:
        run.layer["operators.search.build_bm25_layout.files"] = count_files(
            spark, run.path("bm25")
        )
    found = {tuple(sorted((p[0], p[1]))) for p in pairs}
    for a, b, jac in pairs:
        j = gen.shingle_jaccard(text_of[a], text_of[b])
        run.check(j >= JACCARD_THRESHOLD and abs(j - jac) <= 1e-9,
                  f"near-dup pair {a},{b}: jaccard {j} vs reported {jac}")
        run.check(not (a in kept and b in kept),
                  f"both ends of near-dup pair {a},{b} were kept")
    planted = [tuple(sorted((g[i], g[j]))) for g in ds.clusters
               for i in range(len(g)) for j in range(i + 1, len(g))]
    above = [p for p in planted
             if gen.shingle_jaccard(text_of[p[0]], text_of[p[1]])
             >= JACCARD_THRESHOLD]
    run.e2e["dedup_recall"] = (
        sum(p in found for p in above) / len(above) if above else 1.0
    )
    _check_keep_list(run, coll, ds, kept, losers, removed)

    if rec.traced:
        with rec.call("operators.dedup", "minhash_band_pairs"):
            cand = minhash_band_pairs(docs, num_hashes=num_hashes,
                                      bands=bands, edges="pairs").count()
        run.layer["operators.dedup.minhash_band_pairs.candidates"] = cand
        run.layer["operators.dedup.verify_yield"] = (
            len(pairs) / cand if cand else 0.0
        )

    # -- more set-up: one batch of keyword queries, and a warm-up -------
    batch = {f"b{i}": q for i, q in enumerate(ds.queries[:DOC_BATCH])}
    pool = ds.queries[DOC_BATCH:]

    def serve_round(r: int):
        q = pool[r % len(pool)]
        with rec.request(f"query-{r}"), \
                rec.call("operators.search", "bm25_batch_indexed.single"):
            res = run.op(lambda: bm25_batch_indexed(
                spark, run.path("bm25"), {f"s{r}": q}, k=K
            ).collect(), "bm25 query")
        return [(f"s{r}", q, res)]

    with run.more_setup():
        with rec.call("operators.search", "bm25_batch_indexed"):
            got_b = run.op(lambda: bm25_batch_indexed(
                spark, run.path("bm25"), batch, k=K).collect(),
                "bm25_batch_indexed")
        with rec.tracing(False):
            for r in range(-TEXT_WARMUP, 0):
                serve_round(r)  # warm-up

    # -- serve: single keyword queries ----------------------------------
    probes = _serve(run, serve_round)
    # BM25 against the unindexed scan, on a sample, outside the timing
    served = [p for p in probes[:BM25_SAMPLE] if p[2] is not None]
    sample = {qid: q for qid, q, _ in served}
    sample.update(list(batch.items())[:BM25_SAMPLE])
    want = _by_query(bm25_search_batch(kept_docs, sample, k=K).collect(),
                     "doc_id", "bm25")
    got = _by_query(list(got_b or []) + [r for _, _, res in served
                                         for r in res], "doc_id", "bm25")
    recalls = []
    for qid in sample:
        run.check(got.get(qid) == want.get(qid),
                  f"indexed BM25 differs from the scan for query {qid}")
        if want.get(qid):
            recalls.append(recall(got.get(qid, []),
                                  [d for d, _ in want[qid]]))
    run.e2e["recall_at_10"] = statistics.mean(recalls) if recalls else 1.0


def _check_keep_list(run: Run, coll, ds, kept, losers, removed) -> None:
    """Read-after-write on the collection the keep-list was applied to."""
    from pyspark.sql import functions as F

    from kowari_spark.errors import DuplicateIdError

    run.check(removed == len(losers),
              f"delete_df removed {removed}, expected {len(losers)}")
    run.check(coll.count() == len(kept),
              "collection count differs from the keep-list")
    row_of = {d: i for i, d in enumerate(ds.ids)}
    dead = set(losers)
    for d in losers[:2]:
        hits = coll.search_with_scores(
            [float(x) for x in ds.emb[row_of[d]]], K, round_to=ROUND_TO
        ).select("id").collect()
        run.check(not any(h[0] in dead for h in hits),
                  f"deleted id returned by a search for {d}")
    one = sorted(kept)[0]
    try:
        coll.add_df(coll.df().filter(F.col("id") == one))
        run.check(False, "duplicate add_df did not raise DuplicateIdError")
    except DuplicateIdError:
        run.check(True, "duplicate add_df")


def _ids_frame(run: Run, ids, col: str = "id"):
    from kowari_spark.fsutil import local_df

    with run.rec.call("fsutil", "local_df"):
        return local_df(run.spark, [(i,) for i in ids], f"{col} string")


WORKLOADS = {"ann_serve": ann_serve, "text_dedup": text_dedup}
