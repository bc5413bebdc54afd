"""Training-data pipeline walkthrough: the beyond-reference surface on
the driver's synthetic tables — text analysis, near-dedup with
clustering, hashed embeddings into ANN search, media plumbing.

Run: python examples/pipeline_demo.py [sf_dir]   (default sf0.001)
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from kowari_spark import get_session
from kowari_spark.functions.text import hashed_embeddings, lang_id, quality_score
from kowari_spark.operators import knn
from kowari_spark.operators.dedup import (
    dedup_keep_representatives,
    minhash_dedup_pairs,
)
from kowari_spark.operators.multimodal import media_features, media_meta, synth_media


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    """Run the walkthrough. Its layout directories live under one
    temporary directory, removed at exit even when a step fails."""
    import tempfile

    with tempfile.TemporaryDirectory(prefix="kowari_demo_") as root:
        _walkthrough(sf_dir, root)


def _walkthrough(sf_dir: str, root: str) -> None:
    spark = get_session(app="kowari_pipeline")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    n = docs.count()

    # -- text analysis ---------------------------------------------------
    profiled = docs.select(
        "doc_id",
        lang_id("text").alias("lang"),
        F.round(quality_score("text"), 3).alias("q"),
    )
    print("language distribution:", profiled.groupBy("lang").count().collect())

    # -- near-dedup: candidates -> verify -> clusters -> survivors -------
    # num_hashes="auto" derives the banding from the threshold
    # (minhash_banding S-curve); edges="star" emits per-bucket
    # member<->min edges — same connected components as the all-pairs
    # bucket join at O(B) instead of O(B^2) rows per duplicate family,
    # the shape to feed a keep-list on boilerplate-heavy corpora
    pairs = minhash_dedup_pairs(
        docs, threshold=0.5, num_hashes="auto", edges="star"
    )
    kept = dedup_keep_representatives(docs, pairs)
    print(f"dedup: {n} docs -> {kept.count()} after near-dup removal "
          f"({pairs.count()} verified star edges)")

    # -- incremental dedup: batch N+1 against persisted history ---------
    # fingerprint history ONCE into a partitionBy(band) signature
    # layout; each new crawl batch computes only ITS OWN bands and
    # joins against the stored relation — history is never re-shingled
    # (operators/dedup_index.py; the recurring 100 TB pipeline shape)
    import tempfile

    from kowari_spark.operators.dedup_index import (
        SignatureLayout,
        build_minhash_layout,
    )

    sig_path = tempfile.mkdtemp(prefix="sig_", dir=root)
    history = kept.filter(F.col("doc_id") % 2 == 0)
    batch = kept.filter(F.col("doc_id") % 2 == 1)
    build_minhash_layout(history, sig_path)
    # the facade dispatches on the sidecar — the same three verbs work
    # for the minhash/simhash/winnow/media families alike
    layout = SignatureLayout.open(spark, sig_path)
    fresh = layout.filter_new(batch)
    print(f"incremental dedup: {batch.count()}-doc batch -> "
          f"{fresh.count()} not already in history")
    layout.append(fresh)  # batch joins history
    # a later curation pass dropped some docs: their stored signatures
    # must stop matching future probes. mode="tombstone" logs the ids
    # in O(|ids|) — probes anti-join the log immediately — and the
    # physical rewrite rides the next compact()/apply_deletes()
    # maintenance window (minhash docs live in EVERY band partition,
    # so an eager rewrite would rebuild the whole layout per delete)
    dropped = history.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    layout.delete(dropped, mode="tombstone")
    print(f"keep-list cleanup: {dropped.count()} docs tombstoned; "
          f"pending={layout.file_stats()['has_pending_tombstones']}")
    layout.compact()  # maintenance window: deletes + small-file folding
    print(f"after compact: "
          f"pending={layout.file_stats()['has_pending_tombstones']}")

    # same shape for vectors: the stored SignLSH layout keeps the
    # embeddings, so a new vector batch is cosine-VERIFIED against
    # history without re-hashing it (static bucket-partition pruning).
    # build() writes a params sidecar, so the layout dispatches through
    # the SAME facade as the text families — no instance to thread
    from kowari_spark.operators.lsh import SignLSH

    from kowari_spark.functions.text import hashed_embeddings as _he

    vecs = _he(docs, "text", "doc_id", dim=32)
    vhist = vecs.filter(F.col("doc_id") % 2 == 0)
    vbatch = vecs.filter(F.col("doc_id") % 2 == 1)
    vlsh = SignLSH(dim=32, num_planes=6, seed=42)
    vpath = tempfile.mkdtemp(prefix="vsig_", dir=root)
    vlsh.build(vhist, vpath, vec_col="embedding", id_col="doc_id")
    vlayout = SignatureLayout.open(spark, vpath)  # fifth family
    vfresh = vlayout.filter_new(vbatch, threshold=0.9, round_to=6)
    print(f"incremental vector dedup: {vbatch.count()} -> "
          f"{vfresh.count()} not near-duplicating stored history")
    vlayout.append(vfresh)  # hashed under the STORED params

    # -- pipeline telemetry: stored cardinality sketches -----------------
    # distinct documents per language, kept current as crawl batches
    # land: the persisted state is <= 2^p rows PER GROUP (never the
    # corpus), merges are idempotent (a replayed batch lands
    # bit-identically), and estimates read only the registers
    from kowari_spark.operators.sketch import (
        append_hll_layout,
        build_hll_layout,
        hll_layout_estimate,
    )

    skpath = tempfile.mkdtemp(prefix="hll_", dir=root)
    build_hll_layout(history, skpath, ["lang"], "text", p=6)
    append_hll_layout(spark, skpath, batch)  # max-merge, O(batch+state)
    print("distinct docs per lang (stored HLL):", sorted(
        (r["lang"], round(r["distinct_est"]))
        for r in hll_layout_estimate(spark, skpath).collect()))

    # -- curation: decontaminate, quality-filter, scrub, re-mix, pack ----
    from kowari_spark.operators.decontam import (
        ngram_decontaminate,
        semantic_decontaminate,
    )
    from kowari_spark.operators.pack import pack_documents
    from kowari_spark.operators.pii import pii_scrub
    from kowari_spark.operators.quality import repetition_stats, top_ngrams
    from kowari_spark.operators.sampling import mixture_sample
    from kowari_spark.operators.search import bm25_search

    eval_df = docs.filter(F.col("doc_id") % 17 == 0)  # stand-in benchmark
    clean = (
        kept.join(
            ngram_decontaminate(kept, eval_df, n=13)
            .filter(~F.col("is_contaminated")).select("doc_id"),
            "doc_id",
        )
        # companion pass: paraphrased leakage the 13-gram filter
        # misses (reworded benchmark answers land near the original
        # in embedding space)
        .join(
            semantic_decontaminate(kept, eval_df, 0.98)
            .filter(~F.col("is_contaminated")).select("doc_id"),
            "doc_id",
        )
        .join(
            repetition_stats(kept)
            .filter(F.col("dup5gram_frac") < 0.3).select("doc_id"),
            "doc_id",
        )
    )
    clean = pii_scrub(clean).withColumn("text", F.col("scrubbed"))
    print(f"curation: {kept.count()} -> {clean.count()} after "
          "decontamination + repetition filter")
    mixed = mixture_sample(clean, "lang", {"en": 0.6, "de": 0.2, "es": 0.2})
    print("mixture:", sorted(
        (r["lang"], r["count"])
        for r in mixed.groupBy("lang").count().collect()))
    packed = pack_documents(mixed, budget=512, num_streams=8)
    print("packing: ", packed.agg(
        F.max("last_chunk").alias("chunks"),
        F.sum("n_tokens").alias("tokens")).first())
    print("top bigrams:", [r["gram"] for r in top_ngrams(mixed, 2, 3).collect()])
    print("bm25('hash join'):", [
        (r["doc_id"], r["bm25"])
        for r in bm25_search(mixed, "hash join", k=3).collect()])

    # DSIR: keep the docs most like a target slice (here: the English
    # half) — hashed-ngram importance weights, deterministic top-k
    from kowari_spark.operators.sampling import dsir_top

    en_like = dsir_top(clean, clean.filter(F.col("lang") == "en"), 20)
    print("dsir top-3 target-like:", [
        (r["doc_id"], r["dsir_logw"]) for r in en_like.limit(3).collect()])

    # ...and the fit-once shape: persist the ratio model, score any
    # later crawl batch with ONE pass over the batch (zero passes over
    # the fit corpora; bit-identical to the full recompute)
    from kowari_spark.operators.sampling import (
        build_dsir_layout,
        dsir_score_against,
    )

    dpath = tempfile.mkdtemp(prefix="dsir_", dir=root)
    build_dsir_layout(clean, clean.filter(F.col("lang") == "en"), dpath)
    scored = dsir_score_against(spark, dpath, batch)
    print("dsir stored-model batch scores (3):", [
        (r["doc_id"], r["dsir_logw"]) for r in scored.limit(3).collect()])

    # ...and the crawl-loop maintenance verbs through ONE handle: roll
    # the scored batch's histogram INTO the stored model additively
    # (bit-identical to refitting over fit ∪ batch), then exactly
    # unlearn it — the model returns to its pre-append bits
    from kowari_spark.operators.sampling import DsirLayout

    dlay = DsirLayout.open(spark, dpath)
    dlay.append(batch, which="raw")
    print("dsir model after append scores (3):", [
        (r["doc_id"], r["dsir_logw"])
        for r in dlay.score(batch).limit(3).collect()])
    dlay.remove(batch, which="raw")  # exact unlearn (dedup'd away)
    print("dsir top-2 after unlearn:", [
        r["doc_id"] for r in dlay.top(batch, 2).collect()])

    # persisted BM25 postings: tokenize once, probe by term bucket —
    # bit-identical scores to the scan path above
    from kowari_spark.operators.search import (
        bm25_search_indexed,
        build_bm25_layout,
        delete_from_bm25_layout,
    )

    bpath = tempfile.mkdtemp(prefix="bm25_", dir=root)
    build_bm25_layout(mixed, bpath)
    print("bm25 indexed('hash join'):", [
        (r["doc_id"], r["bm25"])
        for r in bm25_search_indexed(spark, bpath, "hash join", k=3)
        .collect()])
    # lifecycle: a later dedup pass drops docs -> tombstone them
    # (O(|batch|) log write; probes correct immediately — a rewrite
    # would touch ~every tb partition), then apply at the maintenance
    # window (scores stay rebuild-identical throughout)
    from kowari_spark.operators.search import apply_bm25_deletes

    delete_from_bm25_layout(
        spark, bpath, mixed.select("doc_id").orderBy("doc_id").limit(5),
        mode="tombstone")
    print("bm25 after tombstone delete:", [
        (r["doc_id"], r["bm25"])
        for r in bm25_search_indexed(spark, bpath, "hash join", k=3)
        .collect()])
    apply_bm25_deletes(spark, bpath)  # physical rewrite + log clear
    print("bm25 after apply:", [
        (r["doc_id"], r["bm25"])
        for r in bm25_search_indexed(spark, bpath, "hash join", k=3)
        .collect()])

    # -- model-free embeddings into the SAME search operators ------------
    embedded = hashed_embeddings(kept, "text", "doc_id", dim=32).cache()
    qvec = [float(x) for x in embedded.first()["embedding"]]
    print("text knn:", [(r["doc_id"], r["score"])
                        for r in knn(embedded, qvec, 3, id_col="doc_id", round_to=4).collect()])

    # -- serving: hybrid retrieval + compressed-index probe --------------
    # keyword list + vector list fuse by reciprocal rank (RRF); a PQ
    # layout probes the same corpus through 8-byte codes instead of the
    # raw vectors (the 100 TB serving shapes, end to end)
    from kowari_spark.operators.pq import PQ
    from kowari_spark.operators.search import rrf_fuse

    kw_list = bm25_search(mixed, "hash join", k=10)
    vec_list = knn(embedded, qvec, 10, id_col="doc_id", round_to=6)
    fused = rrf_fuse([(kw_list, "bm25"), (vec_list, "score")], id_col="doc_id")
    print("hybrid rrf:", [(r["doc_id"], r["rrf_score"], r["n_lists"])
                          for r in fused.limit(3).collect()])
    pq = PQ(m=4, k_sub=8, max_iter=2).fit(
        embedded, id_col="doc_id", dim=32)
    codes = pq.with_codes(embedded).select("doc_id", "codes")
    print("pq adc knn:", [(r["doc_id"], r["distance"])
                          for r in pq.query(codes, qvec, 3, id_col="doc_id",
                                            round_to=4).collect()])

    # -- multimodal plumbing (deterministic KWM codec) -------------------
    media = synth_media(docs.select(F.col("doc_id").alias("media_id")).limit(20),
                        kind="video", width=16, height=12, n_frames=4)
    print("media meta sample:", media_meta(media).first())
    feats = media_features(media)
    print("media feature dim:", len(feats.first()["features"]))
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:])
