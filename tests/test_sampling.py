"""Deterministic sampling / splits (operators/sampling.py)."""

import pytest
from pyspark.sql import functions as F

from kowari_spark.operators.sampling import (
    deterministic_sample,
    hash_uniform,
    train_val_test,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


def test_sample_is_stable_and_near_fraction(spark):
    df = spark.range(10_000).select(F.col("id").alias("doc_id"))
    a = deterministic_sample(df, 0.2, seed=3)
    b = deterministic_sample(df.repartition(7), 0.2, seed=3)
    ids_a = sorted(r["doc_id"] for r in a.collect())
    ids_b = sorted(r["doc_id"] for r in b.collect())
    assert ids_a == ids_b  # partitioning-independent
    assert 0.17 <= len(ids_a) / 10_000 <= 0.23
    # different seed -> different (mostly disjoint-ish) sample
    c = {r["doc_id"] for r in deterministic_sample(df, 0.2, seed=4).collect()}
    assert set(ids_a) != c


def test_splits_partition_rows_exhaustively(spark):
    df = spark.range(5_000).select(F.col("id").alias("doc_id"))
    s = train_val_test(df, seed=1)
    counts = {r["split"]: r["n"] for r in
              s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 5_000
    assert 0.75 <= counts["train"] / 5_000 <= 0.85
    # assignment is per-id stable: re-running over a subset agrees
    sub = train_val_test(df.filter(F.col("doc_id") < 100), seed=1)
    full = {r["doc_id"]: r["split"] for r in s.filter(F.col("doc_id") < 100).collect()}
    for r in sub.collect():
        assert full[r["doc_id"]] == r["split"]


def test_hash_uniform_range(spark):
    df = spark.range(1_000).select(hash_uniform(F.col("id"), 9).alias("u"))
    mm = df.agg(F.min("u"), F.max("u"), F.avg("u")).first()
    assert 0.0 <= mm[0] and mm[1] < 1.0
    assert 0.4 <= mm[2] <= 0.6


def test_stratified_sample_per_group_rates(spark):
    from kowari_spark.operators.sampling import stratified_sample

    df = spark.range(6_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("fr")
        .alias("lang"),
    )
    out = stratified_sample(df, "lang", {"en": 0.5, "de": 0.1}, seed=5)
    rates = {r["lang"]: r["n"] / 2_000 for r in
             out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert 0.44 <= rates["en"] <= 0.56
    assert 0.05 <= rates["de"] <= 0.15
    assert "fr" not in rates  # default fraction 0
    # deterministic across partitionings
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in
               stratified_sample(df.repartition(5), "lang", {"en": 0.5, "de": 0.1}, seed=5).collect())
    assert a == b


def _dsir_feats(txt, B):
    """By-hand DSIR features: md5-prefix buckets of the unigrams then
    bigrams of the single-space split; NULL text featurizes as ""."""
    import hashlib

    toks = ("" if txt is None else txt).split(" ")
    grams = toks + [f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)]
    return [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B for g in grams]


def _dsir_fold(lrs, txt, B):
    """(n_feats, dsir_logw) of one document: position-ordered sum of
    its features' log ratios, rounded to 6 decimals."""
    fs = _dsir_feats(txt, B)
    s = 0.0
    for b in fs:
        s = s + lrs[b]
    return len(fs), round(s, 6) + 0.0


def _dsir_reference(raw_rows, tgt_texts, B=10_000):
    """By-hand bucket model (same md5 hashing, add-one smoothing,
    rounded-log fold order): {doc_id: (n_feats, dsir_logw)}."""
    import math

    raw_hist, tgt_hist = {}, {}
    for _, t in raw_rows:
        for b in _dsir_feats(t, B):
            raw_hist[b] = raw_hist.get(b, 0) + 1
    for t in tgt_texts:
        for b in _dsir_feats(t, B):
            tgt_hist[b] = tgt_hist.get(b, 0) + 1
    totr, tott = sum(raw_hist.values()), sum(tgt_hist.values())
    lrs = {
        b: round(math.log((tgt_hist.get(b, 0) + 1) / (tott + B)), 9)
        - round(math.log((c + 1) / (totr + B)), 9)
        for b, c in raw_hist.items()
    }
    return {i: _dsir_fold(lrs, t, B) for i, t in raw_rows}


def test_dsir_logweights_hand_computed(spark):
    """Pin DSIR weights against a by-hand bucket-model computation
    (same md5 hashing, add-one smoothing, rounded-log fold order)."""
    from kowari_spark.operators.sampling import dsir_logweights

    B = 64
    raw_rows = [(1, "aa bb"), (2, "cc dd"), (3, "aa cc")]
    tgt_rows = [(10, "aa bb"), (11, "aa bb aa")]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    tgt = spark.createDataFrame(tgt_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_feats"], r["dsir_logw"])
        for r in dsir_logweights(raw, tgt, buckets=B).collect()
    }
    assert got == _dsir_reference(raw_rows, [t for _, t in tgt_rows], B)


def test_dsir_ranks_target_like_docs_first(spark, docs):
    """Sanity: raw docs whose vocabulary matches the target slice
    outrank docs that don't; dsir_top is deterministic with id ties."""
    from kowari_spark.operators.sampling import dsir_top

    target = docs.filter(F.col("lang") == "en")
    top = dsir_top(docs, target, 50)
    rows = top.collect()
    assert len(rows) == 50
    scores = [r["dsir_logw"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # the top target-like docs should be dominated by the target lang
    ids = [r["doc_id"] for r in rows]
    langs = {
        r["doc_id"]: r["lang"]
        for r in docs.filter(F.col("doc_id").isin(ids))
        .select("doc_id", "lang").collect()
    }
    en_frac = sum(1 for i in ids if langs[i] == "en") / len(ids)
    base_frac = docs.filter(F.col("lang") == "en").count() / docs.count()
    assert en_frac > base_frac
    # determinism: a second run returns the identical selection
    again = [r["doc_id"] for r in dsir_top(docs, target, 50).collect()]
    assert again == ids


def test_dsir_engines_bit_identical(spark, docs):
    """Python-partial histograms + collected ratio dict + row-local
    fold match the by-hand bucket model bit-for-bit — on the real
    documents table AND on sub-bigram / empty / NULL edge docs."""
    from kowari_spark.operators.sampling import dsir_logweights

    target = docs.filter(F.col("lang") == "en")
    for frame, tgt in (
        (docs, target),
        (
            spark.createDataFrame(
                [(1, "one"), (2, "two words"), (3, ""), (4, None)],
                "doc_id long, text string",
            ),
            spark.createDataFrame(
                [(9, "two words two"), (10, None)],
                "doc_id long, text string",
            ),
        ),
    ):
        got = {
            r["doc_id"]: (r["n_feats"], r["dsir_logw"])
            for r in dsir_logweights(frame, tgt).collect()
        }
        want = _dsir_reference(
            [(r["doc_id"], r["text"]) for r in frame.collect()],
            [r["text"] for r in tgt.collect()],
        )
        assert got == want
    # NULL-text docs stay IN the output (featurized as "")
    assert set(got) == {1, 2, 3, 4}


def test_dsir_accepts_text_only_target(spark):
    """The target histogram never needs ids: a frame with ONLY the text
    column is a valid target."""
    from kowari_spark.operators.sampling import dsir_logweights

    raw_rows = [(1, "aa bb"), (2, "cc dd")]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    tgt = spark.createDataFrame([("aa bb aa",)], "text string")
    got = {
        r["doc_id"]: (r["n_feats"], r["dsir_logw"])
        for r in dsir_logweights(raw, tgt).collect()
    }
    assert got == _dsir_reference(raw_rows, ["aa bb aa"])


def test_dsir_layout_scores_match_full_recompute(spark, docs, tmp_path):
    """build_dsir_layout + dsir_score_against == dsir_logweights
    bit-for-bit over the fit corpus (stored-model parity); batches with
    buckets unseen at fit time score through the dense relation (every
    bucket carries its smoothed ratio)."""
    from kowari_spark.operators.sampling import (
        build_dsir_layout,
        dsir_logweights,
        dsir_score_against,
        load_dsir_layout,
    )

    target = docs.filter(F.col("lang") == "en")
    path = str(tmp_path / "dsir_fit")
    build_dsir_layout(docs, target, path)
    ratios, meta = load_dsir_layout(spark, path)
    assert ratios.count() == meta["buckets"] == 10_000  # dense
    want = sorted(map(tuple, dsir_logweights(docs, target).collect()))
    got = sorted(map(tuple, dsir_score_against(spark, path, docs).collect()))
    assert got == want

    # unseen-vocabulary batch: the DENSE relation carries every
    # feature's ratio — a by-hand fold over the stored ratios agrees
    odd_rows = [(1, "zzqj vvwk zzqj"), (2, ""), (3, None)]
    odd = spark.createDataFrame(odd_rows, "doc_id long, text string")
    lrs = {r["__b"]: r["__lr"] for r in ratios.collect()}
    got = {
        r["doc_id"]: (r["n_feats"], r["dsir_logw"])
        for r in dsir_score_against(spark, path, odd).collect()
    }
    assert got == {i: _dsir_fold(lrs, t, 10_000) for i, t in odd_rows}

    # provenance: sidecar-less and version-mismatched dirs refuse
    import json

    import pytest as _pt

    from kowari_spark.fsutil import write_bytes

    with _pt.raises(ValueError, match="not a DSIR layout"):
        load_dsir_layout(spark, str(tmp_path / "dsir_nope"))
    write_bytes(
        spark, f"{path}/_dsir_meta.json",
        json.dumps(dict(meta, version="dsir-ratios-v0")).encode(),
    )
    with _pt.raises(ValueError, match="dsir-ratios-v0"):
        load_dsir_layout(spark, path)


def test_dsir_append_bit_identical_to_refit(spark, docs, tmp_path):
    """build(fit) + append(batch) == build(fit ∪ batch) BIT-FOR-BIT:
    stored ratio relations are identical doubles and a scored batch
    ranks identically under both layouts (the additive-maintenance
    parity contract, VERDICT r11 ask #1) — for raw appends AND target
    appends."""
    from kowari_spark.operators.sampling import (
        append_dsir_layout,
        build_dsir_layout,
        dsir_score_against,
        load_dsir_layout,
    )

    target = docs.filter(F.col("lang") == "en")
    q0 = docs.filter(F.col("doc_id") % 4 == 0)
    q2 = docs.filter(F.col("doc_id") % 4 == 2)
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)

    refit = str(tmp_path / "dsir_refit")
    build_dsir_layout(even, target, refit)
    rolled = str(tmp_path / "dsir_rolled")
    build_dsir_layout(q0, target, rolled)
    append_dsir_layout(spark, rolled, q2, which="raw")

    def snap(p):
        ratios, _ = load_dsir_layout(spark, p)
        return sorted(map(tuple, ratios.collect()))

    assert snap(rolled) == snap(refit)
    want = sorted(map(tuple, dsir_score_against(spark, refit, odd).collect()))
    got = sorted(map(tuple, dsir_score_against(spark, rolled, odd).collect()))
    assert got == want

    # target-side append: growing the exemplar set rolls target_hist
    t_en = docs.filter((F.col("lang") == "en") & (F.col("doc_id") % 4 == 0))
    t_de = docs.filter(F.col("lang") == "de")
    tr = str(tmp_path / "dsir_tref")
    build_dsir_layout(even, t_en.unionByName(t_de), tr)
    ta = str(tmp_path / "dsir_tapp")
    build_dsir_layout(even, t_en, ta)
    append_dsir_layout(spark, ta, t_de, which="target")
    assert snap(ta) == snap(tr)

    # empty batch: a no-op, not a corrupted roll
    append_dsir_layout(spark, rolled, odd.filter(F.lit(False)))
    assert snap(rolled) == snap(refit)

    import pytest as _pt
    with _pt.raises(ValueError, match="'raw' or 'target'"):
        append_dsir_layout(spark, rolled, q2, which="both")


def test_dsir_append_refuses_v1_and_recovers_interrupted_swap(
    spark, docs, tmp_path
):
    """Legacy v1 layouts (no stored histograms) still SCORE but refuse
    appends with a refit instruction; a driver crash between the
    append's two swap renames leaves either the complete tmp (the
    committed post-append state, markers included) or the complete bak
    (the intact original) — the next load finishes the swap."""
    import json
    import os
    import shutil

    import pytest as _pt

    from kowari_spark.fsutil import write_bytes
    from kowari_spark.operators.sampling import (
        append_dsir_layout,
        build_dsir_layout,
        dsir_score_against,
        load_dsir_layout,
    )

    target = docs.filter(F.col("lang") == "en")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)

    # v1 layout: ratios at the dir root, v1 sidecar (what r11 shipped)
    v2 = str(tmp_path / "dsir_v2")
    build_dsir_layout(even, target, v2)
    ratios, meta = load_dsir_layout(spark, v2)
    v1 = str(tmp_path / "dsir_v1")
    ratios.coalesce(1).write.parquet(v1)
    write_bytes(
        spark, f"{v1}/_dsir_meta.json",
        json.dumps(dict(meta, version="dsir-ratios-v1")).encode(),
    )
    a = sorted(map(tuple, dsir_score_against(spark, v1, odd).collect()))
    b = sorted(map(tuple, dsir_score_against(spark, v2, odd).collect()))
    assert a == b  # v1 still scores, identically
    with _pt.raises(ValueError, match="refit"):
        append_dsir_layout(spark, v1, odd)

    # interrupted swap, case 1: tmp complete, path gone -> tmp wins
    appended = str(tmp_path / "dsir_crash")
    build_dsir_layout(even, target, appended)
    append_dsir_layout(spark, appended, odd, which="raw")
    want = sorted(map(tuple, load_dsir_layout(spark, appended)[0].collect()))
    os.rename(appended, f"{appended}.__roll_tmp")
    got, _ = load_dsir_layout(spark, appended)
    assert sorted(map(tuple, got.collect())) == want
    assert not os.path.exists(f"{appended}.__roll_tmp")

    # case 2: no tmp, bak complete -> original restored
    os.rename(appended, f"{appended}.__roll_bak")
    got2, _ = load_dsir_layout(spark, appended)
    assert sorted(map(tuple, got2.collect())) == want
    shutil.rmtree(appended)


def test_stream_into_dsir_layout(spark, docs, tmp_path):
    """Drained micro-batches == one refit over everything; re-draining
    the same checkpoint is a no-op (the marker commits INSIDE the
    append's swap — exactly-once with no crash window)."""
    import os

    from kowari_spark.operators.sampling import (
        build_dsir_layout,
        load_dsir_layout,
    )
    from kowari_spark.streaming.ingest import stream_into_dsir_layout

    target = docs.filter(F.col("lang") == "en")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    path = str(tmp_path / "dsir_sink")
    build_dsir_layout(even, target, path)
    src = str(tmp_path / "dsir_src")
    odd.repartition(2).write.parquet(src)

    def drain():
        q = stream_into_dsir_layout(
            spark.readStream.schema(odd.schema).parquet(src),
            path, str(tmp_path / "dsir_ck"),
        )
        q.awaitTermination(120)

    drain()
    refit = str(tmp_path / "dsir_sink_all")
    build_dsir_layout(
        even.select("doc_id", "text").unionByName(odd), target, refit
    )
    want = sorted(map(tuple, load_dsir_layout(spark, refit)[0].collect()))
    got = sorted(map(tuple, load_dsir_layout(spark, path)[0].collect()))
    assert got == want
    markers = set(os.listdir(f"{path}/_batches"))
    drain()  # replay: markers gate the roll
    assert sorted(
        map(tuple, load_dsir_layout(spark, path)[0].collect())
    ) == want
    assert set(os.listdir(f"{path}/_batches")) == markers


def test_dsir_roll_replay_after_between_renames_crash(
    spark, docs, tmp_path
):
    """A crash BETWEEN the append swap's two renames (path already at
    ``.__roll_bak``, ``.__roll_tmp`` complete) followed by a sink
    replay must apply the batch EXACTLY once: the replayed append
    finishes the interrupted swap — which commits the batch AND its
    marker — then must return, not union the batch histogram in a
    second time (ADVICE r12, high)."""
    import os
    import shutil

    from kowari_spark.operators.sampling import (
        append_dsir_layout,
        build_dsir_layout,
        load_dsir_layout,
    )

    target = docs.filter(F.col("lang") == "en")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)

    pre = str(tmp_path / "dsir_pre")
    build_dsir_layout(even, target, pre)
    p = str(tmp_path / "dsir_crashwin")
    shutil.copytree(pre, p)
    append_dsir_layout(spark, p, odd, which="raw", _commit_marker="m0")
    want = sorted(map(tuple, load_dsir_layout(spark, p)[0].collect()))

    # reconstruct the exact between-renames crash state: the original
    # sits at bak, the COMPLETE post-append layout (marker inside) at
    # tmp, and path itself does not exist
    os.rename(p, f"{p}.__roll_tmp")
    shutil.copytree(pre, f"{p}.__roll_bak")
    assert not os.path.exists(p)

    # sink replay: path absent -> the marker check cannot see m0, so
    # the sink calls append again with the SAME batch and marker
    from kowari_spark.fsutil import exists

    assert not exists(spark, f"{p}/_batches/m0")
    append_dsir_layout(spark, p, odd, which="raw", _commit_marker="m0")

    got = sorted(map(tuple, load_dsir_layout(spark, p)[0].collect()))
    assert got == want  # applied once, not doubled
    assert [
        n for n in os.listdir(f"{p}/_batches") if not n.startswith(".")
    ] == ["m0"]
    assert not os.path.exists(f"{p}.__roll_tmp")
    assert not os.path.exists(f"{p}.__roll_bak")


def test_dsir_rebuild_clears_stale_markers_and_roll_siblings(
    spark, docs, tmp_path
):
    """build_dsir_layout over an existing layout path must clear stale
    ``_batches/`` markers and orphaned roll siblings: after a rebuild
    plus a checkpoint reset, replayed batch ids match the old markers
    and every batch would be silently skipped (ADVICE r12, low)."""
    import os
    import shutil

    from kowari_spark.operators.sampling import (
        build_dsir_layout,
        load_dsir_layout,
    )
    from kowari_spark.streaming.ingest import stream_into_dsir_layout

    target = docs.filter(F.col("lang") == "en")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    path = str(tmp_path / "dsir_rebuild")
    ck = str(tmp_path / "dsir_rebuild_ck")
    build_dsir_layout(even, target, path)
    src = str(tmp_path / "dsir_rebuild_src")
    odd.repartition(2).write.parquet(src)

    def drain():
        q = stream_into_dsir_layout(
            spark.readStream.schema(odd.schema).parquet(src), path, ck
        )
        q.awaitTermination(120)

    drain()
    assert os.listdir(f"{path}/_batches")  # markers exist pre-rebuild
    # plant orphaned roll siblings too: their sidecars would otherwise
    # win a future swap recovery and resurrect the pre-rebuild model
    shutil.copytree(path, f"{path}.__roll_tmp")
    shutil.copytree(path, f"{path}.__roll_bak")

    build_dsir_layout(even, target, path)  # rebuild, same path
    assert not os.path.exists(f"{path}/_batches")
    assert not os.path.exists(f"{path}.__roll_tmp")
    assert not os.path.exists(f"{path}.__roll_bak")

    shutil.rmtree(ck)  # checkpoint reset: batch ids replay from 0
    drain()  # must APPLY, not match stale markers and skip
    refit = str(tmp_path / "dsir_rebuild_refit")
    build_dsir_layout(
        even.select("doc_id", "text").unionByName(odd), target, refit
    )
    want = sorted(map(tuple, load_dsir_layout(spark, refit)[0].collect()))
    got = sorted(map(tuple, load_dsir_layout(spark, path)[0].collect()))
    assert got == want


def test_source_cap_keeps_best_per_group(spark):
    from kowari_spark.operators.sampling import source_cap

    rows = [
        # (doc_id, source, quality) — src 'a' has 4 docs, 'b' has 2
        (1, "a", 0.9), (2, "a", 0.5), (3, "a", 0.9), (4, "a", 0.1),
        (5, "b", 0.7), (6, "b", 0.8), (7, None, 0.3), (8, None, 0.2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, q double")
    out = source_cap(df, 2, order_by=F.desc("q"))
    by_src = {}
    for r in out.collect():
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    # best-two per source; q tie (docs 1,3) breaks on id ascending
    assert sorted(by_src["a"]) == [1, 3]
    assert sorted(by_src["b"]) == [5, 6]
    # a NULL source is a normal group (window partitioning semantics)
    assert sorted(by_src[None]) == [7, 8]
    # default order: id ascending (first-crawled wins)
    first = source_cap(df, 1)
    assert {r["doc_id"] for r in first.collect()} == {1, 5, 7}
    assert first.columns == df.columns  # rank column dropped

    import pytest as _pt
    with _pt.raises(ValueError, match="cap must be"):
        source_cap(df, 0)


def test_source_cap_partial_topk_below_exchange(spark):
    """InferWindowGroupLimit must push a PARTIAL top-cap below the
    shuffle: each map task ships <= cap rows per group, so the
    exchange is bounded by cap x |groups| per task — the reason the
    op survives a 100-TB corpus with hot domains."""
    from kowari_spark.operators.sampling import source_cap

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("source"),
    )
    plan = source_cap(df, 5)._jdf.queryExecution().executedPlan().toString()
    partial = plan.find("row_number(), 5, Partial")
    exch = plan.find("Exchange hashpartitioning(source")
    assert partial != -1 and exch != -1 and partial > exch, plan


def test_cluster_cap_caps_per_cell_most_central_first(spark):
    """cluster_cap == IVF assignment + per-cell source_cap: every cell
    keeps at most cap members and exactly the cap smallest
    centroid-distances (id tie-break); a fitted ivf is reused (no
    refit drift), an unfitted call fits internally."""
    import numpy as np

    from kowari_spark.operators.ivf import IVF
    from kowari_spark.operators.sampling import cluster_cap

    rng = np.random.default_rng(5)
    centers = np.array([[10.0, 0.0], [0.0, 10.0], [-10.0, -10.0]])
    rows = []
    for i in range(90):
        c = centers[i % 3]
        rows.append((i, [float(x) for x in c + rng.normal(0, 1.0, 2)]))
    df = spark.createDataFrame(rows, "vid long, emb array<double>")
    ivf = IVF(n_lists=3, seed=1).fit(df, id_col="vid", vec_col="emb")

    out = cluster_cap(
        df, 7, ivf=ivf, id_col="vid", vec_col="emb"
    ).collect()
    assert {r["vid"] for r in out} <= {r[0] for r in rows}
    by_cell: dict = {}
    for r in out:
        by_cell.setdefault(r["list_id"], []).append((r["dist"], r["vid"]))
    assert all(len(v) <= 7 for v in by_cell.values())
    # expected survivors: the 7 smallest (dist, vid) per cell over the
    # FULL assignment
    full: dict = {}
    for r in cluster_cap(
        df, 10**6, ivf=ivf, id_col="vid", vec_col="emb"
    ).collect():
        full.setdefault(r["list_id"], []).append((r["dist"], r["vid"]))
    for cell, kept in by_cell.items():
        assert sorted(kept) == sorted(full[cell])[:7], cell

    # unfitted path: fits internally, caps respected
    out2 = cluster_cap(df, 5, n_lists=3, id_col="vid", vec_col="emb")
    sizes = [r["n"] for r in out2.groupBy("list_id").agg(
        F.count("*").alias("n")).collect()]
    assert sizes and all(n <= 5 for n in sizes)


def test_dsir_remove_bit_identical_to_never_added(spark, docs, tmp_path):
    """remove_from_dsir_layout: build(a ∪ b) then remove(b) ==
    build(a) bit-for-bit (exact integer subtraction, zeroed buckets
    dropped, ratios rederived); removing a never-rolled batch that
    would drive counts negative refuses with no file touched."""
    import pytest as _pt

    from kowari_spark.operators.sampling import (
        build_dsir_layout,
        dsir_score_against,
        load_dsir_layout,
        remove_from_dsir_layout,
    )

    target = docs.filter(F.col("lang") == "en")
    a = docs.filter(F.col("doc_id") % 4 == 0)
    b = docs.filter(F.col("doc_id") % 4 == 2)
    odd = docs.filter(F.col("doc_id") % 2 == 1)

    ref = str(tmp_path / "dsir_only_a")
    build_dsir_layout(a, target, ref)
    full = str(tmp_path / "dsir_ab")
    build_dsir_layout(a.unionByName(b), target, full)
    remove_from_dsir_layout(spark, full, b, which="raw")

    def snap(p):
        ratios, _ = load_dsir_layout(spark, p)
        return sorted(map(tuple, ratios.collect()))

    assert snap(full) == snap(ref)
    got = sorted(map(tuple, dsir_score_against(spark, full, odd).collect()))
    want = sorted(map(tuple, dsir_score_against(spark, ref, odd).collect()))
    assert got == want

    # a batch never rolled in: some bucket count would go negative
    before = snap(full)
    with _pt.raises(ValueError, match="negative"):
        remove_from_dsir_layout(spark, full, odd, which="raw")
    assert snap(full) == before  # nothing was touched

    # target-side removal shares the body
    t_extra = docs.filter(F.col("lang") == "de")
    t_ref = str(tmp_path / "dsir_t_ref")
    build_dsir_layout(a, target, t_ref)
    t_full = str(tmp_path / "dsir_t_full")
    build_dsir_layout(a, target.unionByName(t_extra), t_full)
    remove_from_dsir_layout(spark, t_full, t_extra, which="target")
    assert snap(t_full) == snap(t_ref)


def test_temperature_sample_hash_and_exact(spark):
    """temperature_sample (round 14): alpha=1 keeps everything; alpha=0
    levels every group to ~the smallest's count (EXACTLY in exact
    mode); hash mode is deterministic and a subset of the input;
    exact mode hits round(frac*n) per group; best-first order_by keeps
    the top-quality rows; bad args refuse."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from kowari_spark.operators.sampling import temperature_sample

    df = (
        spark.range(1300)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < 1000, "big")
            .when(F.col("id") < 1250, "mid")
            .otherwise("small")
            .alias("lang"),
            (F.col("id") % 97).cast("double").alias("quality"),
        )
        .cache()
    )
    # alpha=1: identity (frac_g == 1.0 for every group)
    assert temperature_sample(df, 1.0, by="lang").count() == 1300

    # alpha=0 exact: every group levels to n_min (=50) exactly
    lev = temperature_sample(df, 0.0, by="lang", mode="exact")
    got = {r["lang"]: r["n"] for r in
           lev.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {"big": 50, "mid": 50, "small": 50}

    # hash mode: deterministic, a subset, counts near the target
    s1 = temperature_sample(df, 0.5, by="lang")
    s2 = temperature_sample(df, 0.5, by="lang")
    ids1 = {r["doc_id"] for r in s1.select("doc_id").collect()}
    assert ids1 == {r["doc_id"] for r in s2.select("doc_id").collect()}
    assert ids1 <= set(range(1300))
    import math
    cnt = {r["lang"]: r["n"] for r in
           s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for g, n in (("big", 1000), ("mid", 250), ("small", 50)):
        target = n * math.sqrt(50 / n)
        assert abs(cnt[g] - target) < 4 * math.sqrt(target) + 2, (g, cnt)

    # exact mode with order_by: the highest-quality rows survive
    ex = temperature_sample(
        df, 0.0, by="lang", mode="exact", order_by=F.desc("quality")
    )
    big_kept = [r["quality"] for r in
                ex.filter(F.col("lang") == "big").collect()]
    assert len(big_kept) == 50 and min(big_kept) >= 92.0

    # NULL group: rows lacking the key are a real group in BOTH modes
    # (hash mode joins null-safe; a plain equi-join would drop them)
    withnull = df.withColumn(
        "lang", F.when(F.col("doc_id") < 25, None).otherwise(F.col("lang"))
    )
    hs = temperature_sample(withnull, 1.0, by="lang")
    assert hs.count() == 1300  # alpha=1 keeps every row, null group too
    assert hs.filter(F.col("lang").isNull()).count() == 25
    ex0 = temperature_sample(withnull, 0.0, by="lang", mode="exact")
    assert ex0.filter(F.col("lang").isNull()).count() == 25  # n_min group

    with _pytest.raises(ValueError, match="alpha"):
        temperature_sample(df, -0.1, by="lang")
    with _pytest.raises(ValueError, match="mode"):
        temperature_sample(df, 0.5, by="lang", mode="rng")


def test_temperature_exact_two_phase_matches_single_window(spark):
    """Round 15 (VERDICT r14 #6): exact mode's default-order selection
    is two-phase distributed order statistics — membership must equal
    the reference single-window rank EXACTLY (same u-hash order, same
    id tie-break, same rounded targets) across alphas, with a dominant
    group, a NULL group, and a single-row group in play; and the only
    corpus rows that reach a ranking window are the boundary bucket's
    (plan-gated: the window's input carries the __bstar filter)."""
    from pyspark.sql.window import Window

    from kowari_spark.operators.sampling import (
        hash_uniform,
        temperature_sample,
    )

    df = (
        spark.range(4000)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < 3600, "big")      # dominant group (90%)
            .when(F.col("id") < 3950, "mid")
            .when(F.col("id") < 3999, None)        # NULL group
            .otherwise("one")                      # single-row group
            .alias("lang"),
        )
        .cache()
    )

    def reference(alpha):
        counts = df.groupBy("lang").agg(F.count("*").alias("__n"))
        cmin = counts.agg(
            F.min(F.pow(F.col("__n").cast("double"),
                        F.lit(1.0 - alpha))).alias("__C")
        )
        fr = counts.crossJoin(F.broadcast(cmin)).select(
            F.col("lang").alias("__g"), "__n",
            F.round(F.col("__C") * F.pow(F.col("__n").cast("double"),
                                         F.lit(alpha - 1.0)), 9,
                    ).alias("__frac"),
        )
        w = Window.partitionBy("lang").orderBy(
            hash_uniform("doc_id").asc(), F.col("doc_id").asc()
        )
        tgt = F.greatest(
            F.lit(1).cast("long"),
            F.round(F.col("__frac") * F.col("__n"), 0).cast("long"),
        )
        return (
            df.join(F.broadcast(fr), F.col("lang").eqNullSafe(F.col("__g")))
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= tgt)
            .select("doc_id")
        )

    for alpha in (0.0, 0.3, 0.7, 1.0):
        got = {
            r["doc_id"]
            for r in temperature_sample(
                df, alpha, by="lang", mode="exact"
            ).select("doc_id").collect()
        }
        want = {r["doc_id"] for r in reference(alpha).collect()}
        assert got == want, (alpha, len(got), len(want))

    plan = temperature_sample(
        df, 0.5, by="lang", mode="exact"
    )._jdf.queryExecution().executedPlan().toString()
    # the ranking window's input is the boundary-bucket slice, never
    # the whole corpus: the __bstar equality filter must be in-plan
    assert "__bstar" in plan and "row_number" in plan
