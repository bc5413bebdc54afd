"""Benchmark decontamination (operators/decontam.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from kowari_spark.operators.decontam import ngram_decontaminate


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        # 15 tokens: contains the eval 13-gram "a b c d e f g h i j k l m"
        (0, "x a b c d e f g h i j k l m y"),
        # clean 15-token doc, no overlap
        (1, "p q r s t u v w z aa bb cc dd ee ff"),
        # exact copy of the short eval prompt (5 tokens -> fallback gram)
        (2, "short prompt to match here"),
        # short doc, no overlap
        (3, "another tiny clean doc"),
        # shares 12-gram but NOT 13-gram with the eval doc -> clean at n=13
        (4, "x a b c d e f g h i j k l zz y"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def eval_set(spark):
    rows = [
        (100, "a b c d e f g h i j k l m"),  # exactly one 13-gram
        (101, "short prompt to match here"),  # 5 tokens -> whole-text gram
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_flags_only_overlapping_docs(corpus, eval_set):
    out = {
        r["doc_id"]: r
        for r in ngram_decontaminate(corpus, eval_set, n=13).collect()
    }
    assert out[0]["is_contaminated"] and out[0]["contam_grams"] == 1
    assert not out[1]["is_contaminated"] and out[1]["contam_grams"] == 0
    # short-doc fallback: exact copy of a short eval prompt is caught...
    assert out[2]["is_contaminated"] and out[2]["contam_frac"] == 1.0
    # ...but an unrelated short doc is not
    assert not out[3]["is_contaminated"]
    # a 12-gram overlap does not trip the 13-gram filter
    assert not out[4]["is_contaminated"]
    # doc 0 has 15 tokens -> 3 distinct 13-grams, 1 contaminated
    assert out[0]["total_grams"] == 3 and out[0]["contam_frac"] == 0.333333


def test_one_row_per_doc_and_self_contamination(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eval_df = docs.filter(F.col("doc_id") % 17 == 0)
    out = ngram_decontaminate(docs, eval_df, n=13)
    assert out.count() == docs.count()
    # every eval member is fully self-contaminated
    flagged = out.filter(F.col("doc_id") % 17 == 0)
    assert flagged.filter(~F.col("is_contaminated")).count() == 0
    assert flagged.filter(F.col("contam_frac") != 1.0).count() == 0


def test_eval_side_is_broadcast_semi_join(corpus, eval_set):
    """The eval gram hashes reach the workers as a broadcast variable:
    the corpus side is one MapInPandas pass with no join at all."""
    plan = ngram_decontaminate(corpus, eval_set, n=13)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Join" not in plan


def test_matches_duckdb_oracle(spark, corpus, eval_set):
    """Cross-engine pin on the handcrafted corpus (the contract row pins
    the real documents table at sf0.01)."""
    sql_hash = "(('0x' || substring(md5({s}), 1, 15))::BIGINT)"
    grams = (
        "SELECT doc_id, CASE WHEN len(t) >= 13 THEN "
        "list_transform(range(1, len(t) - 11), i -> "
        + " || ' ' || ".join(f"t[i+{j}]" for j in range(13))
        + ") ELSE [text] END AS gs "
        "FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM {src})"
    )
    q = f"""
WITH eg AS (SELECT DISTINCT {sql_hash.format(s='g')} AS h
            FROM (SELECT unnest(gs) AS g FROM ({grams.format(src='ev')}))),
dg AS (SELECT doc_id, {sql_hash.format(s='g')} AS h
       FROM (SELECT doc_id, unnest(list_distinct(gs)) AS g
             FROM ({grams.format(src='co')}))),
tot AS (SELECT doc_id, COUNT(*) AS total_grams FROM dg GROUP BY 1),
mat AS (SELECT doc_id, COUNT(*) AS contam_grams FROM dg
        WHERE h IN (SELECT h FROM eg) GROUP BY 1)
SELECT c.doc_id, COALESCE(contam_grams, 0) AS contam_grams,
       COALESCE(total_grams, 0) AS total_grams
FROM co c LEFT JOIN tot USING (doc_id) LEFT JOIN mat USING (doc_id)
ORDER BY doc_id
"""
    con = duckdb.connect()
    con.register("co", corpus.toPandas())
    con.register("ev", eval_set.toPandas())
    expected = con.execute(q).df()
    got = (
        ngram_decontaminate(corpus, eval_set, n=13)
        .select("doc_id", "contam_grams", "total_grams")
        .orderBy("doc_id")
        .toPandas()
    )
    assert got.astype("int64").values.tolist() == expected.astype("int64").values.tolist()


def test_arrow_engine_parity(spark, corpus, sf_dir, replay):
    """The mapInPandas pass reproduces the contract's DuckDB replay
    bit-for-bit, every column (IEEE division + HALF_UP rounding) — on
    the handcrafted corpus (short-doc fallback grams, 12-vs-13-gram
    near miss) AND the real documents table."""
    import __spark_entry__ as entry

    real = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for docs in (corpus, real):
        ev = docs.filter(F.col("doc_id") % 17 == 0)
        got = sorted(map(tuple, ngram_decontaminate(docs, ev, n=13).collect()))
        want = replay(entry._oracle_doc_decontam(), documents=docs.toPandas())
        assert got == sorted(map(tuple, want.itertuples(index=False)))


def test_arrow_engine_is_shuffle_free(corpus, eval_set):
    plan = (
        ngram_decontaminate(corpus, eval_set, n=13)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_bad_engine_rejected(corpus, eval_set):
    """One engine: there is no engine argument to pass."""
    with pytest.raises(TypeError, match="engine"):
        ngram_decontaminate(corpus, eval_set, engine="arrow")


def test_semantic_decontaminate_catches_paraphrase(spark):
    """The embedding path flags a token-REORDERED copy of an eval doc
    (identical token multiset -> cosine 1.0) that shares no 13-gram;
    clean docs score below; every input doc gets exactly one row."""
    from kowari_spark.operators.decontam import (
        ngram_decontaminate,
        semantic_decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            # same multiset as the eval doc, different order — the
            # paraphrase ngram overlap misses
            (0, "m l k j i h g f e d c b a"),
            (1, "entirely different clean words here nothing shared"),
            (2, "a b c unrelated tail of mostly other tokens q r s"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "a b c d e f g h i j k l m")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           semantic_decontaminate(corpus, ev, 0.9).collect()}
    assert len(out) == 3
    assert out[0]["max_eval_cos"] == 1.0 and out[0]["is_contaminated"]
    assert not out[1]["is_contaminated"]
    assert out[1]["max_eval_cos"] < 0.9
    # the 13-gram filter misses the reorder — the two ops are companions
    ng = {r["doc_id"]: r["is_contaminated"]
          for r in ngram_decontaminate(corpus, ev).collect()}
    assert not ng[0]

    # eval set collected once: the corpus is scored batch-wise in
    # Python, never cross-joined against the eval relation
    plan = (semantic_decontaminate(corpus, ev, 0.9)
            ._jdf.queryExecution().executedPlan().toString())
    assert "MapInPandas" in plan and "NestedLoopJoin" not in plan


def test_semantic_decontaminate_engines_bit_identical(spark, sf_dir, replay):
    """GEMM select + exact fold rescore returns EXACTLY the contract's
    DuckDB replay on the real table — rounded max cosines equal to the
    last bit; an empty eval set leaves everything clean."""
    import __spark_entry__ as entry
    from kowari_spark.operators.decontam import semantic_decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    got = sorted(map(tuple, semantic_decontaminate(docs, ev, 0.98).collect()))
    want = replay(entry._oracle_doc_semantic_decontam())
    assert got == sorted(map(tuple, want.itertuples(index=False)))
    assert len(got) == docs.count()

    empty = ev.filter(F.lit(False))
    got = semantic_decontaminate(docs.limit(5), empty, 0.5).collect()
    assert len(got) == 5 and all(
        r["max_eval_cos"] == 0.0 and not r["is_contaminated"] for r in got)


def test_semantic_arrow_rescore_keeps_negative_maxima(spark):
    """The arrow helper's exact rescore must carry a NEGATIVE max cosine
    (signed embeddings whose best eval match is still anti-aligned) —
    initializing the running max at 0.0 would clamp it and silently
    break the bit-identical claim for any signed-embedding reuse
    (ADVICE r11). Compared against the SQL cosine expression directly."""
    from kowari_spark.operators.decontam import _max_eval_cos
    from kowari_spark.functions.vector import cosine_similarity

    # every doc embedding is anti-aligned with every eval vector
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0, -1.0]), (2, [-3.0, 0.5, 2.0]), (3, [0.0, 0.0, 0.0])],
        "doc_id long, embedding array<double>",
    )
    ev = spark.createDataFrame(
        [([-1.0, -2.0, 1.0],), ([-2.0, -3.0, 0.0],)],
        "__ev array<double>",
    )
    got = sorted(map(tuple, _max_eval_cos(emb, ev, "doc_id", 6).collect()))
    cos = F.round(
        cosine_similarity(F.col("embedding"), F.col("__ev")), 6
    ) + F.lit(0.0)
    want = sorted(map(tuple, emb.crossJoin(F.broadcast(ev)).groupBy(
        "doc_id").agg(F.max(cos).alias("max_eval_cos")).collect()))
    assert got == want
    by_id = dict(got)
    # doc 1 is anti-aligned with BOTH eval vectors — its true max is
    # negative and must survive the rescore un-clamped
    assert by_id[1] < -0.5
    assert by_id[3] == 0.0  # zero-norm doc stays at the 0.0 guard


def test_embedding_decontaminate_pre_embedded(spark):
    """embedding_decontaminate over corpora that already carry vectors
    (the Collection-surface decontamination path): signed embeddings
    flag on max cosine, and composing it with hashed_embeddings
    reproduces semantic_decontaminate."""
    from kowari_spark.functions.text import hashed_embeddings
    from kowari_spark.operators.decontam import (
        embedding_decontaminate,
        semantic_decontaminate,
    )

    emb = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [-1.0, 0.0]), ("c", [0.0, 1.0])],
        "id string, embedding array<double>",
    )
    ev = spark.createDataFrame(
        [([-1.0, 0.0],)], "embedding array<double>"
    )
    rows = {r["id"]: (r["max_eval_cos"], r["is_contaminated"])
            for r in embedding_decontaminate(emb, ev, 0.5).collect()}
    # 'a' is anti-aligned: max stays NEGATIVE (un-clamped), clean;
    # 'b' aligned: contaminated; 'c' orthogonal: 0.0, clean
    assert rows["a"] == (-1.0, False)
    assert rows["b"] == (1.0, True)
    assert rows["c"] == (0.0, False)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon"), (3, None)],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [("alpha beta gamma",)], "text string"
    )
    want = sorted(map(tuple, semantic_decontaminate(
        docs, eval_df, 0.9).collect()))
    demb = hashed_embeddings(docs, "text", "doc_id", 32)
    devs = hashed_embeddings(
        eval_df, "text", id_col="text", dim=32
    ).select("embedding")
    got = sorted(map(tuple,
        docs.select("doc_id").join(
            embedding_decontaminate(
                demb, devs, 0.9, id_col="doc_id"
            ), "doc_id", "left",
        ).select(
            "doc_id",
            F.coalesce("max_eval_cos", F.lit(0.0)).alias("max_eval_cos"),
            F.coalesce("is_contaminated", F.lit(False)).alias(
                "is_contaminated"),
        ).collect()))
    assert got == want


def test_embedding_decontaminate_degraded_rows(spark):
    """Pre-embedded corpora carry arbitrary user vectors: NULL or
    dimension-mismatched rows must score 0.0 (the SQL cosine's
    zip_with null-padding semantics), not crash the numpy stack;
    null/ragged EVAL vectors refuse with a clear error."""
    import pytest as _pt

    from kowari_spark.operators.decontam import embedding_decontaminate

    emb = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", None), ("c", [1.0, 0.0, 5.0]),
         ("d", [None, 1.0])],
        "id string, embedding array<double>",
    )
    ev = spark.createDataFrame([([1.0, 0.0],)], "embedding array<double>")
    rows = {r["id"]: (r["max_eval_cos"], r["is_contaminated"])
            for r in embedding_decontaminate(emb, ev, 0.5).collect()}
    assert rows["a"] == (1.0, True)
    assert rows["b"] == (0.0, False)   # NULL vector
    assert rows["c"] == (0.0, False)   # dim mismatch
    assert rows["d"] == (0.0, False)   # null ELEMENT

    bad_evs = (
        spark.createDataFrame(
            [([1.0, 0.0],), (None,)], "embedding array<double>"),
        spark.createDataFrame(
            [([1.0, 0.0],), ([1.0, 0.0, 3.0],)], "embedding array<double>"),
    )
    for bev in bad_evs:
        with _pt.raises(ValueError, match="share one dimension"):
            embedding_decontaminate(emb, bev, 0.5).collect()
