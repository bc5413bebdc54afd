"""Repetition quality filters (operators/quality.py): handcrafted
corpora pin both fractions (the synthetic documents table has no
repeated 5-grams, so the contract row alone never exercises the dup
branch)."""

import pytest

from kowari_spark.operators.quality import repetition_stats, word_ngrams


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            # "a b" x3, "b a" x2 -> top2 = 3/5; eight tokens of xy-cycle
            # -> four 5-grams, each appearing twice-ish (2+2) -> dup = 1
            (0, "a b a b a b"),
            (1, "x y x y x y x y"),
            # all-distinct tokens: top 2-gram is any (count 1) -> 1/6;
            # 5-grams all unique -> dup 0
            (2, "q w e r t y u"),
            # shorter than 5 tokens: no 5-grams -> dup 0.0
            (3, "just four small words"),
            # single token: no 2-grams either -> both 0.0
            (4, "one"),
        ],
        ["doc_id", "text"],
    )


def test_word_ngrams_counts_not_distinct(spark, docs):
    from pyspark.sql import functions as F

    row = (
        docs.filter(F.col("doc_id") == 0)
        .select(word_ngrams("text", 2).alias("g"))
        .first()
    )
    assert row["g"] == ["a b", "b a", "a b", "b a", "a b"]
    short = (
        docs.filter(F.col("doc_id") == 4)
        .select(word_ngrams("text", 2).alias("g"))
        .first()
    )
    assert short["g"] == []


def test_repetition_fractions(spark, docs):
    got = {
        r["doc_id"]: (r["top2gram_frac"], r["dup5gram_frac"])
        for r in repetition_stats(docs).collect()
    }
    # doc 0's two 5-grams ("a b a b a" / "b a b a b") are distinct, so
    # even the maximally repetitive bigram doc has dup5 = 0
    assert got[0] == (pytest.approx(0.6), 0.0)
    assert got[1] == (pytest.approx(round(4 / 7, 6)), pytest.approx(1.0))
    assert got[2] == (pytest.approx(round(1 / 6, 6)), 0.0)
    assert got[3] == (pytest.approx(round(1 / 3, 6)), 0.0)
    assert got[4] == (0.0, 0.0)
    assert len(got) == 5  # one row per input doc, short docs included


def test_parameter_validation(spark, docs):
    with pytest.raises(ValueError, match="top_n"):
        repetition_stats(docs, top_n=5, dup_n=5)


def test_arrow_engine_parity(spark, docs, sf_dir, replay):
    """The shuffle-free mapInPandas pass reproduces the contract's
    DuckDB replay bit-for-bit — handcrafted dup corpus AND the real
    documents table (tokenization, short-doc and HALF_UP rounding
    semantics)."""
    import __spark_entry__ as entry

    real = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (docs, real):
        got = sorted(map(tuple, repetition_stats(df, top_n=2, dup_n=5).collect()))
        want = replay(entry._oracle_doc_repetition(), documents=df.toPandas())
        assert got == sorted(map(tuple, want.itertuples(index=False)))


def test_arrow_engine_plan_is_shuffle_free(spark, docs):
    plan = (
        repetition_stats(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_engine_validation(docs):
    """One engine: there is no engine argument to pass."""
    with pytest.raises(TypeError, match="engine"):
        repetition_stats(docs, engine="arrow")


# -- corpus heavy hitters ----------------------------------------------------

def test_top_ngrams_counts_and_order(spark):
    from kowari_spark.operators.quality import top_ngrams

    rows = [
        (0, "a b a b a b"),   # "a b" x3, "b a" x2
        (1, "a b c"),         # "a b", "b c"
        (2, "x"),             # too short: no bigram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = top_ngrams(df, n=2, k=10).collect()
    assert [r["gram"] for r in out[:2]] == ["a b", "b a"]
    top = out[0]
    assert top["occurrences"] == 4 and top["n_docs"] == 2
    # ties (occurrences=1) break on the gram string
    one = [r["gram"] for r in out if r["occurrences"] == 1]
    assert one == sorted(one)


def test_top_ngrams_is_take_ordered(spark):
    from kowari_spark.operators.quality import top_ngrams

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = top_ngrams(df, 2, 5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_unigram_surprisal_ranks_gibberish_below_typical(spark):
    from kowari_spark.operators.quality import unigram_surprisal

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat on the mat"),
        (2, "zq xv jk wp qq zz"),  # every token unique to this doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in unigram_surprisal(df).collect()}
    assert out[0]["n_tokens"] == 6
    # docs built from common tokens score strictly higher than the
    # all-rare-token doc
    assert out[0]["mean_logprob"] > out[2]["mean_logprob"]
    assert out[1]["mean_logprob"] > out[2]["mean_logprob"]
    # identical token multiset -> identical score
    df2 = spark.createDataFrame(
        [(0, "mat the on sat cat the")] + rows[1:], "doc_id long, text string"
    )
    out2 = {r["doc_id"]: r for r in unigram_surprisal(df2).collect()}
    assert out2[0]["mean_logprob"] == out[0]["mean_logprob"]


def test_surprisal_buckets_exact_and_approx(spark, sf_dir):
    """Exact mode: per-stratum equal-count (±1) head/middle/tail by
    fluency, deterministic; approx mode agrees except near the
    percentile boundaries; NULL-text docs get no bucket."""
    from kowari_spark.operators.quality import surprisal_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    out = surprisal_buckets(docs, strata_col="lang").collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        counts = {}
        for r in rows:
            counts[r["bucket"]] = counts.get(r["bucket"], 0) + 1
        assert set(counts) <= {"head", "middle", "tail"}
        if len(rows) >= 3:
            assert max(counts.values()) - min(counts.values()) <= 1, lang
        # head rows are at least as fluent as tail rows
        h = [r["mean_logprob"] for r in rows if r["bucket"] == "head"]
        t = [r["mean_logprob"] for r in rows if r["bucket"] == "tail"]
        if h and t:
            assert min(h) >= max(t), lang
    # deterministic
    again = surprisal_buckets(docs, strata_col="lang").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))

    # approx path: same schema, buckets only differ near boundaries —
    # every disagreement sits between the exact neighbors' scores
    ap = {
        r["doc_id"]: r["bucket"]
        for r in surprisal_buckets(
            docs, strata_col="lang", mode="approx"
        ).collect()
    }
    ex = {r["doc_id"]: r["bucket"] for r in out}
    assert set(ap) == set(ex)
    agree = sum(1 for d in ex if ap[d] == ex[d]) / len(ex)
    assert agree > 0.8  # boundary-only disagreement

    nulls = spark.createDataFrame(
        [(1, "a b c", "en"), (2, None, "en"), (3, "d e", "en"),
         (4, "f g h", "en")],
        "doc_id long, text string, lang string",
    )
    got = surprisal_buckets(nulls, strata_col="lang").collect()
    assert {r["doc_id"] for r in got} == {1, 3, 4}

    import pytest as _pt
    with _pt.raises(ValueError, match="mode must be"):
        surprisal_buckets(docs, mode="fast")
    with _pt.raises(ValueError, match="two bucket"):
        surprisal_buckets(docs, names=("only",))


def test_surprisal_buckets_null_strata_and_no_strata(spark):
    """A NULL stratum is a normal group in BOTH modes (the approx
    boundary join is null-safe), and the strata-less paths (global
    window / crossJoin-broadcast boundaries) bucket every doc."""
    from kowari_spark.operators.quality import surprisal_buckets

    rows = [
        (1, "a b c a b", "en"), (2, "a b", None), (3, "d e a", "en"),
        (4, "f g h a b", None), (5, "a a b b", None), (6, "c d e", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    ids = {r[0] for r in rows}
    for mode in ("exact", "approx"):
        got = surprisal_buckets(docs, strata_col="lang", mode=mode).collect()
        assert {r["doc_id"] for r in got} == ids, mode
        null_buckets = {r["bucket"] for r in got if r["lang"] is None}
        assert null_buckets <= {"head", "middle", "tail"} and null_buckets
        # strata-less: one global ranking, every doc bucketed
        flat = surprisal_buckets(docs, mode=mode).collect()
        assert {r["doc_id"] for r in flat} == ids, mode
        assert "lang" not in flat[0].asDict()


def test_vocab_stats_hand_computed(spark):
    """vocab_stats (round 14): counts/types/hapax/ttr pinned on a
    hand-computable corpus, per-group and corpus-wide."""
    from kowari_spark.operators.quality import vocab_stats

    df = spark.createDataFrame(
        [
            (0, "a b b c", "g1"),   # tokens: a,b,b,c
            (1, "c d", "g1"),       # g1: 6 tokens, types {a,b,c,d},
            #                          hapax {a,d} -> 0.5, ttr 4/6
            (2, "x x", "g2"),       # g2: 2 tokens, 1 type, 0 hapax
        ],
        "doc_id long, text string, g string",
    )
    per = {r["g"]: r for r in vocab_stats(df, by="g").collect()}
    assert per["g1"]["n_tokens"] == 6 and per["g1"]["n_types"] == 4
    assert per["g1"]["hapax_frac"] == 0.5
    assert per["g1"]["ttr"] == round(4 / 6, 9)
    assert per["g2"]["n_tokens"] == 2 and per["g2"]["n_types"] == 1
    assert per["g2"]["hapax_frac"] == 0.0 and per["g2"]["ttr"] == 0.5
    whole = vocab_stats(df).collect()[0]
    # corpus-wide: 8 tokens, types {a,b,c,d,x}=5, hapax {a,d}=2
    assert whole["n_tokens"] == 8 and whole["n_types"] == 5
    assert whole["hapax_frac"] == 0.4 and whole["ttr"] == round(5 / 8, 9)
