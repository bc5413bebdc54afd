"""Exact-substring span dedup (operators/spans.py)."""

import pytest
from pyspark.sql import functions as F

from kowari_spark.operators.spans import duplicate_spans, remove_duplicate_spans

L = 4  # min_len for the handcrafted corpus


@pytest.fixture(scope="module")
def corpus(spark):
    shared = "one two three four five six"  # 6-token run shared by 0 and 1
    rows = [
        (0, f"a b {shared} c d"),
        (1, f"x {shared} y z"),
        (2, "p q r s t u v w"),            # unique content, no dup span
        (3, "r1 r2 r3 r4 r1 r2 r3 r4"),    # within-doc repeat of a 4-gram
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_spans_detected_in_second_occurrence_only(corpus):
    spans = duplicate_spans(corpus, min_len=L).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0 holds the corpus-first occurrence -> clean; doc 1's copy is
    # the duplicate: tokens 1..6 = the shared 6-token run
    assert 0 not in by_doc and 2 not in by_doc
    (s1,) = by_doc[1]
    assert (s1["span_start"], s1["span_end"], s1["span_tokens"]) == (1, 6, 6)
    # doc 3's second 'r1 r2 r3 r4' duplicates its own first
    (s3,) = by_doc[3]
    assert (s3["span_start"], s3["span_end"]) == (4, 7)


def test_removal_keeps_first_occurrence(corpus):
    out = {r["doc_id"]: r for r in remove_duplicate_spans(corpus, min_len=L).collect()}
    assert len(out) == 4
    assert out[0]["clean_text"] == "a b one two three four five six c d"
    assert out[0]["removed_tokens"] == 0
    assert out[1]["clean_text"] == "x y z"
    assert out[1]["removed_tokens"] == 6
    assert out[2]["removed_tokens"] == 0
    assert out[3]["clean_text"] == "r1 r2 r3 r4"
    assert out[3]["n_tokens"] == 4


def test_adjacent_gram_runs_merge_into_one_span(spark):
    # two copies of an 8-token run: the duplicate side must report ONE
    # merged span of 8, not five overlapping 4-gram spans
    run = "m1 m2 m3 m4 m5 m6 m7 m8"
    df = spark.createDataFrame(
        [(0, run), (1, f"pad {run} tail")], "doc_id long, text string"
    )
    spans = duplicate_spans(df, min_len=L).collect()
    assert len(spans) == 1
    s = spans[0]
    assert s["doc_id"] == 1 and s["span_tokens"] == 8
    assert (s["span_start"], s["span_end"]) == (1, 8)


def test_whole_doc_removed_yields_empty_text(spark):
    df = spark.createDataFrame(
        [(0, "w1 w2 w3 w4"), (1, "w1 w2 w3 w4")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, min_len=L).collect()}
    assert out[0]["n_tokens"] == 4
    assert out[1]["clean_text"] == "" and out[1]["n_tokens"] == 0
    assert out[1]["removed_tokens"] == 4


def test_arrow_gram_engine_parity(spark, corpus, sf_dir, replay):
    """The mapInPandas gram hasher emits the same md5-prefix hashes
    the contract's DuckDB replay computes, so spans and rebuilt text
    match it exactly — handcrafted corpus AND the real documents
    table (the replay is fixed at the contract's min_len)."""
    import __spark_entry__ as entry

    L = entry._SPAN_L
    for df in (corpus, spark.read.parquet(f"{sf_dir}/documents.parquet")):
        pdf = df.toPandas()
        got = sorted(map(tuple, duplicate_spans(df, min_len=L).collect()))
        want = replay(entry._oracle_doc_dup_spans(), documents=pdf)
        assert got == sorted(map(tuple, want.itertuples(index=False)))
        got = sorted(map(tuple, remove_duplicate_spans(df, min_len=L).select(
            "doc_id", F.md5("clean_text"), "n_tokens", "removed_tokens",
        ).collect()))
        want = replay(entry._oracle_doc_despan(), documents=pdf)
        assert got == sorted(map(tuple, want.itertuples(index=False)))


def test_bad_engine_rejected(corpus):
    """One engine: there is no engine argument to pass."""
    with pytest.raises(TypeError, match="engine"):
        duplicate_spans(corpus, engine="arrow")
