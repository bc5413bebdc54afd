"""No size switch: PQ encode, repetition stats, decontamination and
span dedup each run one mapInPandas engine on a 50-row and a 1,500-row
corpus alike (either side of the old 1,000-row switch), and at both
sizes the output equals an independent reference — numpy argmin for
the PQ codes, the contract's DuckDB replay for the text operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, n):
    # 7 tokens per doc; the last token cycles mod 7, so whole texts,
    # 5-gram spans and eval-set matches repeat across documents
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a b c d e f "), (F.col("id") % 7).cast("string"))
        .alias("text"),
    ).cache()


@pytest.fixture(scope="module")
def big_docs(spark):
    return _docs(spark, 1500)


@pytest.fixture(scope="module")
def small_docs(spark):
    return _docs(spark, 50)


def test_pq_default_fit_takes_arrow_above_threshold(spark):
    """PQ() fit on a 1,200-row frame encodes through the arrow argmin
    for that frame and for a 40-row slice of it, and every code is the
    first-occurrence numpy argmin over the fitted codebooks."""
    from kowari_spark.operators.pq import PQ

    big = spark.range(1200).select(
        F.col("id"),
        F.array(*[(F.col("id") * (i + 1) % 97).cast("double")
                  for i in range(8)]).alias("embedding"),
    ).cache()
    pq = PQ(m=2, k_sub=4, max_iter=1, seed=42).fit(big, id_col="id", dim=8)
    small = big.filter(F.col("id") < 40).cache()
    for df in (big, small):
        coded = pq.with_codes(df)
        assert "MapInPandas" in _plan(coded)
        got = {r["id"]: list(r["codes"])
               for r in coded.select("id", "codes").collect()}
        rows = df.collect()
        assert len(got) == len(rows)
        for r in rows:
            v = np.asarray(r["embedding"], dtype=np.float64)
            want = [
                int(np.argmin(((pq.codebooks[j] - v[j * 4:(j + 1) * 4]) ** 2)
                              .sum(axis=1)))
                for j in range(2)
            ]
            assert got[r["id"]] == want, r["id"]


def test_repetition_auto_matches_both_engines(big_docs, small_docs, replay):
    import __spark_entry__ as entry
    from kowari_spark.operators.quality import repetition_stats

    for docs in (big_docs, small_docs):
        out = repetition_stats(docs, top_n=2, dup_n=5)
        assert "MapInPandas" in _plan(out)
        want = replay(entry._oracle_doc_repetition(), documents=docs.toPandas())
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, want.itertuples(index=False)))


def test_decontam_auto_dispatch(big_docs, small_docs, replay):
    import __spark_entry__ as entry
    from kowari_spark.operators.decontam import ngram_decontaminate

    for docs in (big_docs, small_docs):
        ev = docs.filter(F.col("doc_id") % 17 == 0)
        out = ngram_decontaminate(docs, ev, n=13)
        assert "MapInPandas" in _plan(out)
        got = sorted(map(tuple, out.collect()))
        want = replay(entry._oracle_doc_decontam(), documents=docs.toPandas())
        assert got == sorted(map(tuple, want.itertuples(index=False)))
        assert any(r[-1] for r in got)


def test_spans_auto_dispatch(big_docs, small_docs, replay):
    import __spark_entry__ as entry
    from kowari_spark.operators.spans import duplicate_spans

    for docs in (big_docs, small_docs):
        out = duplicate_spans(docs, min_len=entry._SPAN_L)
        assert "MapInPandas" in _plan(out)
        got = sorted(map(tuple, out.collect()))
        want = replay(entry._oracle_doc_dup_spans(), documents=docs.toPandas())
        assert got
        assert got == sorted(map(tuple, want.itertuples(index=False)))
