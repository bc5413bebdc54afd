"""Property-based checks (SURVEY.md §5.2 item 7 — absent in the
reference, declared as our addition): metric laws verified on
hypothesis-generated vectors through the REAL Spark expressions.

One Spark job per property: hypothesis builds a batch of vector triples,
the property is asserted row-wise over the whole batch.
"""

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from kowari_spark.functions.vector import (
    cosine_similarity,
    euclidean_distance,
    magnitude,
    manhattan_distance,
    normalize,
)

DIM = 6
finite = st.floats(
    min_value=-1e3, max_value=1e3, allow_nan=False, allow_infinity=False, width=32
)
vec = st.lists(finite, min_size=DIM, max_size=DIM)
triples = st.lists(st.tuples(vec, vec, vec), min_size=1, max_size=8)


def _df(spark, batch):
    return spark.createDataFrame(
        [(list(a), list(b), list(c)) for a, b, c in batch],
        f"a array<double>, b array<double>, c array<double>",
    )


@settings(max_examples=5, deadline=None)
@given(batch=triples)
def test_cosine_symmetry_and_bounds(spark, batch):
    rows = _df(spark, batch).select(
        cosine_similarity("a", "b").alias("ab"),
        cosine_similarity("b", "a").alias("ba"),
    ).collect()
    for r in rows:
        assert r["ab"] == pytest.approx(r["ba"], abs=1e-9)
        assert -1.0 - 1e-9 <= r["ab"] <= 1.0 + 1e-9


@settings(max_examples=5, deadline=None)
@given(batch=triples, scale=st.floats(min_value=1e-3, max_value=1e3))
def test_cosine_scale_invariance(spark, batch, scale):
    df = _df(spark, batch).withColumn(
        "sa", F.transform("a", lambda x: x * F.lit(float(scale)))
    )
    rows = df.select(
        cosine_similarity("a", "b").alias("ab"),
        cosine_similarity("sa", "b").alias("sab"),
        magnitude("a").alias("ma"),
    ).collect()
    for r in rows:
        if r["ma"] > 1e-6:  # scaling a zero vector stays zero -> both 0.0
            assert r["sab"] == pytest.approx(r["ab"], abs=1e-6)


@settings(max_examples=5, deadline=None)
@given(batch=triples)
def test_euclidean_triangle_inequality(spark, batch):
    rows = _df(spark, batch).select(
        euclidean_distance("a", "b").alias("ab"),
        euclidean_distance("a", "c").alias("ac"),
        euclidean_distance("c", "b").alias("cb"),
    ).collect()
    for r in rows:
        assert r["ab"] <= r["ac"] + r["cb"] + 1e-6


@settings(max_examples=5, deadline=None)
@given(batch=triples)
def test_manhattan_symmetry_and_dominates_euclidean(spark, batch):
    rows = _df(spark, batch).select(
        manhattan_distance("a", "b").alias("m_ab"),
        manhattan_distance("b", "a").alias("m_ba"),
        euclidean_distance("a", "b").alias("e_ab"),
    ).collect()
    for r in rows:
        assert r["m_ab"] == pytest.approx(r["m_ba"], abs=1e-9)
        assert r["m_ab"] >= r["e_ab"] - 1e-6  # L1 >= L2 always


@settings(max_examples=5, deadline=None)
@given(batch=triples)
def test_normalize_is_unit_or_zero(spark, batch):
    rows = _df(spark, batch).select(
        magnitude("a").alias("m"),
        magnitude(normalize("a")).alias("nm"),
    ).collect()
    for r in rows:
        if r["m"] == 0.0:
            assert r["nm"] == 0.0
        else:
            assert r["nm"] == pytest.approx(1.0, abs=1e-9)


# -- round-6 operator properties ---------------------------------------------

words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
    min_size=1, max_size=20,
)
docs_strategy = st.lists(words, min_size=1, max_size=8)


@settings(max_examples=5, deadline=None)
@given(batch=docs_strategy)
def test_decontam_self_eval_is_total(spark, batch):
    """Any corpus decontaminated against ITSELF is fully contaminated:
    every document's grams are in the eval set by construction."""
    from kowari_spark.operators.decontam import ngram_decontaminate

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(batch)],
        "doc_id long, text string",
    )
    out = ngram_decontaminate(df, df, n=3).collect()
    assert all(r["is_contaminated"] for r in out)
    assert all(r["contam_frac"] == 1.0 for r in out)


@settings(max_examples=5, deadline=None)
@given(batch=docs_strategy)
def test_decontam_engines_agree(spark, batch):
    """The operator agrees with a by-hand reference: distinct word
    3-grams (whole-text fallback below 3 tokens) matched on their
    md5-prefix hashes, fraction rounded HALF_UP to 6 decimals."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    from kowari_spark.operators.decontam import ngram_decontaminate

    rows = [(i, " ".join(ws)) for i, ws in enumerate(batch)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ev = df.filter(F.col("doc_id") % 2 == 0)

    def hashes(text):
        toks = text.split(" ")
        grams = ({" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
                 if len(toks) >= 3 else {text})
        return {int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams}

    ev_h = set().union(*(hashes(t) for i, t in rows if i % 2 == 0))
    want = []
    for i, t in rows:
        hs = hashes(t)
        c = len(hs & ev_h)
        frac = float(Decimal(c / len(hs)).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP))
        want.append((i, c, len(hs), frac, c > 0))
    got = sorted(map(tuple, ngram_decontaminate(df, ev, n=3).collect()))
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    counts=st.dictionaries(
        st.sampled_from(["a", "b", "c"]), st.integers(1, 40),
        min_size=2, max_size=3,
    ),
    weights=st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.floats(0.1, 1.0, allow_nan=False),
        min_size=2, max_size=3,
    ),
)
def test_mixture_rates_laws(spark, counts, weights):
    """Rates are in (0, 1], the scarcest-demand stratum is used in
    full, and expected kept counts hit the target ratios."""
    from kowari_spark.operators.sampling import mixture_rates

    rows, i = [], 0
    for s, c in counts.items():
        for _ in range(c):
            rows.append((i, s))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = {r["stratum"]: r for r in mixture_rates(df, "lang", weights).collect()}
    present = set(counts) & set(weights)
    assert set(got) == present
    lam = min(counts[s] / weights[s] for s in present)
    for s in present:
        r = got[s]["rate"]
        assert 0.0 < r <= 1.0
        # expected kept = lam * w_s (the target mixture share)
        assert math.isclose(r * counts[s], lam * weights[s], rel_tol=1e-9)
    assert any(math.isclose(got[s]["rate"], 1.0) for s in present)


@settings(max_examples=5, deadline=None)
@given(batch=docs_strategy)
def test_bm25_scores_positive_and_ranked(spark, batch):
    from kowari_spark.operators.search import bm25_search

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(batch)],
        "doc_id long, text string",
    )
    out = bm25_search(df, "alpha beta", k=10).collect()
    scores = [r["bm25"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    # only documents containing a query term appear
    matching = {
        i for i, ws in enumerate(batch) if {"alpha", "beta"} & set(ws)
    }
    assert {r["doc_id"] for r in out} <= matching


@settings(max_examples=40, deadline=None)
@given(t=st.floats(min_value=0.05, max_value=0.95))
def test_minhash_banding_midpoint_tracks_threshold(t):
    """Property: for any threshold, the derived banding's S-curve
    midpoint lands near it, the grid constraints hold, and the curve
    discriminates (P well below 0.5 a fifth under the threshold, well
    above an equal distance over it, within curve resolution)."""
    from kowari_spark.operators.dedup import (
        lsh_match_probability,
        minhash_banding,
    )

    nh, b = minhash_banding(t)
    assert nh % b == 0 and nh <= 128 and b >= 2 and nh // b >= 2
    mid = (1.0 / b) ** (b / nh)  # (1/b)^(1/r)
    assert abs(mid - t) < 0.08
    below = lsh_match_probability(max(t - 0.2, 0.0), nh, b)
    above = lsh_match_probability(min(t + 0.2, 1.0), nh, b)
    assert below < above
    # at the midpoint itself, P = 1-(1-1/b)^b in (0.5, 1-1/e+0.26)
    pm = lsh_match_probability(mid, nh, b)
    assert 0.4 < pm < 0.95
