"""Repetition-based quality filters for training-data pipelines.

Beyond-reference surface (task north star): the Gopher-style repetition
signals used to drop low-quality / boilerplate documents from
pretraining corpora (Rae et al., "Scaling Language Models: Methods,
Analysis & Insights from Training Gopher", 2021, §A1.1 — fraction of
content in the most common n-gram, fraction in duplicated n-grams).

Spark-first shape: per-document repetition is row-local, so
:func:`repetition_stats` counts each document's n-grams inside one
``mapInPandas`` pass with zero shuffles. Corpus-level n-gram views
(:func:`top_ngrams`) generate grams with native array expressions (no
UDF), explode once and count with a ``groupBy`` whose map-side partial
aggregates keep the shuffle skinny. Every step is integer counting over
the single-space tokenization, so each operator has an exact ANSI-SQL
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kowari_spark.functions.text import _c, tokens


def word_ngrams(text, n: int) -> Column:
    """Non-distinct word n-grams, order preserved (COUNTS matter here —
    ``functions.text.shingles`` dedupes, which is right for Jaccard and
    wrong for frequency counts). Docs shorter than ``n`` tokens yield an
    empty array (explode drops them; callers re-attach with a left
    join)."""
    toks = tokens(_c(text))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    # guard: sequence(1, x) with x < 1 counts DOWN in Spark
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def vocab_stats(
    df: DataFrame,
    text_col: str = "text",
    by: str | None = None,
) -> DataFrame:
    """Corpus vocabulary statistics — the tokenizer-sizing / drift
    telemetry view: per corpus (or per ``by`` group) token count, type
    (distinct-token) count, hapax fraction (types occurring once — the
    long-tail mass a BPE vocabulary cap truncates), and type-token
    ratio. A drifting hapax_frac between crawl snapshots is the
    classic early signal of a source-mix or boilerplate change.

    Shape: one explode into (group?, token) then a two-level
    aggregation — per-token counts first (the shuffle carries one row
    per DISTINCT (group, token) after map-side partial aggregation,
    never per occurrence), then the group fold. Ratios round to 9
    decimals (oracle-exact: counts are integers, one IEEE divide).
    Output: (by?..., n_tokens, n_types, hapax_frac, ttr)."""
    from kowari_spark.fsutil import scan_parallelism

    gcols = [by] if by else []
    # few-split scans serialize the token explode (guide §2.5)
    tok = scan_parallelism(df.select(*gcols, text_col)).select(
        *gcols, F.explode(tokens(F.col(text_col))).alias("__t")
    )
    per_tok = tok.groupBy(*gcols, "__t").agg(F.count("*").alias("__c"))
    agg = per_tok.groupBy(*gcols).agg(
        F.sum("__c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).alias("__hapax"),
    )
    return agg.select(
        *gcols,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        (
            F.round(
                F.col("__hapax").cast("double") / F.col("n_types"), 9
            ) + F.lit(0.0)
        ).alias("hapax_frac"),
        (
            F.round(
                F.col("n_types").cast("double") / F.col("n_tokens"), 9
            ) + F.lit(0.0)
        ).alias("ttr"),
    )


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level heavy hitters: the ``k`` most frequent word
    ``n``-grams with their occurrence and document counts — the
    boilerplate-discovery / contamination-triage view of a corpus
    ("which exact phrases dominate my crawl?").

    Shape: one explode, one ``groupBy(gram)`` whose shuffle carries
    partial (count, distinct-doc) aggregates — the distinct-doc side
    pre-reduces per (gram, doc) first so the wide shuffle carries one
    row per (gram, doc), not per occurrence — then
    orderBy(...).limit(k) = TakeOrderedAndProject, never a global sort.
    Ties break on the gram string, so the result is total-ordered."""
    from kowari_spark.fsutil import scan_parallelism

    occ = scan_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("__d"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    )
    per_doc = occ.groupBy("gram", "__d").agg(F.count("*").alias("__c"))
    return (
        per_doc.groupBy("gram")
        .agg(
            F.sum("__c").alias("occurrences"),
            F.count("*").alias("n_docs"),
        )
        .orderBy(F.desc("occurrences"), F.col("gram"))
        .limit(k)
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Per-document repetition fractions:

    - ``top{top_n}gram_frac`` — occurrences of the document's most
      frequent ``top_n``-gram over its total ``top_n``-gram count
      (boilerplate headers/footers push this up);
    - ``dup{dup_n}gram_frac`` — fraction of ``dup_n``-gram occurrences
      belonging to grams seen more than once in the document (copy-paste
      repetition pushes this up).

    Documents with fewer than ``n`` tokens have no such n-grams and
    report 0.0 (no evidence of repetition), so the output keeps exactly
    one row per input document. Fractions are rounded to 6 decimals
    HALF_UP, like SQL ``ROUND`` (+0.0 normalizes negative zero).

    Per-document repetition is ROW-LOCAL, so the whole computation runs
    inside ``mapInPandas`` — one pass over the scan, ZERO shuffles,
    output one row per input row: each worker counts its own documents'
    grams with a hash map and nothing ever leaves the task. Exploding
    ~2·tokens gram strings per document through interpreted
    ``transform`` lambdas and shuffling them twice measured 3.4x slower
    at x1 (8.2 s vs 2.4 s, BASELINE.md). Tokenization is the
    single-space split of ``functions.text.tokens``, so the DuckDB
    replay is exact; NULL text counts as the empty string."""
    if not 0 < top_n < dup_n:
        raise ValueError(f"need 0 < top_n < dup_n, got {top_n}, {dup_n}")
    from collections import Counter

    import pandas as pd

    from kowari_spark.fsutil import scan_parallelism
    from kowari_spark.numerics import round_half_up

    df = scan_parallelism(df.select(id_col, text_col))
    id_type = df.schema[id_col].dataType.simpleString()
    top_name, dup_name = f"top{top_n}gram_frac", f"dup{dup_n}gram_frac"
    schema = f"{id_col} {id_type}, {top_name} double, {dup_name} double"

    def frac_top(toks: list, n: int) -> float:
        total = len(toks) - n + 1
        if total < 1:
            return 0.0
        counts = Counter(zip(*(toks[i:] for i in range(n))))
        return round_half_up(max(counts.values()) / total, 6)

    def frac_dup(toks: list, n: int) -> float:
        total = len(toks) - n + 1
        if total < 1:
            return 0.0
        counts = Counter(zip(*(toks[i:] for i in range(n))))
        dup = sum(c for c in counts.values() if c > 1)
        return round_half_up(dup / total, 6)

    def score(batches):
        for pdf in batches:
            tops, dups = [], []
            for text in pdf[text_col]:
                # "".split(" ") == [""] — same single empty token Spark's
                # split produces, so short-doc semantics agree
                toks = ("" if text is None else text).split(" ")
                tops.append(frac_top(toks, top_n))
                dups.append(frac_dup(toks, dup_n))
            yield pd.DataFrame(
                {id_col: pdf[id_col], top_name: tops, dup_name: dups}
            )

    return df.mapInPandas(score, schema)


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style quality proxy: each document's mean log-probability
    under the corpus's own unigram model (Wenzek et al. 2020 rank
    documents by LM perplexity; the unigram model is the model-free
    version computable exactly in-engine). Gibberish / rare-token noise
    scores very negative; typical text scores high.

    Returns (id, n_tokens, mean_logprob) with mean_logprob =
    round(sum_t ln(c_t / total) / n_tokens, 6).

    Spark shape: one explode feeds BOTH the vocabulary count (groupBy
    token, map-side partials) and the per-document fold; the token⋈vocab
    join keys both sides on the token so the shuffle is co-partitioned;
    the corpus total is a one-row broadcast. Per-token log-probs are
    rounded to 9 decimals before summing (cross-engine ln() parity) and
    each document folds its tokens IN POSITION ORDER via an
    array_sort(collect_list(struct(pos, logp))) sequential aggregate —
    float addition order is part of the plan, so the operator has an
    exact SQL oracle. Documents whose text is NULL have no tokens and
    produce no row."""
    from kowari_spark.fsutil import scan_parallelism

    df = scan_parallelism(df.select(F.col(id_col), _c(text_col)))
    tok = df.select(
        F.col(id_col),
        F.posexplode(tokens(_c(text_col))).alias("__pos", "__t"),
    )
    # the corpus total rides the vocab aggregation (sum of counts) —
    # no third pass over the exploded stream; NOT checkpointed: at
    # scale re-scanning the pruned text column twice beats
    # materializing an exploded copy of the corpus
    vocab = tok.groupBy("__t").agg(F.count("*").alias("__c"))
    total = vocab.agg(F.sum("__c").alias("__total"))
    logp = F.round(
        F.log(F.col("__c").cast("double") / F.col("__total")), 9
    )
    joined = (
        tok.join(vocab, "__t")
        .crossJoin(F.broadcast(total))
        .select(id_col, "__pos", logp.alias("__lp"))
    )
    folded = F.aggregate(
        F.array_sort(F.collect_list(F.struct(F.col("__pos"), F.col("__lp")))),
        F.lit(0.0),
        lambda acc, x: acc + x["__lp"],
    )
    return joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        (F.round(folded / F.count("*"), 6) + F.lit(0.0)).alias("mean_logprob"),
    )


def surprisal_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    strata_col: str | None = None,
    names: tuple = ("head", "middle", "tail"),
    mode: str = "exact",
) -> DataFrame:
    """CCNet-style corpus split (Wenzek et al. 2020): rank documents
    by the unigram-LM quality proxy (:func:`unigram_surprisal`) and
    split each stratum (usually the language) into ``len(names)``
    buckets — ``head`` = the most-fluent slice the pipeline trains on
    first, ``tail`` = the noisiest. Returns (id_col, [strata_col],
    n_tokens, mean_logprob, bucket). NULL-text documents have no
    tokens, hence no surprisal row, hence no bucket (the
    unigram_surprisal contract).

    ``mode="exact"``: per-stratum NTILE over (mean_logprob DESC, id
    ASC) — equal-count buckets (±1), deterministic, and exactly
    SQL-replayable (the contract shape). The window sorts each stratum
    on ONE partition — fine up to tens of millions of rows per
    stratum, the wrong plan at 100 TB.

    ``mode="approx"``: per-stratum ``percentile_approx`` boundaries
    (a ≤|strata|-row relation, broadcast back into a comparison) — no
    per-stratum global sort, every stage parallel; bucket counts are
    approximate near the boundaries (the documented trade, exactly
    CCNet's own practice of thresholding on precomputed percentiles).
    """
    from pyspark.sql.window import Window

    if mode not in ("exact", "approx"):
        raise ValueError(f"mode must be 'exact' or 'approx', got {mode!r}")
    if len(names) < 2:
        raise ValueError("need at least two bucket names")
    sp = unigram_surprisal(df, text_col, id_col)
    keys = []
    if strata_col:
        sp = sp.join(df.select(id_col, strata_col), id_col)
        keys = [strata_col]
    n = len(names)
    cols = [id_col, *keys, "n_tokens", "mean_logprob"]
    if mode == "exact":
        w = Window.partitionBy(
            *[F.col(k) for k in keys] if keys else [F.lit(1)]
        ).orderBy(F.desc("mean_logprob"), F.col(id_col))
        name_arr = F.array(*[F.lit(x) for x in names])
        return sp.select(
            *cols, F.element_at(name_arr, F.ntile(n).over(w)).alias("bucket")
        )
    qs = [i / n for i in range(1, n)]  # ascending quantiles
    bounds = (
        sp.groupBy(*keys).agg(
            F.percentile_approx("mean_logprob", qs).alias("__qs")
        )
        if keys
        else sp.agg(F.percentile_approx("mean_logprob", qs).alias("__qs"))
    )
    if keys:
        # null-safe: a NULL stratum is a normal group in exact mode's
        # window, so the boundary join must keep it too
        joined = sp.join(
            F.broadcast(bounds),
            [sp[k].eqNullSafe(bounds[k]) for k in keys],
        ).drop(*[bounds[k] for k in keys])
    else:
        joined = sp.crossJoin(F.broadcast(bounds))
    # head = above the highest boundary, tail = below the lowest
    chain = F.when(
        F.col("mean_logprob") >= F.element_at("__qs", n - 1),
        F.lit(names[0]),
    )
    for k in range(1, n - 1):
        chain = chain.when(
            F.col("mean_logprob") >= F.element_at("__qs", n - 1 - k),
            F.lit(names[k]),
        )
    return joined.select(*cols, chain.otherwise(F.lit(names[-1])).alias("bucket"))
