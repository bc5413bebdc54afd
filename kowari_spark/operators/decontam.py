"""Benchmark decontamination for training-data pipelines.

Beyond-reference surface (task north star): before pretraining, every
document that shares a long word n-gram with an evaluation/benchmark
set must be flagged or dropped — the GPT-3-style 13-gram overlap filter
(Brown et al. 2020, appendix C; also used by Gopher and The Pile).

Spark-first shape: the eval set is reduced to a DISTINCT set of
portable 64-bit gram hashes (tiny relation — benchmarks are KBs-to-MBs
next to a 100 TB corpus), collected ONCE and broadcast into the Python
workers; each document's gram set, membership count and fraction are
then ROW-LOCAL, so the whole corpus side is one ``mapInPandas`` pass
with zero shuffles and zero joins (4.3x faster at x1 than exploding
interpreted-lambda gram strings and semi-joining them, BASELINE.md).
Nothing corpus-sized is ever collected or re-shuffled. Every step is
hash/count algebra on the same md5-based hash the rest of the text
suite uses, so the operator has an exact ANSI-SQL oracle.

Short-text semantics: texts with fewer than ``n`` tokens have no
n-gram. On the EVAL side the whole token sequence is used as a single
fallback gram (a short benchmark prompt should still decontaminate
exact copies); on the CORPUS side short documents match only via that
same whole-text gram. Both sides apply the same fallback rule
(:func:`contamination_grams` on the eval side, its Python mirror in
the corpus pass), so the fallback is symmetric.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kowari_spark.functions.text import _c, base_hash64
from kowari_spark.operators.quality import word_ngrams


def contamination_grams(text, n: int) -> Column:
    """Word n-grams for overlap matching; texts shorter than ``n``
    tokens contribute their whole text as a single fallback gram, so
    exact copies of short benchmark prompts are still caught."""
    grams = word_ngrams(_c(text), n)
    return F.when(F.size(grams) > 0, grams).otherwise(F.array(_c(text)))


def _eval_gram_hashes(eval_df: DataFrame, eval_text: str, n: int) -> DataFrame:
    """Distinct portable 64-bit hashes of the eval set's grams. The
    interpreted gram explode runs behind a scan spread (guide §2.5) —
    an eval slice of a few-split corpus otherwise gram-hashes in ONE
    task (measured 1.7 s of doc_decontam's construction); distinct
    hashes are partition-independent."""
    from kowari_spark.fsutil import scan_parallelism

    return (
        scan_parallelism(eval_df.select(eval_text))
        .select(
            F.explode(contamination_grams(F.col(eval_text), n)).alias("__g")
        )
        .select(base_hash64(F.col("__g")).alias("__h"))
        .distinct()
    )


def ngram_decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    n: int = 13,
) -> DataFrame:
    """Flag corpus documents that share any word ``n``-gram with the
    evaluation set.

    Returns one row per input document:

    - ``contam_grams`` — number of DISTINCT grams of the document that
      appear anywhere in the eval set;
    - ``total_grams`` — the document's distinct gram count;
    - ``contam_frac`` — their ratio, rounded to 6 decimals HALF_UP;
    - ``is_contaminated`` — ``contam_grams > 0`` (the drop filter).

    Building the frame collects the distinct eval gram hashes (the
    decontamination regime: the benchmark set is small next to the
    corpus); the corpus side is one row-local ``mapInPandas`` pass —
    same md5-prefix hash, same whole-text fallback for short docs,
    integer counts, IEEE division. A NULL text has one NULL gram that
    never matches (0 of 1)."""
    import pandas as pd

    from kowari_spark.fsutil import scan_parallelism
    from kowari_spark.numerics import py_hash64, round_half_up

    eval_text = eval_text_col or text_col
    hashes = frozenset(
        r["__h"] for r in _eval_gram_hashes(eval_df, eval_text, n).collect()
    )
    bc = docs.sparkSession.sparkContext.broadcast(hashes)
    id_type = docs.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, contam_grams long, total_grams long, "
        f"contam_frac double, is_contaminated boolean"
    )

    def score(batches):
        hs = bc.value
        for pdf in batches:
            cg, tg, fr, flag = [], [], [], []
            for text in pdf[text_col]:
                if text is None:
                    c, t = 0, 1
                else:
                    toks = text.split(" ")
                    if len(toks) >= n:
                        grams = {
                            " ".join(toks[i : i + n])
                            for i in range(len(toks) - n + 1)
                        }
                    else:
                        grams = {text}
                    t = len(grams)
                    c = sum(1 for g in grams if py_hash64(g) in hs)
                cg.append(c)
                tg.append(t)
                fr.append(round_half_up(c / t, 6) + 0.0 if t else 0.0)
                flag.append(c > 0)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "contam_grams": cg,
                    "total_grams": tg,
                    "contam_frac": fr,
                    "is_contaminated": flag,
                }
            )

    # few-split scans serialize the whole scoring pass in one task
    # (guide §2.5; measured: the sf0.1 corpus is ONE parquet split, so
    # the contract line ran single-task with 31 cores idle). No-op
    # whenever the scan is already as parallel as the session.
    return scan_parallelism(docs.select(id_col, text_col)).mapInPandas(
        score, schema
    )


def semantic_decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    dim: int = 32,
    round_to: int | None = 6,
) -> DataFrame:
    """Embedding-space decontamination — the companion to
    :func:`ngram_decontaminate` for PARAPHRASED leakage: a benchmark
    answer reworded enough to share no 13-gram still lands near the
    original in embedding space. Both sides are embedded with the
    model-free feature-hashed embeddings
    (:func:`kowari_spark.functions.text.hashed_embeddings` — exactly
    SQL-replayable), and a document is flagged when its max cosine
    against ANY eval doc reaches ``threshold``.

    Returns one row per input document: (id_col, ``max_eval_cos``
    rounded to ``round_to``, ``is_contaminated``). Documents with no
    tokens have no embedding and score 0.0 (trivially clean).

    Scale shape (the decontamination regime: eval ≪ corpus): the eval
    embeddings are collected ONCE; each Arrow batch of the corpus
    scores its docs with ONE numpy GEMM against the eval matrix and
    exact-rescores the per-doc argmax candidates (see
    :func:`_max_eval_cos`), so nothing corpus-sized moves and the output
    is one skinny row per doc (13x faster at sf0.1 than the per-pair
    interpreted ``aggregate(zip_with(...))`` cosine behind a broadcast
    cross join, BASELINE.md). For an unusually large eval set,
    pre-bucket both sides with the LSH operators instead
    (operators/lsh.py) and verify only co-bucketed pairs."""
    from kowari_spark.functions.text import hashed_embeddings

    eval_text = eval_text_col or text_col
    emb = hashed_embeddings(docs, text_col, id_col, dim)
    ev = hashed_embeddings(
        eval_df.select(F.col(eval_text).alias("__evt")), "__evt",
        id_col="__evt", dim=dim, out_col="__ev",
    ).select("__ev")
    scored = _max_eval_cos(emb, ev, id_col, round_to)
    # token-less documents have no embedding row: join back over ALL
    # docs and score them 0.0 (trivially clean)
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("max_eval_cos", F.lit(0.0)).alias("max_eval_cos"),
            (F.coalesce("max_eval_cos", F.lit(0.0)) >= threshold).alias(
                "is_contaminated"
            ),
        )
    )


def embedding_decontaminate(
    emb: DataFrame,
    eval_emb: DataFrame,
    threshold: float,
    id_col: str = "id",
    vec_col: str = "embedding",
    eval_vec_col: str | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """:func:`semantic_decontaminate` for corpora that ALREADY carry
    embeddings (a vector collection, a table with a model-produced
    embedding column): flag every row whose max cosine against ANY
    eval vector reaches ``threshold`` — no text, no hashing, the same
    (id_col, max_eval_cos, is_contaminated) contract. This is the
    ``Collection.semantic_decontaminate`` body (VERDICT r11 missing
    #5) and the function :func:`semantic_decontaminate` composes with
    its hashed embeddings.

    Same scale shape as its caller (eval ≪ corpus: eval vectors
    collected once, one GEMM per Arrow batch, no shuffle). The exact
    rescore initializes at -inf, so SIGNED model embeddings (negative
    maxima) score exactly (ADVICE r11 #1)."""
    evc = eval_vec_col or vec_col
    ev = eval_emb.select(F.col(evc).alias("__ev"))
    e = emb.select(id_col, F.col(vec_col).alias("embedding"))
    scored = _max_eval_cos(e, ev, id_col, round_to)
    return (
        e.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("max_eval_cos", F.lit(0.0)).alias("max_eval_cos"),
            (F.coalesce("max_eval_cos", F.lit(0.0)) >= threshold).alias(
                "is_contaminated"
            ),
        )
    )


def _max_eval_cos(
    emb: DataFrame, ev: DataFrame, id_col: str, round_to: int | None
) -> DataFrame:
    """The shared scoring core of both public decontaminators: (id_col,
    max_eval_cos) for rows of ``emb`` (id_col, embedding) against ``ev``
    (__ev). The eval matrix is collected ONCE (bounded — the
    decontamination regime is eval ≪ corpus) and each Arrow batch
    computes one V·EVᵀ GEMM. The GEMM only SELECTS each doc's argmax
    candidates (margin 1e-9 ≫ the float64 GEMM error at any sane dim);
    every candidate is re-scored with the exact dimension-ordered fold
    and HALF_UP rounding that ``functions.vector.cosine_similarity``
    and the SQL replay use, so the per-doc max is exact. No shuffle:
    output is one skinny row per doc."""
    import numpy as np
    import pandas as pd

    from kowari_spark.numerics import round_half_up

    rows = ev.collect()
    if rows and (
        any(r["__ev"] is None for r in rows)
        or len({len(r["__ev"]) for r in rows}) > 1
    ):
        raise ValueError(
            "eval embeddings must be non-null and share one dimension "
            "(null/mismatched eval vectors would silently contribute "
            "nothing to the SQL cosine — refuse instead)"
        )
    EV = (
        np.stack([list(r["__ev"]) for r in rows]).astype(np.float64)
        if rows else np.zeros((0, 1))
    )
    # norms via per-dim accumulation == cosine_similarity's sqrt fold
    # (numpy's pairwise .sum() adds in a different order — not parity)
    ne = np.zeros(EV.shape[0], dtype=np.float64)
    for _d in range(EV.shape[1] if len(rows) else 0):
        ne += EV[:, _d] * EV[:, _d]
    ne = np.sqrt(ne)
    id_type = emb.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, max_eval_cos double"

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col]
            if EV.shape[0] == 0:
                yield pd.DataFrame(
                    {id_col: ids, "max_eval_cos": np.zeros(len(pdf))}
                )
                continue
            # SQL-cosine semantics for degraded rows (the pre-embedded
            # surface feeds arbitrary user vectors): a NULL embedding
            # or one whose dimension mismatches the eval set yields a
            # null cosine against EVERY eval vector under zip_with
            # null-padding, which coalesces to 0.0 — score those rows
            # 0.0 here instead of crashing np.stack on ragged input
            vecs = pdf["embedding"].to_list()
            dim = EV.shape[1]
            # a null ELEMENT inside a correct-dimension vector is
            # degraded too: the SQL aggregate fold nulls the whole
            # cosine (coalesced to 0.0), while astype would turn it
            # into an all-NaN score row whose argmax set is empty —
            # crashing round_half_up(-inf) instead of matching. A
            # literal float NaN element gets the same 0.0 (SQL
            # propagates NaN there — NaN input vectors are
            # out-of-contract; 0.0 beats an executor crash)
            good = [
                i for i, v in enumerate(vecs)
                if v is not None and len(v) == dim
                and not any(x is None or x != x for x in v)
            ]
            if len(good) < len(vecs):
                out = np.zeros(len(vecs))
                if good:
                    sub = pdf.iloc[good]
                    for part in score([sub]):
                        out[good] = part["max_eval_cos"].to_numpy()
                yield pd.DataFrame({id_col: ids, "max_eval_cos": out})
                continue
            V = np.stack(vecs).astype(np.float64)
            # norms via per-dim accumulation == the SQL sqrt fold
            acc = np.zeros(len(V), dtype=np.float64)
            for d in range(V.shape[1]):
                acc += V[:, d] * V[:, d]
            na = np.sqrt(acc)
            denom = np.outer(na, ne)
            with np.errstate(divide="ignore", invalid="ignore"):
                C = np.where(denom == 0.0, 0.0, (V @ EV.T) / denom)
            best = np.zeros(len(V), dtype=np.float64)
            rmax = C.max(axis=1)
            for i in range(len(V)):
                cand = np.flatnonzero(C[i] >= rmax[i] - 1e-9)
                # cand is non-empty (it contains argmax), so -inf is
                # always replaced by an exact score; starting at 0.0
                # would clamp negative maxima for signed embeddings.
                ex = float("-inf")
                for j in cand:
                    if na[i] == 0.0 or ne[j] == 0.0:
                        v = 0.0
                    else:
                        s = 0.0
                        for d in range(V.shape[1]):
                            s += V[i, d] * EV[j, d]
                        v = s / (na[i] * ne[j])
                    ex = max(ex, v)
                best[i] = (
                    round_half_up(float(ex), round_to) + 0.0
                    if round_to is not None else ex
                )
            yield pd.DataFrame({id_col: ids, "max_eval_cos": best})

    return emb.mapInPandas(score, out_schema)
