"""Exact-substring (span-level) deduplication.

Beyond-reference surface (task north star): Lee et al. 2022
("Deduplicating Training Data Makes Language Models Better",
arXiv:2107.06499) dedups at SPAN granularity — any token run of length
>= ``min_len`` that occurs more than once in the corpus is removed from
every occurrence but the first, keeping the rest of the document. The
reference implementation builds a suffix array; the Spark-first
equivalent hashes every ``min_len``-gram once and lets aggregation do
the rest — same detected spans (every duplicated run of length
>= min_len is a union of duplicated min_len-grams, and conversely),
no suffix array needed:

1. generate the document's ``min_len``-grams → (doc, pos, hash) in
   one row-local ``mapInPandas`` pass; the hash is the portable
   md5-prefix int64 the whole text suite uses (collision probability
   ~2^-60 per pair; the SQL oracle replays the identical hashing, so
   parity is exact by construction);
2. rank each gram occurrence over its hash by (doc, pos) — ONE wide
   shuffle keyed on the gram hash; occurrences ranked > 1 are
   duplicates-to-remove (the first occurrence in global (doc, pos)
   order is the keeper, Lee et al.'s policy);
3. merge each document's duplicate gram positions into maximal
   contiguous spans (gaps-and-islands: a window cumulative max per
   document — shuffle keyed on the doc id);
4. (removal) expand spans to token positions and rebuild the text from
   the surviving tokens in position order.

Every step is integer arithmetic and deterministic ordering — the
whole operator has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kowari_spark.functions.text import tokens


def _dup_gram_positions(
    df: DataFrame, min_len: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, pos) of every min_len-gram occurrence that is NOT the
    corpus-first occurrence of its gram (0-based token position).

    Each document's (pos, md5-prefix hash) rows are generated inside
    ``mapInPandas`` (1.9x faster at x1 and 3.1x at x100 than building
    every gram string through interpreted ``transform`` lambdas,
    BASELINE.md); the hash is
    the same md5-prefix int64 over the same gram strings the DuckDB
    replay computes, so everything downstream of the gram-hash shuffle
    is exact."""
    import pandas as pd

    from kowari_spark.fsutil import scan_parallelism
    from kowari_spark.numerics import py_hash64

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, __pos int, __h long"

    def gen(batches):
        for pdf in batches:
            ids, poss, hs = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = ("" if text is None else text).split(" ")
                for p in range(len(toks) - min_len + 1):
                    g = " ".join(toks[p : p + min_len])
                    ids.append(did)
                    poss.append(p)
                    hs.append(py_hash64(g))
            yield pd.DataFrame({id_col: ids, "__pos": poss, "__h": hs})

    # spread a few-split scan before the per-gram hash pass (guide
    # §2.5) — value-safe: per-row generation, downstream keyed on __h
    grams = scan_parallelism(df.select(id_col, text_col)).mapInPandas(
        gen, schema
    )
    w = Window.partitionBy("__h").orderBy(F.col(id_col), F.col("__pos"))
    return (
        grams.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") > 1)
        .select(id_col, "__pos")
    )


def duplicate_spans(
    df: DataFrame,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal duplicated spans per document: (id, span_start,
    span_end, span_tokens), token positions 0-based inclusive. A span
    covers every token of a non-first duplicated ``min_len``-gram run;
    overlapping/adjacent gram spans merge into one maximal span.
    Documents with no duplicated span produce no row."""
    dup = _dup_gram_positions(df, min_len, text_col, id_col)
    w = (
        Window.partitionBy(id_col)
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # island starts where this gram's span [pos, pos+L-1] doesn't touch
    # the running farthest end (+1 = adjacency still merges)
    marked = dup.withColumn(
        "__prev_end", F.max(F.col("__pos") + (min_len - 1)).over(w)
    ).withColumn(
        "__new",
        F.when(
            F.col("__prev_end").isNull()
            | (F.col("__pos") > F.col("__prev_end") + 1),
            1,
        ).otherwise(0),
    )
    w2 = Window.partitionBy(id_col).orderBy("__pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    islands = marked.withColumn("__isl", F.sum("__new").over(w2))
    return (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.min("__pos").alias("span_start"),
            (F.max("__pos") + (min_len - 1)).alias("span_end"),
        )
        .select(
            id_col,
            F.col("span_start").cast("long"),
            F.col("span_end").cast("long"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("span_tokens"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Lee et al. span removal applied: every document rebuilt without
    the tokens of its non-first duplicated spans (the corpus-first
    occurrence survives intact). Returns one row per input document:
    (id, clean_text, n_tokens, removed_tokens).

    Scale shape: the only corpus-wide shuffles key on the gram hash
    (first-occurrence rank) — the TOKEN STREAM never shuffles. Removed
    positions reduce to one skinny (doc, positions-array) row per
    affected document (explode of each dup gram's ``min_len``
    positions, collect_set per doc), which left-joins the source on
    the doc id; the rebuild is then a ROW-LOCAL native
    filter-by-index over the token array — no position-ordered
    re-aggregation of the corpus."""
    dup = _dup_gram_positions(df, min_len, text_col, id_col)
    rm_per_doc = (
        dup.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("__pos"), F.col("__pos") + (min_len - 1))
            ).alias("__tp"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("__tp").alias("__rm"))
    )
    toks = tokens(F.col(text_col))
    kept = F.filter(
        toks, lambda t, i: ~F.array_contains(F.col("__rm"), i)
    )
    # the rebuild (interpreted filter-by-index over token arrays) is
    # ROW-LOCAL — spread a few-split source so it doesn't run in one
    # task (guide §2.5); the skinny __rm side broadcasts either way
    from kowari_spark.fsutil import scan_parallelism

    return (
        scan_parallelism(df).join(rm_per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("__rm").isNull(), F.col(text_col))
            .otherwise(F.array_join(kept, " "))
            .alias("clean_text"),
            F.when(F.col("__rm").isNull(), F.size(toks))
            .otherwise(F.size(kept))
            .cast("long")
            .alias("n_tokens"),
            F.coalesce(F.size("__rm"), F.lit(0))
            .cast("long")
            .alias("removed_tokens"),
        )
    )
