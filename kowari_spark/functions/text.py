"""Text analysis for large-scale training-data pipelines.

Beyond-reference surface (task north star; SURVEY.md §7.1 step 9):
language ID, quality scoring, token counting, fingerprinting, shingling,
MinHash / SimHash primitives — all native column expressions (codegen,
no UDFs), and all built from ENGINE-PORTABLE hashing (md5 prefix ->
int64) so every operator has an exact DuckDB oracle.

Hash family for MinHash: h_i(x) = (a_i * (x mod P) + b_i) mod P over the
md5-based base hash, P = 2^31 - 1; products stay < 2^63 so the math is
overflow-free in both engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MINHASH_P = 2_147_483_647  # 2^31 - 1


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text) -> Column:
    """Whitespace tokens (single-space split, engine-portable)."""
    return F.split(_c(text), " ")


def token_count(text) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text)).cast("long")


def token_count_bpe(text) -> Column:
    """BPE-ish subword proxy: runs of letters, runs of digits, or single
    punctuation — the usual pre-tokenizer regex shape."""
    return F.size(F.regexp_extract_all(_c(text), F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), 0)).cast("long")


def base_hash64(s) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5 as int64.

    Identical in DuckDB: ('0x' || substring(md5(s), 1, 15))::BIGINT.
    """
    return F.conv(F.substring(F.md5(_c(s)), 1, 15), 16, 10).cast("long")


def shingles(text, n: int = 3) -> Column:
    """Distinct word n-gram shingles; docs shorter than n tokens use the
    whole text as their single shingle."""
    toks = tokens(text)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        )
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array(_c(text)))


def minhash_params(num_hashes: int = 16, seed: int = 42) -> tuple[list[int], list[int]]:
    """Seeded (a_i, b_i) coefficients shared with the SQL oracle."""
    rng = np.random.RandomState(seed)
    a = [int(x) for x in rng.randint(1, MINHASH_P, size=num_hashes)]
    b = [int(x) for x in rng.randint(0, MINHASH_P, size=num_hashes)]
    return a, b


def minhash_signature(
    text, num_hashes: int = 16, shingle_n: int = 3, seed: int = 42
) -> Column:
    """Array of num_hashes minhash values over word shingles.

    Column form (hash each shingle ONCE, then num_hashes cheap affine
    mins). For whole-table signatures prefer
    ``operators.dedup.minhash_signatures`` — the row-local
    ``mapInPandas`` form with no interpreted lambdas."""
    hm = F.transform(shingles(text, shingle_n), lambda s: base_hash64(s) % F.lit(MINHASH_P))
    a, b = minhash_params(num_hashes, seed)

    def hash_fn(ai: int, bi: int):
        # closure factory: pyspark infers lambda arity, so the coefficients
        # must NOT appear as extra lambda params
        return lambda m: (F.lit(ai) * m + F.lit(bi)) % F.lit(MINHASH_P)

    mins = [
        F.array_min(F.transform(hm, hash_fn(ai, bi))) for ai, bi in zip(a, b)
    ]
    return F.array(*mins)


def simhash(text, bits: int = 32) -> Column:
    """SimHash over whitespace tokens: bit j of the fingerprint is set
    when more token-hashes have bit j set than clear."""
    hcol = F.transform(tokens(text), lambda t: base_hash64(t))
    total = F.size(hcol)

    def bit_test(j: int):
        # closure factory — a `lambda h, j=j` would be read as a 2-arg
        # (value, index) lambda by pyspark and bind j to the array index
        return lambda h: F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1

    out = F.lit(0).cast("long")
    for j in range(bits):
        ones = F.size(F.filter(hcol, bit_test(j)))
        out = out + F.when(ones * 2 > total, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def fingerprint_key(text) -> Column:
    """Key-collision fingerprint: md5 of the sorted distinct token set
    (catches token-order / duplication edits)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text))), " "))


def rolling_fingerprint(text) -> Column:
    """Order-sensitive polynomial rolling hash over token hashes:
    h = fold(h * 31 + hash(tok)) mod P. Sequential fold — same result in
    DuckDB's list_reduce."""
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(31) + base_hash64(t)) % F.lit(MINHASH_P),
    )


def winnow_grams(text, k: int = 4) -> Column:
    """Overlapping k-token grams as strings (positions preserved, unlike
    ``shingles`` which dedups); docs shorter than k tokens gram their
    whole text."""
    toks = tokens(text)
    nk = F.size(toks) - (k - 1)
    return F.when(
        nk >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(nk, F.lit(1))),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(k)]
            ),
        ),
    ).otherwise(F.array(_c(text)))


def winnow_fingerprints(text, k: int = 4, window: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken — the
    MOSS algorithm): hash every k-token gram portably, then keep the
    MINIMUM hash of each sliding window of ``window`` consecutive gram
    hashes; the sorted distinct selections are the fingerprint set.

    Guarantee: any shared token run of length >= window + k - 1 between
    two documents yields at least one shared fingerprint, at expected
    density 2/(window+1) — substring-robust dedup whose index size is a
    tunable fraction of the corpus.

    NOTE: this single-Column form nests higher-order lambdas, and
    Catalyst re-evaluates the inner gram-hash array per window element —
    O(T·window) md5 work per document. Fine for spot use; the corpus
    pipeline (``dedup.winnow_fps``) hashes each gram once in a
    row-local ``mapInPandas`` pass, which computes identical values
    (drift-guard test pins the two equal)."""
    hashes = F.transform(winnow_grams(text, k), base_hash64)
    nw = F.greatest(F.size(hashes) - (window - 1), F.lit(1))
    sel = F.transform(
        F.sequence(F.lit(1), nw),
        lambda j: F.array_min(F.slice(hashes, j, window)),
    )
    return F.array_sort(F.array_distinct(sel))


def hashed_embedding(text, dim: int = 32, normalize: bool = True) -> Column:
    """Feature-hashing document embedding: component j = count of tokens
    whose portable hash lands in bucket j, L2-normalized — a
    deterministic, model-free text vector (the classic hashing trick),
    so documents flow into the SAME knn/LSH/dedup operators as real
    embeddings. Native expressions only; exact DuckDB oracle."""
    toks = tokens(text)
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.size(F.filter(toks, lambda t: base_hash64(t) % dim == j)).cast(
            "double"
        ),
    )
    if not normalize:
        return counts
    norm = F.sqrt(
        F.aggregate(counts, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return F.when(norm == 0.0, counts).otherwise(
        F.transform(counts, lambda x: x / norm)
    )


def hashed_embeddings(
    df, text_col: str = "text", id_col: str = "doc_id", dim: int = 32,
    normalize: bool = True, out_col: str = "embedding", spread: bool = True,
):
    """Whole-table feature-hashed embeddings in the shape that scales:
    explode tokens, hash each ONCE, then ``dim`` conditional-count
    aggregates (map-side partial sums) — the Column form above recomputes
    md5 dim× per token and blows up codegen. Output: (id_col, out_col
    array<double>), L2-normalized. Each row's embedding depends only on
    its own text, so callers that need a handful of query vectors should
    filter the input FIRST and pass ``spread=False``: spreading a
    few-row fetch adds a 32-task shuffle stage for work one task
    finishes instantly.
    """
    from kowari_spark.fsutil import scan_parallelism

    df = df.select(F.col(id_col), F.col(text_col))
    if spread:
        # few-split scans serialize the per-token md5 pass (guide §2.5);
        # no-op whenever the input is already as parallel as the session
        df = scan_parallelism(df)
    exploded = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__t")
    ).select(id_col, (base_hash64(F.col("__t")) % dim).alias("__b"))
    # SQL-string form: the Column-object builders cost one py4j
    # roundtrip per node (~3 ms each on the measured driver) — for a
    # 32-dim embedding the agg list + array + normalize tail alone was
    # ~0.5 s of construction wall per call. Each F.expr parses in the
    # JVM in one call to the IDENTICAL Catalyst tree (same CASE WHEN /
    # sum / cast / lambda shapes the oracle replays).
    aggs = [
        F.expr(
            f"CAST(sum(CASE WHEN __b = {j} THEN 1 ELSE 0 END) AS DOUBLE)"
            f" AS c{j}"
        )
        for j in range(dim)
    ]
    per = exploded.groupBy(id_col).agg(*aggs)
    arr = "array(" + ",".join(f"c{j}" for j in range(dim)) + ")"
    if normalize:
        norm = f"sqrt(aggregate({arr}, 0.0D, (acc, x) -> acc + x * x))"
        out = (
            f"CASE WHEN {norm} = 0.0D THEN {arr} "
            f"ELSE transform({arr}, x -> x / {norm}) END"
        )
    else:
        out = arr
    return per.select(F.col(id_col), F.expr(out).alias(out_col))


# -- language ID + quality ---------------------------------------------------

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "es", "los"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"],
    "fr": ["le", "les", "des", "et", "une", "est", "dans", "pour", "sur", "avec"],
}


def _stopword_hits(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_id(text) -> Column:
    """Stopword-heuristic language guess. First-match-wins CASE in a
    fixed language order, so ties resolve deterministically; 'und'
    (undetermined) when no stopword list hits. The same CASE chain is
    expressible verbatim in the SQL oracle."""
    toks = tokens(F.lower(_c(text)))
    hits = {lang: _stopword_hits(toks, words) for lang, words in STOPWORDS.items()}
    langs = sorted(STOPWORDS)  # priority: de, en, es, fr
    expr = None
    for i, lang in enumerate(langs):
        cond = hits[lang] > 0
        for later in langs[i + 1 :]:
            cond = cond & (hits[lang] >= hits[later])
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def stopword_ratio(text, lang: str = "en") -> Column:
    toks = tokens(F.lower(_c(text)))
    return _stopword_hits(toks, STOPWORDS[lang]).cast("double") / F.size(toks)


def quality_features(text) -> dict[str, Column]:
    """Heuristic quality signals (Gopher/C4-style cheap filters)."""
    t = _c(text)
    toks = tokens(t)
    n = F.size(toks)
    chars = F.length(t)
    alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
    digits = F.length(F.regexp_replace(t, "[^0-9]", ""))
    punct = F.length(F.regexp_replace(t, "[a-zA-Z0-9\\s]", ""))
    return {
        "n_tokens": n.cast("long"),
        "avg_token_len": (chars - n + 1).cast("double") / n,
        "alpha_ratio": alpha.cast("double") / chars,
        "digit_ratio": digits.cast("double") / chars,
        "punct_ratio": punct.cast("double") / chars,
        "distinct_token_ratio": F.size(F.array_distinct(toks)).cast("double") / n,
        "stopword_ratio": stopword_ratio(t),
    }


def quality_score(text) -> Column:
    """Composite [0,1]-ish quality score from the cheap signals: rewards
    mid-length docs with diverse tokens and some stopwords, penalizes
    digit/punct-heavy text."""
    f = quality_features(text)
    length_term = F.least(f["n_tokens"].cast("double") / 100.0, F.lit(1.0))
    return (
        0.3 * length_term
        + 0.3 * f["distinct_token_ratio"]
        + 0.2 * f["alpha_ratio"]
        + 0.2 * (1.0 - f["digit_ratio"] - f["punct_ratio"])
    )
