"""Persisted text-dedup signature layouts — incremental
crawl-over-history dedup (VERDICT r8 "What's missing #1").

The recurring 100 TB pipeline shape: crawl batch N+1 arrives and must
be deduplicated against the N batches already ingested. Every text
operator in operators/dedup.py fingerprints ONE DataFrame per call, so
running it over history ∪ batch re-shingles and re-hashes the whole
history every time — at 100 TB of history that re-fingerprinting
dwarfs the batch's own cost. This module gives text dedup the
build-offline / probe-online split the vector indexes already have
(PQ/IVF/HNSW layouts + streaming sinks): the banded minhash signature
relation (``operators.dedup.minhash_bands`` — (id, band, band_key),
md5-deterministic, so a batch fingerprinted today joins bit-for-bit
against signatures stored last month) is written once as a
``partitionBy(band)`` parquet layout with a versioned params sidecar
(the PQ provenance rule: a layout probed with different
num_hashes/bands/shingle_n/seed than it was built under silently loses
recall, so mismatches are refused, never guessed), and each new batch
joins its OWN bands (O(batch) fingerprint work) against the stored
relation.

Scale shape of the probe (``dedup_against``):

- the new batch's bands are computed once and lazily checkpointed;
- its distinct (band, band_key) set — tiny next to history — is
  broadcast (bounded probe, shuffle fallback) to SEMI-JOIN the stored
  layout, so history is scanned (columnar, two skinny columns) but
  never shuffled and never re-hashed;
- ``mode="reps"`` (default) aggregates the surviving history rows to
  one bucket-min representative per bucket before the final join —
  O(batch-bands) output even when a bucket holds a 100k-member
  boilerplate family (the star-edges argument, dedup.py); pass
  ``mode="pairs"`` when the complete (new, hist) collision list is the
  contract.

Reference analog: kowari maintains its LSH bucket index in memory
(src/index.rs:124-156) rather than re-hashing the collection per
query; this module is the text-fingerprint counterpart of that
hash-once-probe-many economics, durably on disk because a 100 TB
corpus's signatures outlive any one process.

Steady-state loop guidance (measured, BASELINE.md round 10): probe
cost stays flat across sequential filter→append batches — no creep
from history growth (the reps bound) and none from file accumulation
until partition file counts reach the tens, so compaction
(``streaming.ingest.compact_bucketed_layout``) is a maintenance-window
job whose cadence scales with APPEND RATE, not corpus size — its
``max_files=4`` per-partition trigger ≈ every 4+ appends is the
default rhythm.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kowari_spark.operators.dedup import minhash_bands

_META_NAME = "_minhash_meta.json"
#: bump when the signature arithmetic changes — stored signatures from
#: a different algorithm version must be refused on load, not joined
_LAYOUT_VERSION = "minhash-bands-v1"

#: broadcast the new batch's distinct bucket keys only below this row
#: count (bounded limit-probe); above it the semi-join shuffles instead.
#: Sized by bytes, not just rows: a minhash key row is (int band,
#: 32-char md5 band_key) ≈ 50-100 B deserialized, so 100k rows is a
#: ~5-10 MB broadcast — safe on small executors; the old 1M default
#: could reach ~100 MB per executor (ADVICE r9). Callers with big
#: executors and huge batches can raise it per call.
_BROADCAST_KEYS_MAX = 100_000


def build_minhash_layout(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 42,
    store_sigs: bool = True,
) -> None:
    """Fingerprint ``df`` once and persist its banded signature relation
    as a ``partitionBy(band)`` layout with a versioned sidecar. The
    layout stores (id, band, band_key) — ~``bands`` skinny rows per
    document regardless of document size — so the 100 TB corpus's dedup
    state is a small fraction of the corpus itself. ``store_sigs``
    (default) also carries the full minhash vector per band row
    (num_hashes longs): the price of ``dedup_against``'s
    ``verify_threshold`` signature-agreement verification, which needs
    no history text; pass False for the skinniest membership-only
    layout."""
    from kowari_spark.fsutil import write_bytes

    banded = minhash_bands(
        df, text_col, id_col, num_hashes, bands, shingle_n, seed,
        with_sig=store_sigs,
    )
    banded.write.mode("overwrite").partitionBy("band").parquet(path)
    meta = {
        "version": _LAYOUT_VERSION,
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "seed": seed,
        "id_col": id_col,
        "text_col": text_col,
        "store_sigs": store_sigs,
    }
    write_bytes(
        df.sparkSession, f"{path}/{_META_NAME}", json.dumps(meta).encode()
    )


#: pending logical deletes live here — "_"-prefixed, so the parquet
#: reader never mixes them into the data relation and the file-stats
#: walk skips them
_TOMBSTONES_DIR = "_tombstones"


def _minus_tombstones(spark, path: str, df: DataFrame, id_col: str):
    """Subtract the layout's tombstone log (pending logical deletes,
    ``SignatureLayout.delete(mode="tombstone")``) from a loaded history
    relation — the probe-time half of the tombstone design: a doomed
    id stops matching probes the moment its tombstone lands, at the
    cost of ONE broadcast anti-join, while the physical partition
    rewrite waits for the compaction window (``apply_deletes``).

    The log SHOULD be maintenance-sized by cadence contract (apply
    folds into ``compact()``; a keep-list-complement-scale delete
    belongs on ``mode="rewrite"``) — but that contract is enforced,
    not assumed: a bounded size probe (limit(T+1).count(), never a
    full pass) broadcasts only logs proven under the delete-set
    threshold and falls back to a plain shuffle anti-join for anything
    bigger, instead of OOMing the broadcast (VERDICT r12 #3). No log
    dir → zero cost (one existence check, no join in the plan)."""
    from kowari_spark.fsutil import exists
    from kowari_spark.streaming.ingest import (
        _DELETE_BROADCAST_MAX,
        _delete_join_hint,
    )

    tpath = f"{path}/{_TOMBSTONES_DIR}"
    if not exists(spark, tpath):
        return df
    doomed = (
        spark.read.parquet(tpath)
        .select(
            F.col("__tomb_id").cast(df.schema[id_col].dataType).alias(id_col)
        )
        .distinct()
    )
    _b = _delete_join_hint(doomed, _DELETE_BROADCAST_MAX)
    return df.join(_b(doomed), id_col, "left_anti")


def load_minhash_layout(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """Open a built signature layout: (bands DataFrame, meta). Refuses
    sidecar-less or version-mismatched dirs — signatures joined across
    diverged arithmetic silently miss every duplicate. Tombstoned ids
    (pending logical deletes) are already subtracted."""
    from kowari_spark.fsutil import exists, read_bytes

    meta_path = f"{path}/{_META_NAME}"
    if not exists(spark, meta_path):
        raise ValueError(
            f"no {_META_NAME} sidecar at {path}: not a minhash signature "
            "layout built by build_minhash_layout()"
        )
    meta = json.loads(read_bytes(spark, meta_path).decode())
    ver = meta.get("version")
    if ver != _LAYOUT_VERSION:
        raise ValueError(
            f"minhash layout at {path} was built by {ver!r}; this code "
            f"joins {_LAYOUT_VERSION!r} signatures — rebuild the layout"
        )
    hist = spark.read.parquet(path)
    return _minus_tombstones(spark, path, hist, meta["id_col"]), meta


def _new_bands(meta: dict, new_df: DataFrame) -> DataFrame:
    """The new batch's bands under the LAYOUT's params (never the
    caller's — a num_hashes/seed drift between build and probe is the
    silent-recall-loss failure the sidecar exists to prevent).
    Signature columns ride along iff the layout stores them, so appends
    and probes stay schema-identical to the stored relation."""
    return minhash_bands(
        new_df,
        text_col=meta["text_col"],
        id_col=meta["id_col"],
        num_hashes=meta["num_hashes"],
        bands=meta["bands"],
        shingle_n=meta["shingle_n"],
        seed=meta["seed"],
        with_sig=bool(meta.get("store_sigs", False)),
    )


def dedup_against(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    mode: str = "reps",
    verify_threshold: float | None = None,
    broadcast_keys_max: int = _BROADCAST_KEYS_MAX,
) -> DataFrame:
    """Near-dup candidates of a NEW batch against the STORED corpus
    signatures: (new_id, hist_id) distinct, where the two documents
    share at least one LSH band. History is scanned but never
    re-fingerprinted and never shuffled (broadcast semi-join on the
    batch's bucket keys; bounded probe with a shuffle fallback).

    ``mode="reps"`` (default) returns one bucket-min history
    representative per matched bucket — O(batch) output rows even
    against a boilerplate family of any size, and exactly what a
    keep/drop decision needs; ``mode="pairs"`` returns the complete
    collision list (the oracle-replayable contract shape).

    ``verify_threshold`` adds signature-agreement verification from
    STORED state (layouts built with ``store_sigs=True``, the
    default): est_jaccard = (matching minhash positions)/num_hashes —
    the unbiased standard estimator E[match] = J — and only pairs with
    the rounded estimate >= threshold survive, with the estimate
    returned as an ``est_jaccard`` column. No history text is touched;
    exact-Jaccard verification (needs text) remains the caller's
    option via ``operators.dedup.jaccard_pairs``. In reps mode the
    bucket-min representative is what gets verified (the verified-star
    trade). Without it, the band collision itself is the (CCNet-style)
    dedup criterion — tune banding via
    ``operators.dedup.minhash_banding``."""
    hist, meta = load_minhash_layout(spark, path)
    return _minhash_dedup_against(
        hist, meta, new_df, mode, verify_threshold, broadcast_keys_max
    )


def _minhash_dedup_against(
    hist: DataFrame,
    meta: dict,
    new_df: DataFrame,
    mode: str = "reps",
    verify_threshold: float | None = None,
    broadcast_keys_max: int = _BROADCAST_KEYS_MAX,
) -> DataFrame:
    """Probe body over an already-loaded (hist, meta) pair — the one
    sidecar read per public call (ADVICE r9: ``filter_new_against``
    used to load it twice)."""
    if mode not in ("reps", "pairs"):
        raise ValueError(f"mode must be 'reps' or 'pairs', got {mode!r}")
    id_col = meta["id_col"]
    verify = verify_threshold is not None
    if verify and not meta.get("store_sigs", False):
        raise ValueError(
            "verify_threshold needs stored signatures — this layout was "
            "built with store_sigs=False; rebuild with store_sigs=True"
        )
    # checkpoint: the batch's fingerprint subtree feeds the key probe,
    # the semi-join AND the final equi-join — compute it once
    bands_new = _new_bands(meta, new_df).localCheckpoint(eager=False)
    keys = bands_new.select("band", "band_key").distinct()
    if keys.limit(broadcast_keys_max + 1).count() <= broadcast_keys_max:
        keys = F.broadcast(keys)
    hits = hist.join(keys, ["band", "band_key"], "left_semi")
    sig_h = (
        [F.min_by(F.col("sig"), F.col(id_col)).alias("sig_h")]
        if verify else []
    )
    if mode == "reps":
        hist_side = hits.groupBy("band", "band_key").agg(
            F.min(id_col).alias("hist_id"), *sig_h
        )
    else:
        hist_side = hits.select(
            "band", "band_key", F.col(id_col).alias("hist_id"),
            *([F.col("sig").alias("sig_h")] if verify else []),
        )
    joined = bands_new.join(hist_side, ["band", "band_key"])
    if not verify:
        return joined.select(
            F.col(id_col).alias("new_id"), "hist_id"
        ).distinct()
    agree = F.size(
        F.filter(
            F.zip_with("sig", "sig_h", lambda x, y: x == y),
            lambda b: b,
        )
    )
    est = (
        F.round(agree / F.lit(int(meta["num_hashes"])), 6) + F.lit(0.0)
    ).alias("est_jaccard")
    return (
        joined.select(F.col(id_col).alias("new_id"), "hist_id", est)
        .filter(F.col("est_jaccard") >= F.lit(float(verify_threshold)))
        .distinct()
    )


def filter_new_against(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    broadcast_keys_max: int = _BROADCAST_KEYS_MAX,
) -> DataFrame:
    """The incremental-dedup keep filter: rows of ``new_df`` whose
    document collides with NO stored signature — the batch that should
    proceed into ingestion. One representative per bucket is enough to
    decide membership, so this rides ``mode="reps"``.

    Scope note: this filters the batch AGAINST HISTORY only. Dups
    WITHIN the batch are the standard single-DataFrame operators' job
    (``dedup.minhash_dedup_pairs`` → ``dedup_keep_representatives``) —
    run them first, then the history filter, then append the survivors
    (the order the pipeline demo shows); appending an internally-dirty
    batch is still safe (later batches match its signatures) but keeps
    the batch's own duplicates."""
    hist, meta = load_minhash_layout(spark, path)
    id_col = meta["id_col"]
    matched = (
        _minhash_dedup_against(
            hist, meta, new_df, "reps", None, broadcast_keys_max
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(matched, id_col, "left_anti")


# -- simhash variant ----------------------------------------------------
#
# SimHash stores MORE than membership keys: the fingerprint itself is
# the verifier (Hamming distance is computed from two stored longs), so
# unlike the minhash layout — whose Jaccard verification needs document
# text the layout doesn't keep — the simhash incremental path is fully
# VERIFIED from stored state alone. Layout: (id, simhash) partitioned
# by the top-``block_bits`` block (near fingerprints overwhelmingly
# share it — the same blocking simhash_near_pairs uses), so a batch
# probe is PARTITION-PRUNED to its own blocks.

_SIMHASH_META_NAME = "_simhash_meta.json"
_SIMHASH_LAYOUT_VERSION = "simhash-blocks-v1"


def build_simhash_layout(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    block_bits: int = 8,
) -> None:
    """Fingerprint ``df`` once and persist (id, simhash) partitioned by
    the top-``block_bits`` block, with a versioned params sidecar."""
    from kowari_spark.fsutil import write_bytes
    from kowari_spark.operators.dedup import simhash_fingerprints

    fp = simhash_fingerprints(df, text_col, id_col, bits).withColumn(
        "block", F.shiftright(F.col("simhash"), bits - block_bits)
    )
    fp.write.mode("overwrite").partitionBy("block").parquet(path)
    meta = {
        "version": _SIMHASH_LAYOUT_VERSION,
        "bits": bits,
        "block_bits": block_bits,
        "id_col": id_col,
        "text_col": text_col,
    }
    write_bytes(
        df.sparkSession, f"{path}/{_SIMHASH_META_NAME}",
        json.dumps(meta).encode(),
    )


def load_simhash_layout(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """Open a built simhash layout: (fingerprints DataFrame, meta);
    refuses sidecar-less or version-mismatched dirs."""
    from kowari_spark.fsutil import exists, read_bytes

    meta_path = f"{path}/{_SIMHASH_META_NAME}"
    if not exists(spark, meta_path):
        raise ValueError(
            f"no {_SIMHASH_META_NAME} sidecar at {path}: not a simhash "
            "layout built by build_simhash_layout()"
        )
    meta = json.loads(read_bytes(spark, meta_path).decode())
    ver = meta.get("version")
    if ver != _SIMHASH_LAYOUT_VERSION:
        raise ValueError(
            f"simhash layout at {path} was built by {ver!r}; this code "
            f"joins {_SIMHASH_LAYOUT_VERSION!r} fingerprints — rebuild "
            "the layout"
        )
    hist = spark.read.parquet(path)
    return _minus_tombstones(spark, path, hist, meta["id_col"]), meta


#: literal block-IN filters stay readable and plan-cheap below this
#: many values; a batch touching more distinct blocks falls back to a
#: broadcast semi-join (no static pruning, still no history shuffle)
_BLOCK_ISIN_MAX = 4096


def simhash_dedup_against(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    max_hamming: int = 3,
    mode: str = "reps",
) -> DataFrame:
    """VERIFIED near-dup pairs of a new batch against stored simhash
    fingerprints: (new_id, hist_id, hamming) with Hamming distance
    <= ``max_hamming``, computed entirely from stored state (no history
    text needed — the fingerprint IS the verifier). The batch's
    distinct block set is collected (BOUNDED by construction: at most
    2^block_bits values, 256 at the default) into a literal IN filter,
    so the history scan is STATICALLY partition-pruned to the batch's
    own blocks (plan-gated in tests); batches touching more than
    ``_BLOCK_ISIN_MAX`` blocks fall back to a broadcast semi-join —
    pruning lost, history still never shuffled.

    ``mode="reps"`` (default) Hamming-verifies each batch fingerprint
    against the per-block MIN-id history row only — the block-min's
    fingerprint rides the same partial aggregate via ``min_by``, so
    the join emits O(|batch|) scored rows per block no matter how many
    history rows the block holds (a boilerplate family shares one
    block by construction — the exact hot-block shape VERDICT r9
    flagged). The verified-star trade applies exactly as in the
    minhash/winnow/embedding reps probes: a block-min beyond
    ``max_hamming`` of a member can hide that member's true match
    (every emitted edge is still exactly verified). ``mode="pairs"``
    joins block-on-block and emits the complete verified collision
    list — |new_block|·|hist_block| scored rows per block, linear in
    history; the oracle-replayable contract shape, for bounded
    histories only."""
    hist, meta = load_simhash_layout(spark, path)
    return _simhash_dedup_against(hist, meta, new_df, max_hamming, mode)


def _simhash_dedup_against(
    hist: DataFrame,
    meta: dict,
    new_df: DataFrame,
    max_hamming: int = 3,
    mode: str = "reps",
) -> DataFrame:
    """Probe body over an already-loaded (hist, meta) pair."""
    if mode not in ("reps", "pairs"):
        raise ValueError(f"mode must be 'reps' or 'pairs', got {mode!r}")
    id_col = meta["id_col"]
    bits, block_bits = meta["bits"], meta["block_bits"]
    from kowari_spark.operators.dedup import simhash_fingerprints

    fp_new = (
        simhash_fingerprints(new_df, meta["text_col"], id_col, bits)
        .withColumn(
            "block", F.shiftright(F.col("simhash"), bits - block_bits)
        )
        .localCheckpoint(eager=False)
    )
    blocks = [
        r["block"]
        for r in fp_new.select("block").distinct()
        .limit(_BLOCK_ISIN_MAX + 1).collect()
    ]
    if len(blocks) <= _BLOCK_ISIN_MAX:
        pruned = hist.filter(F.col("block").isin(blocks))
    else:
        pruned = hist.join(
            F.broadcast(fp_new.select("block").distinct()),
            ["block"], "left_semi",
        )
    if mode == "reps":
        # one representative per block, fingerprint carried through the
        # partial aggregate — the history side collapses BEFORE the join
        hits = pruned.groupBy("block").agg(
            F.min(id_col).alias("hist_id"),
            F.min_by(F.col("simhash"), F.col(id_col)).alias("sh_h"),
        )
    else:
        hits = pruned.select(
            "block", F.col(id_col).alias("hist_id"),
            F.col("simhash").alias("sh_h"),
        )
    return (
        fp_new.select(
            "block", F.col(id_col).alias("new_id"),
            F.col("simhash").alias("sh_n"),
        )
        .join(hits, "block")
        .withColumn(
            "hamming", F.bit_count(F.col("sh_n").bitwiseXOR(F.col("sh_h")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("new_id", "hist_id", "hamming")
        .distinct()
    )


def simhash_filter_new_against(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """Keep filter over the verified simhash probe: rows of ``new_df``
    whose fingerprint is within ``max_hamming`` of NO block-min
    history representative (reps mode — the scale shape; the
    verified-star trade means a member-only match can slip through,
    the same contract as every sibling ``*_filter_new_against``)."""
    hist, meta = load_simhash_layout(spark, path)
    id_col = meta["id_col"]
    matched = (
        _simhash_dedup_against(hist, meta, new_df, max_hamming, "reps")
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(matched, id_col, "left_anti")


def append_simhash_layout(
    spark: SparkSession, path: str, new_df: DataFrame
) -> None:
    """Fingerprint ``new_df`` under the layout's stored params and
    append — the minhash append's verified sibling."""
    _, meta = load_simhash_layout(spark, path)
    from kowari_spark.operators.dedup import simhash_fingerprints

    bits, block_bits = meta["bits"], meta["block_bits"]
    fp = simhash_fingerprints(
        new_df, meta["text_col"], meta["id_col"], bits
    ).withColumn("block", F.shiftright(F.col("simhash"), bits - block_bits))
    fp.write.mode("append").partitionBy("block").parquet(path)


# -- embedding variant (stored SignLSH layout) ----------------------------
#
# The vector side already persists its index (SignLSH.build /
# stream_into_lsh_layout: full rows partitionBy(bucket)) — the stored
# layout holds the EMBEDDINGS, so incremental near-dup against it is
# fully cosine-VERIFIED from stored state, and the partition layout
# gives the probe real static pruning (bucket space bounded by
# 2^num_planes, same bounded-literal-IN argument as the simhash
# blocks).


def embedding_near_dups_against(
    spark: SparkSession,
    lsh,
    path: str,
    new_df: DataFrame,
    threshold: float,
    id_col: str = "id",
    vec_col: str = "embedding",
    round_to: int | None = None,
    mode: str = "reps",
) -> DataFrame:
    """Cosine-verified near-dups of a NEW vector batch against a stored
    ``SignLSH`` layout (``SignLSH.build`` / the streaming LSH sink):
    (new_id, hist_id, cos) with cos >= ``threshold``. The batch hashes
    only itself under the layout's planes; its distinct buckets
    (bounded by 2^num_planes) become a literal IN filter, so the
    history scan is statically partition-pruned to matching bucket
    directories and verification reads the STORED vectors — history is
    never re-hashed and never shuffled.

    Plane provenance: pass ``lsh=None`` to RECONSTRUCT the hashing
    instance from the layout's params sidecar (``open_lsh_layout`` —
    the safe default for stored state); an explicitly-passed instance
    is validated against the sidecar by its own ``load`` and refused
    on mismatch (a differently-seeded/planed prober hashes the batch
    into the wrong buckets and silently misses every duplicate).
    Legacy sidecar-less layouts require the explicit instance.

    ``mode="reps"`` verifies each new vector against the bucket-min
    history row only — O(batch) scored rows per bucket regardless of
    history bucket size (the verified-star trade: a representative
    outside the threshold can hide a member within it);
    ``mode="pairs"`` scores every (new, hist) co-bucket pair (the
    oracle-replayable contract shape).

    ``MultiSignLSH`` and ``CrossPolytopeLSH`` layouts
    (partitionBy(__tbl, bucket), the OR-construction recall configs)
    work identically — pruning becomes per-table IN lists over the
    (table, bucket) tuples, and a pair colliding in several tables is
    scored per collision then collapsed by the final distinct
    (identical cos each time). CP-LSH additionally gets its params
    sidecar validated by its own ``load``."""
    from kowari_spark.functions.vector import magnitude
    from kowari_spark.operators.cplsh import CrossPolytopeLSH
    from kowari_spark.operators.dedup import _pair_cosine
    from kowari_spark.operators.lsh import MultiSignLSH, SignLSH

    if lsh is None:
        lsh, _ = open_lsh_layout(spark, path)
    if isinstance(lsh, (MultiSignLSH, CrossPolytopeLSH)):
        bucket_cols = ["__tbl", "bucket"]
    elif isinstance(lsh, SignLSH):
        bucket_cols = ["bucket"]
    else:
        raise TypeError(
            f"lsh must be a SignLSH, MultiSignLSH or CrossPolytopeLSH "
            f"(the bucket-partitioned layout families), got "
            f"{type(lsh).__name__}"
        )
    if mode not in ("reps", "pairs"):
        raise ValueError(f"mode must be 'reps' or 'pairs', got {mode!r}")
    hist = lsh.load(spark, path)
    bn = lsh.with_buckets(
        new_df.select(id_col, vec_col), vec_col
    ).localCheckpoint(eager=False)
    keys = [
        tuple(r)
        for r in bn.select(*bucket_cols).distinct()
        .limit(_BLOCK_ISIN_MAX + 1).collect()
    ]
    if len(keys) <= _BLOCK_ISIN_MAX:
        if len(bucket_cols) == 1:
            pred = F.col("bucket").isin([k[0] for k in keys])
        else:
            by_tbl: dict = {}
            for t, b in keys:
                by_tbl.setdefault(t, []).append(b)
            pred = None
            for t in sorted(by_tbl):
                term = (F.col("__tbl") == t) & F.col("bucket").isin(
                    by_tbl[t]
                )
                pred = term if pred is None else (pred | term)
        pruned = hist.filter(pred)
    else:
        pruned = hist.join(
            F.broadcast(bn.select(*bucket_cols).distinct()),
            bucket_cols, "left_semi",
        )
    if mode == "reps":
        hside = pruned.groupBy(*bucket_cols).agg(
            F.min(id_col).alias("hist_id"),
            F.min_by(F.col(vec_col), F.col(id_col)).alias("vb"),
        )
    else:
        hside = pruned.select(
            *bucket_cols, F.col(id_col).alias("hist_id"),
            F.col(vec_col).alias("vb"),
        )
    hside = hside.withColumn("nb", magnitude("vb"))
    nn = bn.select(
        *bucket_cols, F.col(id_col).alias("new_id"),
        F.col(vec_col).alias("va"),
        magnitude(vec_col).alias("na"),
    )
    cos = _pair_cosine()
    if round_to is not None:
        cos = F.round(cos, round_to) + F.lit(0.0)
    return (
        nn.join(hside, bucket_cols)
        .select("new_id", "hist_id", cos.alias("cos"))
        .filter(F.col("cos") >= F.lit(float(threshold)))
        .distinct()
    )


def embedding_filter_new_against(
    spark: SparkSession,
    lsh,
    path: str,
    new_df: DataFrame,
    threshold: float,
    id_col: str = "id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Keep filter over the stored-layout probe: rows of ``new_df``
    whose vector is within ``threshold`` of NO bucket representative
    (reps mode — the scale shape)."""
    matched = (
        embedding_near_dups_against(
            spark, lsh, path, new_df, threshold,
            id_col=id_col, vec_col=vec_col, round_to=round_to,
            mode="reps",
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(matched, id_col, "left_anti")


def open_lsh_layout(spark: SparkSession, path: str):
    """(hashing instance, meta) for a stored embedding layout,
    reconstructed from whichever params sidecar it carries —
    ``_lsh_meta.json`` (SignLSH / MultiSignLSH) or ``_cplsh_meta.json``
    (CrossPolytopeLSH; planes are a pure function of the recorded
    params in every family, so reconstruction is exact). Refuses
    sidecar-less dirs (legacy layouts: pass the owning instance
    explicitly) and sidecars whose version/params this build cannot
    reproduce — stored state must validate its reader, never guess."""
    import json

    from kowari_spark.fsutil import exists, read_bytes
    from kowari_spark.operators.cplsh import CrossPolytopeLSH
    from kowari_spark.operators.lsh import (
        _LSH_META_NAME,
        MultiSignLSH,
        SignLSH,
        _refuse_gemm_buckets,
    )

    sign_meta = f"{path}/{_LSH_META_NAME}"
    cp_meta = f"{path}/{CrossPolytopeLSH._META_NAME}"
    if exists(spark, sign_meta):
        meta = json.loads(read_bytes(spark, sign_meta).decode())
        fam = meta.get("family")
        if fam == "sign":
            inst = SignLSH(
                dim=meta["dim"], num_planes=meta["num_planes"],
                seed=meta["seed"],
            )
        elif fam == "multisign":
            _refuse_gemm_buckets(meta, path)
            inst = MultiSignLSH(
                dim=meta["dim"], num_planes=meta["num_planes"],
                num_tables=meta["num_tables"], seed=meta["seed"],
            )
        else:
            raise ValueError(
                f"unknown LSH family {fam!r} in sidecar at {path}"
            )
    elif exists(spark, cp_meta):
        meta = json.loads(read_bytes(spark, cp_meta).decode())
        inst = CrossPolytopeLSH(
            dim=meta["dim"], num_tables=meta["num_tables"],
            seed=meta["seed"],
        )
    else:
        raise ValueError(
            f"no LSH params sidecar at {path}: not a layout built by "
            "SignLSH/MultiSignLSH/CrossPolytopeLSH.build or the "
            "streaming LSH sink (legacy layouts predate the sidecar — "
            "pass the owning instance explicitly, or rebuild)"
        )
    want = inst._params()
    if {k: meta.get(k) for k in want} != want:
        raise ValueError(
            f"LSH layout at {path} was hashed under {meta}, which this "
            f"build reconstructs as {want} — version drift; rebuild "
            "the layout"
        )
    return inst, meta


def append_lsh_layout(
    spark: SparkSession, path: str, new_df: DataFrame
) -> None:
    """Hash ``new_df`` under the layout's STORED params (sidecar
    reconstruction — a stale caller instance can't mis-bucket the
    append) and append into the bucket-partitioned layout. The
    repartition on the partition key(s) keeps one file per touched
    bucket per append (the build's file-count discipline);
    ``streaming.ingest.compact_bucketed_layout`` bounds accumulation
    across appends."""
    from kowari_spark.fsutil import write_parallelism

    inst, meta = open_lsh_layout(spark, path)
    bucketed = inst.with_buckets(new_df, meta.get("vec_col", "embedding"))
    cols = ["__tbl", "bucket"] if "__tbl" in bucketed.columns else ["bucket"]
    bucketed.repartition(
        write_parallelism(bucketed), *[F.col(c) for c in cols]
    ).write.mode("append").partitionBy(*cols).parquet(path)


# -- winnowing variant ---------------------------------------------------
#
# The third signature family: winnowing fingerprints (MOSS) catch
# documents sharing a long RUN of tokens — boilerplate, quoted
# passages, templated text — that whole-document minhash dilutes and
# simhash averages away. The shared-fingerprint count is computed
# entirely from stored state (like simhash's Hamming), so the
# incremental probe is verified-by-construction: ``shared`` IS the
# match evidence, thresholded by ``min_shared`` exactly as
# ``dedup.winnow_pairs`` does. Layout: (id, fp) distinct, partitioned
# by ``fpb = pmod(fp, 64)`` — NOT for pruning (a batch's fingerprints
# hash across all 64 buckets) but to give appends bounded compaction
# units (``compact_bucketed_layout(partition_col="fpb")``).

_WINNOW_META_NAME = "_winnow_meta.json"
_WINNOW_LAYOUT_VERSION = "winnow-fps-v1"
_WINNOW_FPB = 64


def build_winnow_layout(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    window: int = 4,
) -> None:
    """Fingerprint ``df`` once (winnowing: k-token grams, window-min
    selection) and persist (id, fp) with a versioned params sidecar."""
    from kowari_spark.fsutil import write_bytes
    from kowari_spark.operators.dedup import winnow_fps

    fps = winnow_fps(df, k, window, id_col, text_col).withColumn(
        "fpb", F.pmod(F.col("fp"), F.lit(_WINNOW_FPB))
    )
    fps.write.mode("overwrite").partitionBy("fpb").parquet(path)
    meta = {
        "version": _WINNOW_LAYOUT_VERSION,
        "k": k,
        "window": window,
        "id_col": id_col,
        "text_col": text_col,
    }
    write_bytes(
        df.sparkSession, f"{path}/{_WINNOW_META_NAME}",
        json.dumps(meta).encode(),
    )


def load_winnow_layout(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """Open a built winnow layout: (fingerprints DataFrame, meta);
    refuses sidecar-less or version-mismatched dirs."""
    from kowari_spark.fsutil import exists, read_bytes

    meta_path = f"{path}/{_WINNOW_META_NAME}"
    if not exists(spark, meta_path):
        raise ValueError(
            f"no {_WINNOW_META_NAME} sidecar at {path}: not a winnow "
            "layout built by build_winnow_layout()"
        )
    meta = json.loads(read_bytes(spark, meta_path).decode())
    ver = meta.get("version")
    if ver != _WINNOW_LAYOUT_VERSION:
        raise ValueError(
            f"winnow layout at {path} was built by {ver!r}; this code "
            f"joins {_WINNOW_LAYOUT_VERSION!r} fingerprints — rebuild "
            "the layout"
        )
    hist = spark.read.parquet(path)
    return _minus_tombstones(spark, path, hist, meta["id_col"]), meta


def _winnow_new_fps(meta: dict, new_df: DataFrame) -> DataFrame:
    from kowari_spark.operators.dedup import winnow_fps

    return winnow_fps(
        new_df, meta["k"], meta["window"], meta["id_col"], meta["text_col"]
    )


def winnow_dedup_against(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    min_shared: int = 2,
    mode: str = "reps",
    broadcast_keys_max: int = _BROADCAST_KEYS_MAX,
) -> DataFrame:
    """Substring-robust incremental dedup: (new_id, hist_id, shared)
    where the new document shares at least ``min_shared`` stored
    winnowing fingerprints with the history document — verified from
    stored state by construction (the shared count IS the evidence,
    the same criterion as ``dedup.winnow_pairs``). The batch's
    distinct fingerprint set is broadcast (bounded probe, shuffle
    fallback) to semi-join the layout — history scanned, never
    re-fingerprinted, never shuffled for candidate pruning.

    ``mode="reps"`` (default) joins against the per-fingerprint MIN
    history id only — O(batch fingerprints) join output even when one
    boilerplate fingerprint occurs in 100k history docs; ``shared``
    then counts fingerprints where THAT member co-occurs with THAT min
    (a lower bound — the ``doc_winnow_star`` semantics, so
    ``min_shared`` prunes at least as hard). ``mode="pairs"`` emits
    the complete per-pair shared counts (O(|new_fp|·|hist_fp|) rows on
    a hot fingerprint — the exact contract shape)."""
    hist, meta = load_winnow_layout(spark, path)
    return _winnow_dedup_against(
        hist, meta, new_df, min_shared, mode, broadcast_keys_max
    )


def _winnow_dedup_against(
    hist: DataFrame,
    meta: dict,
    new_df: DataFrame,
    min_shared: int = 2,
    mode: str = "reps",
    broadcast_keys_max: int = _BROADCAST_KEYS_MAX,
) -> DataFrame:
    """Probe body over an already-loaded (hist, meta) pair."""
    if mode not in ("reps", "pairs"):
        raise ValueError(f"mode must be 'reps' or 'pairs', got {mode!r}")
    id_col = meta["id_col"]
    fps_new = _winnow_new_fps(meta, new_df).localCheckpoint(eager=False)
    keys = fps_new.select("fp").distinct()
    if keys.limit(broadcast_keys_max + 1).count() <= broadcast_keys_max:
        keys = F.broadcast(keys)
    hits = hist.join(keys, ["fp"], "left_semi")
    if mode == "reps":
        # the min aggregate is immune to duplicated layout rows
        hist_side = hits.groupBy("fp").agg(F.min(id_col).alias("hist_id"))
    else:
        # distinct per (fp, hist_id): ``shared`` counts FINGERPRINTS, so
        # a retried/overlapping append that duplicated layout rows must
        # not double-count them past min_shared (ADVICE r9)
        hist_side = hits.select(
            "fp", F.col(id_col).alias("hist_id")
        ).distinct()
    return (
        fps_new.join(hist_side, "fp")
        .groupBy(F.col(id_col).alias("new_id"), F.col("hist_id"))
        .agg(F.count("*").cast("long").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def winnow_filter_new_against(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    min_shared: int = 2,
    broadcast_keys_max: int = _BROADCAST_KEYS_MAX,
) -> DataFrame:
    """Keep filter over the winnow probe: rows of ``new_df`` sharing
    fewer than ``min_shared`` stored fingerprints with EVERY history
    representative (reps mode — the scale shape)."""
    hist, meta = load_winnow_layout(spark, path)
    id_col = meta["id_col"]
    matched = (
        _winnow_dedup_against(
            hist, meta, new_df, min_shared, "reps", broadcast_keys_max
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(matched, id_col, "left_anti")


def append_winnow_layout(
    spark: SparkSession, path: str, new_df: DataFrame
) -> None:
    """Fingerprint ``new_df`` under the layout's stored params and
    append its (id, fp) rows."""
    _, meta = load_winnow_layout(spark, path)
    fps = _winnow_new_fps(meta, new_df).withColumn(
        "fpb", F.pmod(F.col("fp"), F.lit(_WINNOW_FPB))
    )
    fps.write.mode("append").partitionBy("fpb").parquet(path)


# -- media variant ---------------------------------------------------------
#
# The fourth signature family (VERDICT r9 missing #1): perceptual-hash
# media dedup gets the same persisted-layout incremental path as
# minhash/simhash/winnow. The dHash fingerprint is ONE stored long, so
# — exactly like simhash — the probe is fully Hamming-VERIFIED from
# stored state (no history media is ever re-decoded), and the banded
# split (media_near_dups' pigeonhole scheme: any pair within Hamming
# ``bands - 1`` agrees on >= 1 band) gives the layout real pruning
# keys. Layout rows: (id, phash, bv) where ``bv = band * 2^w + value``
# packs the (band index, band value) bucket into ONE partition column —
# the bucket space is bounded (bands * 2^w = 2048 at the defaults), so
# a batch's distinct bucket list becomes a literal IN filter that
# statically partition-prunes the history scan, and appends get
# bounded compaction units (compact_bucketed_layout(partition_col="bv")).
# Designed reps-FIRST (the r9 simhash lesson): the default probe
# Hamming-verifies each batch fingerprint against the per-bucket
# min-id history row only.

_MEDIA_META_NAME = "_media_meta.json"
_MEDIA_LAYOUT_VERSION = "media-dhash-v1"


def _media_banded(meta: dict, ph: DataFrame) -> DataFrame:
    """Banded bucket rows (id, phash, bv) of a phash relation under the
    layout's params — the relation the layout stores and every probe
    joins on. One row per (media, band); the full fingerprint rides
    each row so verification never needs the media bytes."""
    bands = meta["bands"]
    w = meta["hash_size"] * meta["hash_size"] // bands
    mask = (1 << w) - 1
    id_col = meta["id_col"]
    # the band index is packed into the value (bucket i's values live
    # in [i*2^w, (i+1)*2^w)), so a plain explode carries the full
    # (band, value) identity in one partitionable long
    bv = F.explode(
        F.array(
            *[
                F.shiftrightunsigned(F.col("phash"), i * w)
                .bitwiseAND(F.lit(mask))
                + F.lit(i * (mask + 1))
                for i in range(bands)
            ]
        )
    ).alias("bv")
    return ph.select(F.col(id_col), F.col("phash"), bv)


def _media_phash_under(meta: dict, new_df: DataFrame) -> DataFrame:
    from kowari_spark.operators.multimodal import media_phash

    return media_phash(
        new_df,
        media_col=meta["media_col"],
        id_col=meta["id_col"],
        codec=meta["codec"],
        hash_size=meta["hash_size"],
        frame=meta["frame"],
    ).drop("kind")


def build_media_layout(
    df: DataFrame,
    path: str,
    media_col: str = "media",
    id_col: str = "media_id",
    codec: str = "kwm",
    hash_size: int = 8,
    bands: int = 8,
    frame: int = 0,
) -> None:
    """Decode + dHash-fingerprint ``df`` once (Arrow-batched
    ``media_phash``, the only pass that touches media bytes) and
    persist the banded bucket relation partitionBy(bv) with a versioned
    params sidecar. ``bands`` bounds the probe's verifiable Hamming
    radius: ``media_dedup_against(max_hamming <= bands - 1)`` is exact
    by pigeonhole over these buckets."""
    from kowari_spark.fsutil import write_bytes

    nbits = hash_size * hash_size
    if nbits % bands:
        raise ValueError(
            f"{nbits} hash bits don't split into {bands} bands"
        )
    meta = {
        "version": _MEDIA_LAYOUT_VERSION,
        "hash_size": hash_size,
        "bands": bands,
        "codec": codec,
        "frame": frame,
        "id_col": id_col,
        "media_col": media_col,
    }
    ph = _media_phash_under(meta, df)
    _media_banded(meta, ph).write.mode("overwrite").partitionBy(
        "bv"
    ).parquet(path)
    write_bytes(
        df.sparkSession, f"{path}/{_MEDIA_META_NAME}",
        json.dumps(meta).encode(),
    )


def load_media_layout(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """Open a built media layout: (banded DataFrame, meta); refuses
    sidecar-less or version-mismatched dirs — fingerprints joined
    across diverged dHash params silently miss every duplicate."""
    from kowari_spark.fsutil import exists, read_bytes

    meta_path = f"{path}/{_MEDIA_META_NAME}"
    if not exists(spark, meta_path):
        raise ValueError(
            f"no {_MEDIA_META_NAME} sidecar at {path}: not a media "
            "layout built by build_media_layout()"
        )
    meta = json.loads(read_bytes(spark, meta_path).decode())
    ver = meta.get("version")
    if ver != _MEDIA_LAYOUT_VERSION:
        raise ValueError(
            f"media layout at {path} was built by {ver!r}; this code "
            f"joins {_MEDIA_LAYOUT_VERSION!r} fingerprints — rebuild "
            "the layout"
        )
    hist = spark.read.parquet(path)
    return _minus_tombstones(spark, path, hist, meta["id_col"]), meta


def media_dedup_against(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    max_hamming: int = 6,
    mode: str = "reps",
) -> DataFrame:
    """VERIFIED visual near-dups of a NEW media batch against stored
    dHash fingerprints: (new_id, hist_id, hamming) with Hamming
    <= ``max_hamming``, computed entirely from stored state — history
    media is never re-decoded (the r9 gap: ``media_near_dups`` is
    single-DataFrame, so a new image/video batch re-hashed ALL of
    history). The batch decodes only itself; its distinct bucket list
    (bounded: bands * 2^w values, 2048 at the defaults) becomes a
    literal IN filter that statically partition-prunes the history
    scan; batches touching more than ``_BLOCK_ISIN_MAX`` buckets fall
    back to a broadcast semi-join (pruning lost, history still never
    shuffled or re-decoded).

    ``mode="reps"`` (default) Hamming-verifies each batch fingerprint
    against the per-bucket MIN-id history row only — O(|batch|) scored
    rows per bucket regardless of history bucket size (a boilerplate
    frame family is ONE bucket per band by construction); the
    verified-star trade of every sibling reps probe applies.
    ``mode="pairs"`` emits the complete verified collision list —
    EXACT by pigeonhole when ``max_hamming <= bands - 1`` (enforced),
    the oracle-replayable contract shape, linear in history."""
    hist, meta = load_media_layout(spark, path)
    return _media_dedup_against(hist, meta, new_df, max_hamming, mode)


def _media_dedup_against(
    hist: DataFrame,
    meta: dict,
    new_df: DataFrame,
    max_hamming: int = 6,
    mode: str = "reps",
) -> DataFrame:
    """Probe body over an already-loaded (hist, meta) pair."""
    if mode not in ("reps", "pairs"):
        raise ValueError(f"mode must be 'reps' or 'pairs', got {mode!r}")
    if max_hamming >= meta["bands"]:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands > max_hamming for "
            f"exact candidate generation (pigeonhole); this layout was "
            f"built with bands={meta['bands']} — rebuild with more bands"
        )
    id_col = meta["id_col"]
    ph_new = _media_phash_under(meta, new_df).localCheckpoint(eager=False)
    banded_new = _media_banded(meta, ph_new)
    bvs = [
        r["bv"]
        for r in banded_new.select("bv").distinct()
        .limit(_BLOCK_ISIN_MAX + 1).collect()
    ]
    if len(bvs) <= _BLOCK_ISIN_MAX:
        pruned = hist.filter(F.col("bv").isin(bvs))
    else:
        pruned = hist.join(
            F.broadcast(banded_new.select("bv").distinct()),
            ["bv"], "left_semi",
        )
    if mode == "reps":
        hits = pruned.groupBy("bv").agg(
            F.min(id_col).alias("hist_id"),
            F.min_by(F.col("phash"), F.col(id_col)).alias("ph_h"),
        )
    else:
        hits = pruned.select(
            "bv", F.col(id_col).alias("hist_id"),
            F.col("phash").alias("ph_h"),
        )
    return (
        banded_new.select(
            "bv", F.col(id_col).alias("new_id"),
            F.col("phash").alias("ph_n"),
        )
        .join(hits, "bv")
        .withColumn(
            "hamming", F.bit_count(F.col("ph_n").bitwiseXOR(F.col("ph_h")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("new_id", "hist_id", "hamming")
        .distinct()
    )


def media_filter_new_against(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    max_hamming: int = 6,
) -> DataFrame:
    """Keep filter over the verified media probe: rows of ``new_df``
    whose fingerprint is within ``max_hamming`` of NO bucket-min
    history representative (reps mode — the scale shape)."""
    hist, meta = load_media_layout(spark, path)
    id_col = meta["id_col"]
    matched = (
        _media_dedup_against(hist, meta, new_df, max_hamming, "reps")
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(matched, id_col, "left_anti")


def append_media_layout(
    spark: SparkSession, path: str, new_df: DataFrame
) -> None:
    """Fingerprint ``new_df`` under the layout's stored params and
    append its banded rows — after a batch clears
    ``media_filter_new_against`` its fingerprints join the corpus."""
    _, meta = load_media_layout(spark, path)
    ph = _media_phash_under(meta, new_df)
    _media_banded(meta, ph).write.mode("append").partitionBy(
        "bv"
    ).parquet(path)


def append_minhash_layout(
    spark: SparkSession, path: str, new_df: DataFrame
) -> None:
    """Fingerprint ``new_df`` under the layout's stored params and
    append its bands — after a batch clears ``filter_new_against`` its
    signatures join the corpus so batch N+2 dedups against it too.
    Plain partitioned append (one small file per band per call); the
    streaming counterpart with idempotence markers is
    ``streaming.ingest.stream_into_minhash_layout``, and
    ``streaming.ingest.compact_bucketed_layout(partition_col="band")``
    bounds the small files either way."""
    _, meta = load_minhash_layout(spark, path)
    _new_bands(meta, new_df).write.mode("append").partitionBy(
        "band"
    ).parquet(path)


# -- uniform facade --------------------------------------------------------


class SignatureLayout:
    """One handle over the five persisted dedup-signature families
    (minhash bands / simhash blocks / winnow fingerprints / media
    dHash buckets / embedding LSH buckets) with the shared verbs — so
    pipeline code that loops ``probe → filter → append → (stream)``
    doesn't hard-code a family:

    >>> lay = SignatureLayout.open(spark, path)   # kind from sidecar
    >>> dups = lay.dedup_against(batch)           # family's reps probe
    >>> fresh = lay.filter_new(batch)             # history keep filter
    >>> lay.append(fresh)                         # grow stored state
    >>> lay.delete(ids, mode="tombstone")         # O(|ids|) keep-list
    >>> lay.stream_into(stream_df, ckpt)          # exactly-once sink
    >>> lay.compact()                             # apply deletes + fold
    ...                                           # small files

    Family selection happens at ``open`` time by sidecar dispatch
    (each family writes a distinct versioned meta file; the underlying
    ``load_*_layout`` still validates version/params). Per-family
    tuning knobs pass through ``**kw`` — ``verify_threshold`` (minhash),
    ``max_hamming`` (simhash/media), ``min_shared`` (winnow),
    ``threshold`` (embedding — REQUIRED: cosine has no universal
    near-dup cutoff) — and the family-specific BUILD functions remain
    the entry points for creating layouts (their params differ by
    design).

    What each family catches (the README table in prose): minhash =
    whole-document set similarity (Broder; tunable banding); simhash =
    near-identical token distributions (Charikar; Hamming-verified);
    winnow = shared token RUNS — boilerplate/quotes (Schleimer MOSS);
    media = visually near-identical frames (dHash, Hamming-verified);
    embedding = semantic near-identity (sign/cross-polytope LSH
    buckets, cosine-verified from the STORED vectors). Embedding
    layouts dispatch through their ``_lsh_meta.json`` /
    ``_cplsh_meta.json`` params sidecar (``open_lsh_layout``
    reconstructs the hashing instance exactly); legacy sidecar-less
    LSH layouts still need ``embedding_near_dups_against`` with the
    owning instance.

    Load economics (ADVICE-r9 discipline, facade edition): the sidecar
    is read and version-validated ONCE at ``open``; each probe verb
    re-lists only the parquet data (a fresh ``spark.read.parquet``, so
    rows appended after ``open`` — including by this handle's own
    ``append`` — stay visible) and dispatches straight to the
    family's (hist, meta) probe body. ``append``/``stream_into``
    delegate to the public ``append_*_layout`` functions and so
    RE-READ the sidecar per call (deliberately NOT frozen: if the
    layout was rebuilt under new params since ``open``, new rows must
    be fingerprinted under the CURRENT stored params — stale-handle
    appends corrupting a rebuilt layout is the worse failure). An
    out-of-band rebuild under different params is therefore invisible
    only to this handle's PROBES — re-``open`` after rebuilds."""

    #: kind -> (sidecar name, loader, (hist, meta) probe body,
    #:          appender, streaming sink name in streaming.ingest)
    _FAMILIES = {
        "minhash": (
            _META_NAME, "load_minhash_layout", "_minhash_dedup_against",
            "append_minhash_layout", "stream_into_minhash_layout",
        ),
        "simhash": (
            _SIMHASH_META_NAME, "load_simhash_layout",
            "_simhash_dedup_against", "append_simhash_layout",
            "stream_into_simhash_layout",
        ),
        "winnow": (
            _WINNOW_META_NAME, "load_winnow_layout",
            "_winnow_dedup_against", "append_winnow_layout",
            "stream_into_winnow_layout",
        ),
        "media": (
            _MEDIA_META_NAME, "load_media_layout", "_media_dedup_against",
            "append_media_layout", "stream_into_media_layout",
        ),
    }

    @classmethod
    def _emb_sidecars(cls) -> list[str]:
        from kowari_spark.operators.cplsh import CrossPolytopeLSH
        from kowari_spark.operators.lsh import _LSH_META_NAME

        return [_LSH_META_NAME, CrossPolytopeLSH._META_NAME]

    def __init__(self, spark: SparkSession, path: str, kind: str):
        if kind != "embedding" and kind not in self._FAMILIES:
            raise ValueError(
                f"unknown signature-layout kind {kind!r}; one of "
                f"{sorted(self._FAMILIES) + ['embedding']}"
            )
        self.spark = spark
        self.path = path
        self.kind = kind
        # Family dispatch happens ONCE, here: every verb below calls a
        # constructor-bound closure, so adding a verb never needs a
        # per-family branch (the round-11 review's altitude ask). The
        # sidecar is validated now, not at first probe.
        if kind == "embedding":
            self._lsh, self.meta = open_lsh_layout(spark, path)

            def probe(new_df, **kw):
                if "threshold" not in kw:
                    raise ValueError(
                        "embedding layouts need an explicit threshold= "
                        "(cosine has no universal near-dup cutoff)"
                    )
                kw.setdefault("id_col", self.meta.get("id_col", "id"))
                kw.setdefault(
                    "vec_col", self.meta.get("vec_col", "embedding")
                )
                return embedding_near_dups_against(
                    spark, self._lsh, path, new_df, **kw
                )

            def sink(stream_df, checkpoint_dir, **kw):
                from kowari_spark.streaming import ingest

                # all three embedding families stream: sign/multisign
                # (round 12) and crosspolytope (round 13) — the sink
                # dispatches on the instance and appends under the
                # STORED params either way
                kw.setdefault(
                    "vec_col", self.meta.get("vec_col", "embedding")
                )
                kw.setdefault("id_col", self.meta.get("id_col", "id"))
                return ingest.stream_into_lsh_layout(
                    stream_df, self._lsh, path, checkpoint_dir, **kw
                )

            def pcol():
                if self.meta.get("family") != "sign":
                    raise ValueError(
                        "partition_col/compact support single-table "
                        "sign layouts; multi-table layouts partition "
                        "by (__tbl, bucket)"
                    )
                return "bucket"

            def del_pcols():
                # multi-table layouts carry a __tbl partition level;
                # resolved from the data (not the sidecar) so both
                # Multi and CrossPolytope layouts dispatch right
                cols = self._hist().columns
                if "__tbl" in cols:
                    return ("__tbl", "bucket")
                return ("bucket",)

            self._probe = probe
            self._append = lambda new_df: append_lsh_layout(
                spark, path, new_df
            )
            self._sink = sink
            self._pcol = pcol
            self._del_pcols = del_pcols
        else:
            loader = globals()[self._FAMILIES[kind][1]]
            _, self.meta = loader(spark, path)
            probe_fn = globals()[self._FAMILIES[kind][2]]
            append_fn = globals()[self._FAMILIES[kind][3]]
            sink_name = self._FAMILIES[kind][4]

            def sink(stream_df, checkpoint_dir, **kw):
                from kowari_spark.streaming import ingest

                return getattr(ingest, sink_name)(
                    stream_df, path, checkpoint_dir, **kw
                )

            self._probe = lambda new_df, **kw: probe_fn(
                self._hist(), self.meta, new_df, **kw
            )
            self._append = lambda new_df: append_fn(spark, path, new_df)
            self._sink = sink
            self._pcol = lambda: self._PARTITION_COL[kind]
            self._del_pcols = lambda: (self._PARTITION_COL[kind],)

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "SignatureLayout":
        """Open a layout directory, dispatching on which family's
        sidecar it carries; refuses dirs with none (not a signature
        layout) or several (ambiguous — never guess signatures)."""
        from kowari_spark.fsutil import exists

        names = [(k, fam[0]) for k, fam in cls._FAMILIES.items()]
        names += [("embedding", n) for n in cls._emb_sidecars()]
        kinds = sorted({
            k for k, name in names if exists(spark, f"{path}/{name}")
        })
        if not kinds:
            raise ValueError(
                f"no signature-layout sidecar at {path}: expected one "
                f"of {[n for _, n in names]}"
            )
        if len(kinds) > 1:
            raise ValueError(
                f"ambiguous layout at {path}: sidecars for {kinds}"
            )
        return cls(spark, path, kinds[0])

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return f"SignatureLayout(kind={self.kind!r}, path={self.path!r})"

    def _hist(self) -> DataFrame:
        """A fresh data relation (re-lists files, so appends since
        ``open`` are visible) under the open-time-validated meta, with
        pending tombstones subtracted — probes through this handle
        never surface a logically-deleted id."""
        return _minus_tombstones(
            self.spark, self.path,
            self.spark.read.parquet(self.path),
            self.meta.get("id_col", "id"),
        )

    def dedup_against(self, new_df: DataFrame, **kw) -> DataFrame:
        """The family's incremental probe (reps-bounded by default);
        per-family knobs pass through (``mode``, ``verify_threshold``,
        ``max_hamming``, ``min_shared``, ``broadcast_keys_max``;
        embedding: ``threshold`` REQUIRED, ``round_to``)."""
        return self._probe(new_df, **kw)

    def filter_new(self, new_df: DataFrame, **kw) -> DataFrame:
        """Rows of ``new_df`` colliding with NO stored signature —
        membership needs one representative per bucket, so this always
        rides the family's ``mode="reps"`` probe (the public
        ``*_filter_new_against`` contract)."""
        kw["mode"] = "reps"
        id_col = kw.get("id_col", self.meta.get("id_col", "id"))
        matched = (
            self.dedup_against(new_df, **kw)
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        return new_df.join(matched, id_col, "left_anti")

    def append(self, new_df: DataFrame) -> None:
        """Fingerprint under the stored params and append."""
        self._append(new_df)

    def delete(
        self,
        ids_df: DataFrame,
        id_col: str | None = None,
        mode: str | None = None,
    ) -> list:
        """Drop every stored signature row for the given document ids —
        the maintenance verb a dedup keep-list implies: a document
        dropped from the corpus must stop matching future probes, and
        an append-only layout would surface it forever (the same
        overcount rationale as ``search.delete_from_bm25_layout``).
        ``ids_df`` carries the layout's id column (or pass
        ``id_col=``). Deleting EVERY (surviving) stored id refuses in
        both modes (an emptied partitioned layout has no data file to
        infer a schema from, so every later probe would crash) — drop
        the layout directory and rebuild instead.

        ``mode=None`` (default) resolves to ``"tombstone"`` for the
        signature families and ``"rewrite"`` for embedding layouts —
        the same default `Bm25Layout.delete` carries and the
        100 TB-right one: amortize the physical rewrite into the
        maintenance window wherever a document's rows span ~every
        partition (minhash bands, simhash blocks, winnow buckets),
        but take the cheap bucket-pruned rewrite where the layout
        geometry makes deletes O(few partitions) and tombstones are
        refused anyway (embedding). The module-level
        ``streaming.ingest.delete_from_layout`` keeps its historical
        eager-rewrite contract — only the facade default moved
        (changelog: round 14, VERDICT r13 ask #7).

        ``mode="rewrite"``: partition-pruned in-place
        rewrite via ``streaming.ingest.delete_from_layout`` (holds the
        layout's ``_compacting`` marker; sidecar and streaming batch
        markers survive even the full-rewrite path). Returns the
        rewritten partition names (``["*"]`` full rewrite, ``[]`` when
        no stored row matched). For families whose documents span
        FEW partitions (simhash hot blocks, embedding buckets) this is
        already cheap; for minhash — where every document has a row in
        EVERY band partition, so any delete rewrites the whole layout
        (BASELINE.md sig_delete: grows with history) — prefer:

        ``mode="tombstone"``: O(|ids|) — append the ids to the
        layout's ``_tombstones/`` log and return ``[]``; nothing is
        rewritten now. Every probe (facade verbs AND the public
        ``load_*_layout`` consumers) anti-joins the broadcast log, so
        a tombstoned id stops matching IMMEDIATELY;
        ``apply_deletes()`` — run standalone or folded into
        ``compact()``, where the partitions are being rewritten anyway
        — performs the physical rewrite and clears the log. Duplicate
        tombstones are benign (the log is read distinct). Caveat:
        tombstones suppress the ID wholesale, so re-ingesting a
        tombstoned document id requires ``apply_deletes()`` first —
        otherwise its fresh rows are invisible too. Embedding layouts
        refuse this mode (their probes read the layout internally,
        not through the facade relation; their per-id bucket fan-out
        makes rewrite deletes cheap anyway)."""
        from kowari_spark.streaming import ingest

        if mode is None:
            mode = "rewrite" if self.kind == "embedding" else "tombstone"
        if mode not in ("rewrite", "tombstone"):
            raise ValueError(
                f"mode must be 'rewrite' or 'tombstone', got {mode!r}"
            )
        idc = id_col or self.meta.get("id_col", "id")
        # bounded survivor probe (limit-1): refuse the delete-all that
        # would leave a sidecar-only, unreadable directory behind.
        # _hist() already excludes prior tombstones, so the check is
        # against what a probe can still SEE — refusing when the last
        # visible ids go is right in both modes.
        doomed = ids_df.select(F.col(idc)).distinct()
        if self._hist().join(doomed, idc, "left_anti").limit(1).count() == 0:
            raise ValueError(
                "delete would remove every stored signature row — an "
                "emptied partitioned layout is unreadable; drop the "
                f"layout directory ({self.path}) and rebuild instead"
            )
        if mode == "tombstone":
            if self.kind == "embedding":
                raise ValueError(
                    "embedding layouts support mode='rewrite' only "
                    "(bucket-pruned, cheap per id); tombstones exist "
                    "for the every-id-in-every-partition families"
                )
            # normalize to the LAYOUT's stored id dtype: successive
            # deletes with different (castable) caller dtypes must not
            # leave a mixed-schema parquet log that later reads refuse
            id_type = self.spark.read.parquet(self.path).schema[
                idc
            ].dataType
            (
                doomed.select(
                    F.col(idc).cast(id_type).alias("__tomb_id")
                )
                .coalesce(1)
                .write.mode("append")
                .parquet(f"{self.path}/{_TOMBSTONES_DIR}")
            )
            return []
        return ingest.delete_from_layout(
            self.spark, self.path, ids_df,
            id_col=idc,
            partition_cols=self._del_pcols(),
        )

    def apply_deletes(self) -> list:
        """Physically apply the pending tombstone log: one
        partition-pruned ``delete_from_layout`` rewrite over the
        logged ids, then the log is cleared. Idempotent and
        crash-safe: a crash after the rewrite but before the clear
        leaves already-deleted ids in the log — the next apply's
        rewrite matches nothing and the clear completes; probes are
        correct throughout (the anti-join is a no-op once rows are
        gone). Returns the rewritten partition names (``[]`` when no
        log exists). ``compact()`` calls this first, so the periodic
        maintenance window pays ONE rewrite for deletes + small-file
        folding together."""
        from kowari_spark.fsutil import delete as fs_delete
        from kowari_spark.fsutil import exists
        from kowari_spark.streaming import ingest

        tpath = f"{self.path}/{_TOMBSTONES_DIR}"
        if not exists(self.spark, tpath):
            return []
        idc = self.meta.get("id_col", "id")
        doomed = (
            self.spark.read.parquet(tpath)
            .select(F.col("__tomb_id").alias(idc))
            .distinct()
        )
        rewritten = ingest.delete_from_layout(
            self.spark, self.path, doomed,
            id_col=idc,
            partition_cols=self._del_pcols(),
        )
        fs_delete(self.spark, tpath)
        return rewritten

    #: the family's physical partition column — what appends fan out
    #: over, and therefore what compaction rewrites
    _PARTITION_COL = {
        "minhash": "band", "simhash": "block",
        "winnow": "fpb", "media": "bv",
    }

    def partition_col(self) -> str:
        """The layout's SINGLE partition column; multi-table embedding
        layouts (which partition by (__tbl, bucket)) raise — use
        :meth:`partition_cols`, which every family supports."""
        return self._pcol()

    def partition_cols(self) -> tuple:
        """The layout's partition column tuple — what appends fan out
        over and what compaction rewrites: ``(band,)``-style for the
        hist families and single-table sign layouts, ``(__tbl,
        bucket)`` for the multi-table embedding families (resolved
        from the data, so MultiSignLSH and CrossPolytopeLSH both
        dispatch right)."""
        return tuple(self._del_pcols())

    def file_stats(self, max_files: int = 4) -> dict:
        """Small-file health from ONE filesystem listing (no Spark
        job): partition count, data-file count, the worst partition,
        and which partitions exceed ``max_files`` — the when-to-compact
        signal. The round-11 loop measurements put numbers on why this
        matters: probe walls creep with per-append partition FAN-OUT
        (winnow/media batches touch most partitions, so 9 appends grew
        their probes ~2.3×; simhash/embedding stayed flat), and
        compaction every 3-4 appends bounds it (BASELINE.md r11)."""
        from kowari_spark.fsutil import list_data_files_recursive

        pcols = self.partition_cols()
        prefixes = [f"{c}=" for c in pcols]
        counts: dict[str, int] = {}
        for rel in list_data_files_recursive(self.spark, self.path):
            segs = rel.split("/")
            # a data file directly under the full partition-dir chain
            if len(segs) == len(pcols) + 1 and all(
                s.startswith(p) for s, p in zip(segs, prefixes)
            ):
                leaf = "/".join(segs[:-1])
                counts[leaf] = counts.get(leaf, 0) + 1
        over = sorted(d for d, c in counts.items() if c > max_files)
        from kowari_spark.fsutil import exists

        return {
            "kind": self.kind,
            "partition_col": pcols[0] if len(pcols) == 1 else list(pcols),
            "n_partitions": len(counts),
            "n_files": sum(counts.values()),
            "max_files_per_partition": max(counts.values(), default=0),
            "partitions_over": over,
            # pending logical deletes awaiting apply_deletes()/compact()
            # — one existence check, still no Spark job
            "has_pending_tombstones": exists(
                self.spark, f"{self.path}/{_TOMBSTONES_DIR}"
            ),
        }

    def compact(self, max_files: int = 4, target_files: int = 1):
        """Bound the small files appends accumulate: first apply any
        pending tombstones (``apply_deletes`` — the partitions are
        about to be rewritten anyway, so logical deletes ride the same
        maintenance window for free), then rewrite every partition
        holding more than ``max_files`` data files down to
        ``target_files`` (streaming.ingest.compact_bucketed_layout —
        staged rewrite, cooperative ``_compacting`` lock, no data
        change). Returns the union of rewritten partition names.
        Cadence guidance: append rate × partition fan-out, not corpus
        size — the wide-fan-out families (winnow, media) want this
        every 3-4 appends (measured, BASELINE.md r11)."""
        from kowari_spark.streaming.ingest import compact_bucketed_layout

        applied = self.apply_deletes()
        compacted = compact_bucketed_layout(
            self.spark, self.path, partition_col=self.partition_cols(),
            max_files=max_files, target_files=target_files,
        )
        if "*" in applied:  # full-rewrite token subsumes every name
            return ["*"]
        return sorted(set(applied) | set(compacted))

    def stream_into(self, stream_df: DataFrame, checkpoint_dir: str, **kw):
        """The family's exactly-once streaming sink (idempotence
        markers + compaction-lock cooperation); returns the query."""
        return self._sink(stream_df, checkpoint_dir, **kw)
