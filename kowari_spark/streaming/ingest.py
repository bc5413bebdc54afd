"""Streaming ingest into a vector collection.

Beyond-reference surface: the reference ingests vectors one blocking
call at a time (collection_manager.rs:142-166); here a stream of vector
records (e.g. freshly embedded documents) lands in a collection
continuously via foreachBatch — each micro-batch goes through the SAME
validated `Collection.add_df` path (dimension check, strict/upsert
semantics), so streaming and batch ingest cannot diverge.

Scale notes: foreachBatch alone is AT-LEAST-once — after a driver
restart the last un-checkpointed micro-batch replays, and a bare append
would double its rows. Exactly-once here comes from the collection's
transaction log: each micro-batch commits with an idempotence token
``<checkpoint_dir>:<batch_id>`` (the Delta streaming-sink pattern), so a
replayed batch whose token is already in a retained manifest is a no-op.
Dimension validation is a metadata-only filter (size(embedding) != d)
that codegens into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kowari_spark.catalog import Collection


def stream_vectors_into(
    stream_df: DataFrame,
    collection: Collection,
    checkpoint_dir: str,
    mode: str | None = None,
    trigger_available_now: bool = True,
):
    """Start a streaming query appending validated vectors into
    ``collection``. Returns the StreamingQuery.

    ``stream_df`` must carry the collection schema (id, embedding,
    metadata). With ``trigger_available_now`` the query drains all
    available input then stops — the batch-parity mode used in tests.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            collection.add_df(
                batch_df, mode=mode, txn_id=f"{checkpoint_dir}:{batch_id}"
            )

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


#: layout-level marker a compaction holds for the duration of its
#: stage/re-list/swap; cooperative writers (the LSH layout sink) wait on
#: it before starting an append. A crashed compactor can leave it
#: behind — the sink's bounded wait then fails the batch with a message
#: naming the marker so an operator can remove the stale file.
COMPACTING_MARKER = "_compacting"


def _wait_not_compacting(spark, path: str, timeout_secs: float) -> None:
    """Block until ``path`` carries no in-flight compaction marker.
    Raises RuntimeError after ``timeout_secs`` (fail the micro-batch —
    its checkpoint won't commit, so it replays once the lock clears)."""
    import time

    from kowari_spark import fsutil

    marker = f"{path}/{COMPACTING_MARKER}"
    deadline = time.monotonic() + timeout_secs
    delay = 0.1
    while fsutil.exists(spark, marker):
        if time.monotonic() >= deadline:
            raise RuntimeError(
                f"layout at {path} has carried the {COMPACTING_MARKER} "
                f"marker for over {timeout_secs}s; if no compaction is "
                "actually running, remove the stale marker file"
            )
        time.sleep(delay)
        delay = min(delay * 2, 2.0)


def stream_into_lsh_layout(
    stream_df: DataFrame,
    lsh,  # SignLSH | MultiSignLSH | CrossPolytopeLSH
    path: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    trigger_available_now: bool = True,
    compaction_wait_secs: float = 60.0,
    id_col: str = "id",
):
    """Maintain a bucket-partitioned LSH layout from a vector stream
    (SURVEY.md §7.1 step 9: streaming ingest + index maintenance).

    Each micro-batch computes its bucket column (narrow, codegen) and
    appends into ``partitionBy(bucket)`` parquet — new vectors land in
    the right partition immediately, so probes keep pruning without any
    rebuild.

    The sink is foreachBatch + plain parquet append, NOT the built-in
    parquet streaming sink: the built-in sink pins every reader to its
    ``_spark_metadata`` file log, which (a) makes the layout unreadable
    to non-Spark engines and (b) makes small-file compaction unsound —
    rewritten files aren't in the log, so batch readers would resolve
    the pre-compaction file list forever. Instead each micro-batch
    commits an idempotence marker ``_batches/<ck>-<batch_id>`` AFTER its
    files land (the same token pattern as ``Collection.add_df``): a
    replayed batch whose marker exists is a no-op, so restarts do not
    duplicate. The residual window — crash after some files, before the
    marker — is the documented no-transaction-log trade-off; the
    manifest-backed Collection path closes it when exactness matters
    more than layout portability.

    Small per-batch files accumulate; ``compact_bucketed_layout`` is the
    periodic maintenance job that bounds them (``Collection.optimize``
    semantics for index layouts).
    """
    import hashlib

    from kowari_spark import fsutil
    from kowari_spark.operators.cplsh import CrossPolytopeLSH
    from kowari_spark.operators.lsh import (
        _LSH_META_NAME,
        _check_lsh_meta,
        _write_lsh_meta,
    )

    bucketed = lsh.with_buckets(stream_df, vec_col)
    # multi-table instances (MultiSignLSH round 12, CrossPolytopeLSH
    # round 13) emit the exploded (__tbl, bucket) relation — the sink
    # appends into the same two-level partitioning their build()
    # writes, so both OR-constructions get streaming maintenance. The
    # only dispatch difference is the sidecar format: CP layouts carry
    # _cplsh_meta.json (rotations are a pure function of the recorded
    # dim/tables/seed, so appends hash under the STORED params)
    pcols = (
        ["__tbl", "bucket"] if "__tbl" in bucketed.columns else ["bucket"]
    )
    if isinstance(lsh, CrossPolytopeLSH):
        meta_name = CrossPolytopeLSH._META_NAME
        check_meta = lambda sp: lsh._check_meta(sp, path)  # noqa: E731
        write_meta = lambda sp: lsh._write_meta(  # noqa: E731
            sp, path, vec_col, id_col
        )
    else:
        meta_name = _LSH_META_NAME
        check_meta = lambda sp: _check_lsh_meta(  # noqa: E731
            sp, path, lsh._params()
        )
        write_meta = lambda sp: _write_lsh_meta(  # noqa: E731
            sp, path, lsh._params(), vec_col, id_col
        )
    # validate an EXISTING sidecar before any batch lands: a mismatched
    # stream must refuse here, not after wrong-bucketed rows appended.
    # A NEW layout's sidecar is written inside the sink AFTER the first
    # batch's files land — writing it up front would leave a data-less
    # dir that open_lsh_layout accepts as a complete layout but whose
    # first probe crashes on schema inference (the sidecar's documented
    # invariant: presence implies committed data)
    spark0 = stream_df.sparkSession
    if fsutil.exists(spark0, f"{path}/{meta_name}"):
        check_meta(spark0)
        # micro-batch appends write partition DIRECTORIES; a round-16
        # "sorted" CP layout is plain bucket-sorted parquet — appending
        # dirs into it would leave __tbl/bucket both as data columns
        # and as partition keys, corrupting every later read. Refuse
        # up front (rebuild with layout="dirs" for streaming
        # maintenance).
        if (
            isinstance(lsh, CrossPolytopeLSH)
            and lsh.layout_format(spark0, path) != "dirs"
        ):
            raise ValueError(
                f"CP-LSH layout at {path} uses the 'sorted' format, "
                "which streaming appends cannot maintain; rebuild it "
                "with CrossPolytopeLSH.build(..., layout='dirs') to "
                "stream into it"
            )
        preexisting_sidecar_less = False
    else:
        # Decide NOW whether this stream is allowed to stamp the params
        # sidecar: only when the layout starts empty/new. Streaming into
        # a legacy sidecar-less layout that already holds data must NOT
        # stamp this instance's params as provenance for history rows
        # hashed under possibly-different planes — that would make
        # open_lsh_layout trust a wrong reconstruction forever (the
        # silent recall loss the sidecar exists to refuse). Such layouts
        # need an explicit offline rebuild to gain a sidecar.
        # one non-recursive listing: any non-hidden entry (a bucket=
        # partition dir or a data file) means the layout held data
        preexisting_sidecar_less = (
            fsutil.count_data_files(spark0, path) > 0
            or any(
                not d.startswith(("_", "."))
                for d in fsutil.list_dirs(spark0, path)
            )
        )
    ck_tag = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = f"{path}/_batches/{ck_tag}-{batch_id}"
        if fsutil.exists(spark, marker):
            return
        # cooperative compaction lock: never START an append while a
        # compaction is swapping partitions (see COMPACTING_MARKER).
        # Waiting (bounded) then failing the batch is safe — no files
        # have landed yet and the checkpoint won't commit, so the batch
        # replays cleanly after the compactor finishes.
        _wait_not_compacting(spark, path, compaction_wait_secs)
        if not batch_df.isEmpty():
            batch_df.write.mode("append").partitionBy(*pcols).parquet(path)
            if not preexisting_sidecar_less and not fsutil.exists(
                spark, f"{path}/{meta_name}"
            ):
                write_meta(spark)
        fsutil.create_marker(spark, marker)

    return (
        bucketed.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=trigger_available_now)
        .start()
    )


def compact_bucketed_layout(
    spark,
    path: str,
    partition_col="bucket",
    max_files: int = 4,
    target_files: int = 1,
    _post_stage_hook=None,
) -> list[str]:
    """Compact oversized partitions of a partitioned parquet layout
    (streaming micro-batch appends leave one small file per batch per
    touched bucket; N batches x B buckets is the classic small-file
    problem). Returns the partition names that were rewritten.
    ``partition_col`` is a single column name or a sequence for
    multi-level layouts (the MultiSignLSH/CrossPolytopeLSH
    ``(__tbl, bucket)`` two-level partitioning — their streaming
    appends accumulate small files exactly like the single-level
    families, so they compact the same way; a leaf dir like
    ``__tbl=0/bucket=5`` is the compaction unit).

    Scale shape:
    - partition file counts come from one Hadoop-FS listing (works on
      hdfs/s3a, not just local);
    - only partitions with more than ``max_files`` data files are
      rewritten — the read is PARTITION-PRUNED to those buckets, so
      compaction cost tracks the backlog, never the table;
    - ``repartition`` on (partition column, a ``target_files``-way salt)
      rewrites each oversized bucket into ``target_files`` file(s) (the
      write stays partitionBy-consistent so probes are unaffected);
    - the swap uses dynamic partition overwrite: ONLY the rewritten
      partitions are replaced, concurrent readers of other buckets never
      see change. Like any non-transactional parquet overwrite a reader
      racing the exact rewritten bucket can glimpse it mid-swap — run
      compaction in the maintenance window, or use the manifest-backed
      ``Collection.optimize`` path when transactional swap is required.

    Writer-race guard, two layers:

    1. A layout-level ``_compacting`` marker (``COMPACTING_MARKER``) is
       held for the whole stage/re-list/swap; the LSH layout sink waits
       on it before STARTING an append, so no cooperative write begins
       mid-compaction. A second concurrent compaction seeing the marker
       returns [] (no-op). The marker is removed on every exit path.
    2. A CONCURRENT STREAM APPEND into an oversized bucket between the
       staging snapshot and the overwrite would be deleted by the
       overwrite (the staged copy predates it). Each bucket's file
       listing is therefore re-checked after staging completes, and
       buckets whose file set changed are EXCLUDED from the swap
       (dynamic overwrite only touches partitions present in the
       written data) — they keep their files and compact on the next
       run.

    RESIDUAL WINDOW (documented, not closed): an append that was
    already in flight when the marker appeared — or one from a
    non-cooperative writer that never checks the marker — can land its
    files AFTER the post-stage re-list and BEFORE the overwrite commit;
    the swap then deletes those files. The re-list narrows this to the
    swap's commit latency, the marker narrows it to writes in flight at
    acquisition, but only a transactional log closes it: use the
    manifest-backed ``Collection.optimize`` path when that guarantee is
    required. The sink's checkpoint tracks offsets, not files, so the
    swap itself never confuses the writer.
    """
    from kowari_spark.fsutil import create_marker, delete

    def _files_of(bucket_dir: str) -> frozenset:
        from kowari_spark.fsutil import _fs_path

        fs, jpath = _fs_path(spark, bucket_dir)
        if not fs.exists(jpath):
            return frozenset()
        return frozenset(
            st.getPath().getName()
            for st in fs.listStatus(jpath)
            if st.isFile() and not st.getPath().getName().startswith(("_", "."))
        )

    # acquire the layout-level compaction lock BEFORE the snapshot:
    # cooperative writers stop starting appends, and a concurrent
    # compaction run no-ops instead of double-swapping
    lock = f"{path}/{COMPACTING_MARKER}"
    if not create_marker(spark, lock):
        return []
    try:
        return _compact_locked(
            spark, path, partition_col, max_files, target_files,
            _post_stage_hook, _files_of,
        )
    finally:
        delete(spark, lock)


def _leaf_part_dirs(spark, path, pcols) -> list[str]:
    """Relative leaf partition dirs (``a=1/b=2``) via one listing per
    directory level — the compaction/health unit for single- AND
    multi-level layouts."""
    from kowari_spark.fsutil import list_dirs

    rels = [""]
    for c in pcols:
        prefix = f"{c}="
        nxt = []
        for r in rels:
            base = f"{path}/{r}" if r else path
            nxt.extend(
                f"{r}/{d}" if r else d
                for d in list_dirs(spark, base)
                if d.startswith(prefix)
            )
        rels = nxt
    return rels


def _compact_locked(
    spark, path, partition_col, max_files, target_files,
    _post_stage_hook, _files_of,
) -> list[str]:
    from pyspark.sql import functions as F

    from kowari_spark.fsutil import count_data_files, delete

    pcols = (
        [partition_col] if isinstance(partition_col, str)
        else list(partition_col)
    )
    # a row's leaf-dir name, computed from its partition VALUES — the
    # join key between directory listings and DataFrame filters (the
    # integer partition columns every built layout uses print
    # identically to their dir names)
    dir_key = F.concat_ws(
        "/",
        *[
            F.concat(F.lit(f"{c}="), F.col(c).cast("string"))
            for c in pcols
        ],
    )
    oversized = []
    snapshot: dict[str, frozenset] = {}
    for rel in _leaf_part_dirs(spark, path, pcols):
        if count_data_files(spark, f"{path}/{rel}") > max_files:
            oversized.append(rel)
            snapshot[rel] = _files_of(f"{path}/{rel}")
    if not oversized:
        return []

    # stage the backlog first: overwriting a path while lazily reading
    # from it races the scan against the commit's deletes. The staging
    # dir is underscore-prefixed (invisible to readers of ``path``) and
    # already repartitioned, so the final overwrite is a pure move-shaped
    # rewrite. The salt fans each leaf out to ``target_files`` tasks (a
    # bare repartition on the partition columns would hash-route every
    # leaf to ONE task regardless of n).
    staging = f"{path}/_compact_staging"
    backlog = spark.read.parquet(path).filter(dir_key.isin(oversized))
    tf = max(1, target_files)
    # deterministic per-row salt (content hash): safe under task retry,
    # unlike monotonically_increasing_id-style salts. Persisted into the
    # staging copy so the final writer can route on it.
    salt = F.pmod(F.hash(*[F.col(c) for c in backlog.columns]), F.lit(tf))
    (
        backlog.withColumn("__salt", salt)
        .repartition(
            max(1, len(oversized) * tf),
            *[F.col(c) for c in pcols], F.col("__salt"),
        )
        .write.mode("overwrite")
        .parquet(staging)
    )
    if _post_stage_hook is not None:
        _post_stage_hook()  # test seam: injects a concurrent append
    # re-list each staged leaf: any leaf a writer touched since the
    # snapshot is dropped from the swap (its staged copy is stale)
    safe = [v for v in oversized if _files_of(f"{path}/{v}") == snapshot[v]]
    if not safe:
        delete(spark, staging)
        return []
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # exactly ``target_files`` file(s) per rewritten leaf: one
        # union leg per salt value, each leg hash-repartitioned on the
        # partition columns alone. Within a leg every leaf's rows land
        # in ONE task (hash routing), and the union keeps each leg's
        # shuffle partitions as separate writer tasks, so each non-empty
        # leg contributes exactly one file per leaf dir. (A single
        # repartition on (leaf, salt) can collide two salt groups of
        # the same leaf into one task and silently halve the fan-out;
        # range-partitioning a dense group index is sampling-dependent.)
        staged = spark.read.parquet(staging).filter(dir_key.isin(safe))
        # the +s keeps each leg's partitioning distinct: identically
        # partitioned union children get zipped back into one task set
        # (verified against Spark 4's adaptive plan), which would merge
        # the legs' files again
        legs = [
            staged.filter(F.col("__salt") == s)
            .repartition(max(1, len(safe)) + s, *[F.col(c) for c in pcols])
            .drop("__salt")
            for s in range(tf)
        ]
        final = legs[0]
        for leg in legs[1:]:
            final = final.unionByName(leg)
        final.write.mode("overwrite").partitionBy(*pcols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        delete(spark, staging)
    return safe


def stream_into_quantized_layout(
    stream_df: DataFrame,
    index,
    path: str,
    checkpoint_dir: str,
    id_col: str = "id",
    vec_col: str = "embedding",
    trigger_available_now: bool = True,
    compaction_wait_secs: float = 60.0,
):
    """Incremental maintenance for IVF / PQ / IVF×PQ layouts (the
    round-6 gap: LSH layouts streamed, quantized layouts were
    rebuild-only): each micro-batch is encoded with the FROZEN —
    already fitted or loaded — quantizer and appended into the existing
    ``build()`` layout. Encoding is deterministic given the quantizer,
    so a streamed layout is row-identical to batch-building the union
    with the same quantizer (tested), and probes against it are
    identical.

    The quantizer is deliberately NOT refit per batch: cells/codebooks
    freeze at build time and go stale as the corpus distribution drifts
    — the standard serving trade-off. Refitting would also strand every
    previously-written code/cell (the sidecar provenance gate exists
    exactly to stop probes over mixed-generation layouts). Schedule a
    full ``build()`` rebuild when drift matters; until then new vectors
    are findable immediately in the cells/codes the frozen quantizer
    assigns them.

    ``index`` is an ``IVF`` (appends its full-row + list_id partitions),
    a ``PQ`` (appends compressed (id, codes) rows), or an ``IVFPQ``
    (appends (id, list_id, codes) partitions). Encoding runs INSIDE the
    sink on each micro-batch (a batch frame). Idempotence markers and the cooperative compaction lock follow
    ``stream_into_lsh_layout``; the sidecar written by ``build()`` is
    never touched."""
    import hashlib

    from kowari_spark import fsutil
    from kowari_spark.operators.ivf import IVF
    from kowari_spark.operators.ivfpq import IVFPQ
    from kowari_spark.operators.pq import PQ

    if isinstance(index, IVFPQ):
        if index.ivf.centroids is None or index.pq.codebooks is None:
            raise ValueError(
                "fit() or load() the IVFPQ before streaming into its layout"
            )
        def encode(df):
            return index.with_cells_codes(df, vec_col).select(
                id_col, "list_id", "codes"
            )
        parts = ["list_id"]
    elif isinstance(index, IVF):
        if index.centroids is None:
            raise ValueError(
                "fit() or load() the IVF before streaming into its layout"
            )
        def encode(df):
            return index.with_lists(df, vec_col)
        parts = ["list_id"]
    elif isinstance(index, PQ):
        if index.codebooks is None:
            raise ValueError(
                "fit() or load() the PQ before streaming into its layout"
            )
        def encode(df):
            return index.with_codes(df, vec_col).select(id_col, "codes")
        parts = None
    else:
        raise TypeError(
            f"index must be IVF, PQ or IVFPQ, got {type(index).__name__}"
        )

    ck_tag = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = f"{path}/_batches/{ck_tag}-{batch_id}"
        if fsutil.exists(spark, marker):
            return
        _wait_not_compacting(spark, path, compaction_wait_secs)
        if not batch_df.isEmpty():
            writer = encode(batch_df).write.mode("append")
            if parts:
                writer = writer.partitionBy(*parts)
            writer.parquet(path)
        fsutil.create_marker(spark, marker)

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=trigger_available_now)
        .start()
    )


def _stream_into_signature_layout(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    load_fn,
    rows_fn,
    partition_col: str,
    trigger_available_now: bool,
    compaction_wait_secs: float,
):
    """Shared signature-layout sink body: validate the sidecar and pin
    its params at START (never per batch — a layout rebuilt mid-stream
    under different params must not be silently appended to with stale
    arithmetic; a restarted stream re-validates here), fingerprint each
    micro-batch under THOSE params, append partitioned, commit an
    idempotence marker. Same exactly-once pattern and cooperative
    compaction lock as the LSH layout sink."""
    import hashlib

    from kowari_spark import fsutil

    _, meta = load_fn(stream_df.sparkSession, path)
    ck_tag = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = f"{path}/_batches/{ck_tag}-{batch_id}"
        if fsutil.exists(spark, marker):
            return
        _wait_not_compacting(spark, path, compaction_wait_secs)
        if not batch_df.isEmpty():
            rows_fn(meta, batch_df).write.mode("append").partitionBy(
                partition_col
            ).parquet(path)
        fsutil.create_marker(spark, marker)

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=trigger_available_now)
        .start()
    )


def stream_into_minhash_layout(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    compaction_wait_secs: float = 60.0,
):
    """Maintain a persisted minhash signature layout
    (operators/dedup_index.py) from a document stream: each micro-batch
    is fingerprinted under the LAYOUT's stored params (never the
    caller's — the sidecar is the single source of signature truth) and
    its bands appended into ``partitionBy(band)`` parquet, so the next
    ``dedup_against`` probe sees the batch as history the moment it
    commits. The layout must already exist (``build_minhash_layout``
    bootstraps it — a sink that invents params would break the
    provenance rule)."""
    from kowari_spark.operators.dedup_index import (
        _new_bands,
        load_minhash_layout,
    )

    return _stream_into_signature_layout(
        stream_df, path, checkpoint_dir, load_minhash_layout, _new_bands,
        "band", trigger_available_now, compaction_wait_secs,
    )


def stream_into_simhash_layout(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    compaction_wait_secs: float = 60.0,
):
    """The simhash layout's streaming sink — fingerprints each
    micro-batch under the sidecar's (bits, block_bits) and appends into
    ``partitionBy(block)``; ``simhash_dedup_against`` then
    Hamming-verifies new batches against the streamed history."""
    from kowari_spark.operators.dedup_index import load_simhash_layout

    def rows(meta, batch_df):
        from kowari_spark.operators.dedup import simhash_fingerprints

        bits, bb = meta["bits"], meta["block_bits"]
        return simhash_fingerprints(
            batch_df, meta["text_col"], meta["id_col"], bits
        ).withColumn("block", F.shiftright(F.col("simhash"), bits - bb))

    return _stream_into_signature_layout(
        stream_df, path, checkpoint_dir, load_simhash_layout, rows,
        "block", trigger_available_now, compaction_wait_secs,
    )


def stream_into_winnow_layout(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    compaction_wait_secs: float = 60.0,
):
    """The winnow layout's streaming sink — fingerprints each
    micro-batch under the sidecar's (k, window) and appends into
    ``partitionBy(fpb)``."""
    from kowari_spark.operators.dedup_index import (
        _WINNOW_FPB,
        _winnow_new_fps,
        load_winnow_layout,
    )

    def rows(meta, batch_df):
        return _winnow_new_fps(meta, batch_df).withColumn(
            "fpb", F.pmod(F.col("fp"), F.lit(_WINNOW_FPB))
        )

    return _stream_into_signature_layout(
        stream_df, path, checkpoint_dir, load_winnow_layout, rows,
        "fpb", trigger_available_now, compaction_wait_secs,
    )


def stream_into_media_layout(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    compaction_wait_secs: float = 60.0,
):
    """The media layout's streaming sink — decodes + dHash-fingerprints
    each micro-batch under the sidecar's (hash_size, bands, codec,
    frame) and appends the banded rows into ``partitionBy(bv)``;
    ``media_dedup_against`` then Hamming-verifies new batches against
    the streamed history without ever re-decoding it."""
    from kowari_spark.operators.dedup_index import (
        _media_banded,
        _media_phash_under,
        load_media_layout,
    )

    def rows(meta, batch_df):
        return _media_banded(meta, _media_phash_under(meta, batch_df))

    return _stream_into_signature_layout(
        stream_df, path, checkpoint_dir, load_media_layout, rows,
        "bv", trigger_available_now, compaction_wait_secs,
    )


def stream_into_bm25_layout(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    compaction_wait_secs: float = 60.0,
):
    """Maintain a persisted BM25 postings layout (operators/search.py)
    from a document stream: each micro-batch is tokenized under the
    sidecar's params, its postings appended into ``partitionBy(tb)``,
    and the sidecar's corpus stats (N, Σdl) rolled forward additively —
    gated by an idempotence marker so a CLEANLY re-drained batch
    neither duplicates postings nor double-counts the stats. Not the
    shared signature-sink body because of that stats roll: the sidecar
    update must sit INSIDE the marker window.

    CRASH WINDOW (documented, mirrors compact_bucketed_layout's): a
    driver death AFTER the append+stats commit but BEFORE the marker
    lands makes the restart replay the batch — and unlike the dedup
    signature sinks (whose duplicate rows are min-aggregate-benign),
    duplicated postings and double-rolled stats SHIFT every future
    score. ``operators.search.repair_bm25_layout`` restores the layout
    exactly (distinct postings + stats recomputed from them); run it
    after any unclean sink shutdown."""
    import hashlib

    from kowari_spark import fsutil
    from kowari_spark.operators.search import (
        _append_bm25_rows,
        load_bm25_layout,
    )

    _, meta0 = load_bm25_layout(stream_df.sparkSession, path, _raw=True)
    del meta0  # START-time validation only; stats re-read per batch
    ck_tag = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = f"{path}/_batches/{ck_tag}-{batch_id}"
        if fsutil.exists(spark, marker):
            return
        _wait_not_compacting(spark, path, compaction_wait_secs)
        if not batch_df.isEmpty():
            # re-load INSIDE the batch: the stats roll must see the
            # previous batch's sidecar, not the stream-start snapshot
            # (_raw: the roll must never bake a pending tombstone
            # log's correction into the stored stats)
            _, meta = load_bm25_layout(spark, path, _raw=True)
            _append_bm25_rows(
                spark, path, meta, batch_df, fsutil.write_bytes
            )
        fsutil.create_marker(spark, marker)

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=trigger_available_now)
        .start()
    )


def stream_into_bm25_sharded(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    compaction_wait_secs: float = 60.0,
):
    """Maintain a SHARDED BM25 postings layout
    (operators/search.build_bm25_sharded) from a document stream: each
    micro-batch routes to its shards by the build's id hash and runs
    the single-layout append per touched shard
    (``append_bm25_sharded`` — same postings math, same additive
    per-shard stats roll), gated by ONE top-level idempotence marker
    per batch. Waits on every shard's ``_compacting`` marker before
    appending (per-shard compaction holds its own layout's marker).

    CRASH WINDOW (the single sink's, widened by routing): a driver
    death after SOME shards' appends but before the marker lands makes
    the restart replay the whole batch — duplicated postings /
    double-rolled stats on the already-appended shards.
    ``operators.search.repair_bm25_sharded`` restores every shard
    exactly; run it after any unclean sink shutdown."""
    import hashlib

    from kowari_spark import fsutil
    from kowari_spark.operators.search import (
        _read_sharded_meta,
        _shard_paths,
        append_bm25_sharded,
    )

    meta0 = _read_sharded_meta(stream_df.sparkSession, path)
    shard_dirs = _shard_paths(path, meta0["shards"])
    ck_tag = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = f"{path}/_batches/{ck_tag}-{batch_id}"
        if fsutil.exists(spark, marker):
            return
        for sp in shard_dirs:
            _wait_not_compacting(spark, sp, compaction_wait_secs)
        if not batch_df.isEmpty():
            append_bm25_sharded(spark, path, batch_df)
        fsutil.create_marker(spark, marker)

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=trigger_available_now)
        .start()
    )


def stream_into_hll_layout(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Keep a stored HLL sketch layout (operators/sketch.py) current
    from a stream: each micro-batch max-merges into the registers
    (``append_hll_layout``'s sibling-swap). NO crash window at all —
    the merge is idempotent by algebra (re-merging the same batch
    cannot raise any register further), so a replayed batch lands
    bit-identically; the marker only skips the wasted work."""
    import hashlib

    from kowari_spark import fsutil
    from kowari_spark.operators.sketch import _hll_meta, append_hll_layout

    _hll_meta(stream_df.sparkSession, path)  # START-time validation
    ck_tag = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = f"{path}/_batches/{ck_tag}-{batch_id}"
        if fsutil.exists(spark, marker):
            return
        if not batch_df.isEmpty():
            append_hll_layout(spark, path, batch_df)
        fsutil.create_marker(spark, marker)

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=trigger_available_now)
        .start()
    )


def stream_into_kmv_layout(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """KMV twin of :func:`stream_into_hll_layout`: each micro-batch
    merges into the stored minima (union + keep-k-smallest — also
    idempotent by algebra, so replays land bit-identically; the
    marker only skips wasted work)."""
    import hashlib

    from kowari_spark import fsutil
    from kowari_spark.operators.sketch import _kmv_meta, append_kmv_layout

    _kmv_meta(stream_df.sparkSession, path)  # START-time validation
    ck_tag = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = f"{path}/_batches/{ck_tag}-{batch_id}"
        if fsutil.exists(spark, marker):
            return
        if not batch_df.isEmpty():
            append_kmv_layout(spark, path, batch_df)
        fsutil.create_marker(spark, marker)

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=trigger_available_now)
        .start()
    )


def stream_into_dsir_layout(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    which: str = "raw",
    trigger_available_now: bool = True,
):
    """Maintain a fitted DSIR importance model (operators/sampling.py)
    from a document stream: each micro-batch's bucket histogram is
    rolled additively into the stored ``raw_hist`` (or, with
    ``which="target"``, the growing exemplar set) and the dense
    scoring relation rederived — build + N appends is bit-identical to
    one fit over everything (append_dsir_layout's parity contract), so
    a crawl loop keeps its selection model current for the cost of
    ONE pass per batch instead of a three-pass refit.

    EXACTLY-ONCE with no crash window (unlike stream_into_bm25_layout,
    whose stats roll has a documented replay hazard needing repair):
    the batch's idempotence marker is written INSIDE the append's
    sibling-dir swap — the marker and the rolled histogram commit with
    the same directory rename, so a re-drained batch is either fully
    applied (marker present → skipped here) or left no trace
    (replayed cleanly). The layout must already exist (fit once with
    build_dsir_layout — a model can't bootstrap from a raw stream
    alone; it needs the target corpus) and be the appendable v2
    generation — both validated at stream START so a mismatch refuses
    before any batch lands."""
    import hashlib

    from kowari_spark import fsutil
    from kowari_spark.operators.sampling import (
        _DSIR_LAYOUT_VERSION,
        append_dsir_layout,
        load_dsir_layout,
    )

    _, meta0 = load_dsir_layout(stream_df.sparkSession, path)
    if meta0.get("version") != _DSIR_LAYOUT_VERSION:
        raise ValueError(
            f"DSIR layout at {path} is {meta0.get('version')!r}: streaming "
            f"appends need {_DSIR_LAYOUT_VERSION!r} — refit once with "
            "build_dsir_layout()"
        )
    if which not in ("raw", "target"):
        raise ValueError(f"which must be 'raw' or 'target', got {which!r}")
    ck_tag = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        name = f"{ck_tag}-{batch_id}"
        if fsutil.exists(spark, f"{path}/_batches/{name}"):
            return
        append_dsir_layout(
            spark, path, batch_df, which=which, _commit_marker=name
        )

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=trigger_available_now)
        .start()
    )


def stream_into_hnsw_graph(
    stream_df: DataFrame,
    hnsw,
    path: str,
    checkpoint_dir: str,
    id_col: str = "id",
    vec_col: str = "embedding",
    trigger_available_now: bool = True,
):
    """Incremental HNSW maintenance (the last rebuild-only index
    family): each micro-batch is inserted into the FROZEN graph layout
    written by ``HNSW.build_layout`` — the batch's nodes search the
    existing graph for their M nearest (``HNSW.insert_edges``, the
    batched analog of the reference's sequential insert loop,
    src/index.rs:227-259), the bidirectional edge delta appends into
    ``{path}/edges`` (level-partitioned) and the vectors into
    ``{path}/base``. New vectors are findable as soon as their batch
    commits; queries over the loaded layout need no code change.

    Frozen-graph trade-offs (documented in :meth:`HNSW.insert_edges`):
    batch members do not link to EACH OTHER, and existing adjacency
    grows un-pruned — recall stays rebuild-equivalent at moderate
    inserted fractions (pinned ~50% in tests) and degrades gradually
    past that; schedule a full ``build_layout()`` rebuild when the
    inserted fraction grows large, exactly like the quantized sink's
    frozen-codebook staleness guidance.

    At-least-once note: a crash between the edge append and the marker
    replays the batch — duplicate edge/vector rows are TOLERATED by the
    search (frontier dedup + max-score groupBy), and the next rebuild
    clears them; markers make the common path exactly-once."""
    import hashlib

    from kowari_spark import fsutil
    from kowari_spark.operators.hnsw import HNSW

    if not isinstance(hnsw, HNSW):
        raise TypeError(f"hnsw must be an HNSW, got {type(hnsw).__name__}")

    ck_tag = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = f"{path}/_batches/{ck_tag}-{batch_id}"
        if fsutil.exists(spark, marker):
            return
        if not batch_df.isEmpty():
            # cooperative maintenance lock: never START an insert while
            # a delete/compaction is rewriting the layout (the batch
            # replays after the lock clears — no files landed yet)
            _wait_not_compacting(spark, path, 60.0)
            meta_path = f"{path}/{HNSW._META_NAME}"
            if not fsutil.exists(spark, meta_path):
                raise ValueError(
                    f"no HNSW layout at {path}: build_layout() first — "
                    "the sink inserts into a frozen graph, it does not "
                    "bootstrap one"
                )
            import json as _json

            meta = _json.loads(fsutil.read_bytes(spark, meta_path).decode())
            # load_layout semantics, not just the metric (ADVICE r8):
            # insert_edges derives EXISTING node levels from
            # assign_levels(self.seed, self.max_level), so a seed or
            # max_level drifting from the built layout silently places
            # delta edges at wrong levels — gradual recall loss with no
            # error. Refuse foreign versions, then restore the build
            # params from the sidecar into the instance.
            ver = meta.get("version")
            if ver != HNSW._LAYOUT_VERSION:
                raise ValueError(
                    f"HNSW layout at {path} was built by {ver!r}; this "
                    f"sink inserts under {HNSW._LAYOUT_VERSION!r} — "
                    "rebuild the layout"
                )
            hnsw.m, hnsw.ef, hnsw.seed = meta["m"], meta["ef"], meta["seed"]
            hnsw.max_level = meta["max_level"]
            hnsw.num_planes = meta["num_planes"]
            hnsw.num_tables = meta["num_tables"]
            base = spark.read.parquet(f"{path}/base")
            edges = spark.read.parquet(f"{path}/edges")
            delta = hnsw.insert_edges(
                base, edges, batch_df, id_col=id_col, vec_col=vec_col,
                metric=meta.get("metric", "cosine"),
            )
            delta.write.mode("append").partitionBy("level").parquet(
                f"{path}/edges"
            )
            batch_df.select(id_col, vec_col).write.mode("append").parquet(
                f"{path}/base"
            )
        fsutil.create_marker(spark, marker)

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=trigger_available_now)
        .start()
    )


#: delete-id sets at or below this row count are broadcast to the
#: anti-joins (a maintenance-sized set: ~1M longs is single-digit MB);
#: larger sets — a dedup keep-list complement can be most of the corpus
#: — fall back to plain shuffle joins instead of OOMing the broadcast
#: (VERDICT r8 #3)
_DELETE_BROADCAST_MAX = 1_000_000


def _delete_join_hint(ids: DataFrame, broadcast_max: int):
    """Bounded probe (limit(T+1).count() — never a full pass over a big
    set) deciding broadcast vs shuffle for the delete-id side. Returns a
    wrapper applied to every join use of the id set."""
    if ids.limit(broadcast_max + 1).count() <= broadcast_max:
        return F.broadcast
    return lambda d: d


def delete_from_layout(
    spark,
    path: str,
    ids_df: DataFrame,
    id_col: str = "id",
    partition_cols=("bucket",),
    max_pruned_partitions: int = 512,
    broadcast_max: int = _DELETE_BROADCAST_MAX,
) -> list[str]:
    """Delete rows by id from a built index layout IN PLACE — the
    maintenance gap between collection deletes (transactional, via the
    manifest log) and index layouts (append-only until now: a vector
    deleted from its collection kept surfacing from every built
    LSH/IVF/IVF×PQ layout until a full rebuild).

    Scale shape:
    - **locate**: one column-pruned scan of (id, partition cols)
      semi-joined to the delete set (broadcast when a bounded probe
      proves it under ``broadcast_max`` rows, shuffle anti-join
      otherwise — a keep-list complement of millions of ids must not
      OOM the broadcast) finds the partitions
      that actually hold doomed rows — the rewrite below is pruned to
      those, so delete cost tracks |ids| × partitions-per-id, never the
      table;
    - **rewrite**: hit partitions are staged (anti-joined against the
      ids) then swapped via dynamic partition overwrite, the
      compaction machinery's pattern; partitions EMPTIED by the delete
      don't appear in the staged data (dynamic overwrite would skip
      them) and are removed directly;
    - **concurrency**: holds the layout's ``_compacting`` marker for
      the whole operation (cooperative sinks wait on it before
      appending; a concurrent compaction no-ops), and aborts — raising,
      never silently skipping a delete — if a hit partition's file set
      changes between staging and swap. Same residual in-flight-writer
      window as compaction, same documented answer: the manifest-backed
      Collection path when transactional swap is required.

    ``partition_cols=None`` (e.g. the PQ codes relation, which is
    unpartitioned) rewrites the whole layout through staging —
    documented O(layout). So does a layout whose files are NOT
    partitioned by ``partition_cols`` on disk (a CP-LSH
    ``layout="sorted"`` build keeps ``__tbl``/``bucket`` as data
    columns); its survivors are rewritten hash-clustered and sorted by
    ``partition_cols``, the build's own file shape, and a delete set
    that hits no row rewrites nothing. When the ids spread across more
    than ``max_pruned_partitions`` partitions the pruned plan's literal
    filter stops paying for itself and the full rewrite path is taken
    too. Layout sidecars (``_*_meta.json``) are never touched — codes/
    cells/buckets of surviving rows are still valid under the frozen
    quantizer. HNSW graphs have their own helper (``hnsw_delete`` —
    an edge references TWO ids). Partition VALUES are assumed to print
    identically to their directory names (true for the integer
    bucket/list_id/__tbl/level columns every built layout uses; a
    string partition value needing URL-escaping would break the
    snapshot/emptied-dir bookkeeping — use ``partition_cols=None``'s
    full rewrite for such layouts). Returns the rewritten (or removed)
    partition names, or ``["*"]`` for a full rewrite."""
    from kowari_spark.fsutil import (
        create_marker,
        delete,
        exists,
        list_dirs,
        write_parallelism,
    )

    ids = ids_df.select(F.col(id_col)).distinct()
    # bounded size probe picks broadcast (maintenance-sized sets) vs
    # shuffle anti-join (keep-list-complement-sized sets) — the
    # unconditional broadcast was an executor OOM at large |ids|
    _b = _delete_join_hint(ids, broadcast_max)
    lock = f"{path}/{COMPACTING_MARKER}"
    if not create_marker(spark, lock):
        raise RuntimeError(
            f"layout at {path} is being compacted (or another delete is "
            "running) — retry after the _compacting marker clears"
        )
    # staging lives BESIDE the layout, not inside it: the full-rewrite
    # path overwrites ``path`` wholesale while lazily reading the
    # staged copy, and mode("overwrite") clears underscore dirs too
    staging = f"{path.rstrip('/')}__delete_staging"
    try:
        layout = spark.read.parquet(path)
        pcols = list(partition_cols) if partition_cols else []
        sort_cols: list[str] = []
        if pcols and not any(
            d.startswith(f"{pcols[0]}=") for d in list_dirs(spark, path)
        ):
            # plain files holding pcols as DATA columns (a CP-LSH
            # layout="sorted" build): a partition-pruned overwrite would
            # add partition dirs beside files that still hold every row.
            # Full rewrite instead, re-clustered the way the build wrote
            # them.
            pcols, sort_cols = [], pcols
            if not (
                layout.select(id_col).join(_b(ids), id_col, "left_semi")
                .limit(1).collect()
            ):
                return []
        if pcols:
            # the limit BOUNDS the locate collect: a delete set spread
            # across the whole table must not ship every partition
            # tuple to the driver just to learn it should full-rewrite
            hits = (
                layout.select(*pcols, id_col)
                .join(_b(ids), id_col, "left_semi")
                .select(*pcols)
                .distinct()
                .limit(max_pruned_partitions + 1)
                .collect()
            )
            if not hits:
                return []
        if not pcols or len(hits) > max_pruned_partitions:
            # full rewrite through staging (read-then-overwrite on the
            # same path races the lazy scan against the commit deletes).
            # The wholesale overwrite clears EVERYTHING under path —
            # including the quantizer sidecar and streaming batch
            # markers — so underscore-prefixed layout metadata is moved
            # aside first and restored after (Hadoop FS rename, same
            # filesystem, O(entries) not O(bytes)).
            from kowari_spark.fsutil import _fs_path

            survivors = layout.join(_b(ids), id_col, "left_anti")
            writer = survivors.write.mode("overwrite")
            if pcols:
                writer = writer.partitionBy(*pcols)
            writer.parquet(staging)

            jvm = spark.sparkContext._jvm
            fs, root = _fs_path(spark, path)
            hpath = jvm.org.apache.hadoop.fs.Path
            stash_dir = f"{staging}_meta"
            fs.mkdirs(hpath(stash_dir))
            stashed = []

            def _restore_stash() -> list[str]:
                # move every sidecar still in the stash back beside the
                # layout; returns the names that could NOT be restored
                # (the stash dir is kept for manual recovery then)
                left = []
                for name in stashed:
                    src = hpath(f"{stash_dir}/{name}")
                    if fs.exists(src) and not fs.rename(
                            src, hpath(f"{path}/{name}")):
                        left.append(name)
                if not left:
                    delete(spark, stash_dir)
                return left

            try:
                for st in fs.listStatus(root):
                    name = st.getPath().getName()
                    if (name.startswith("_")
                            and name not in ("_SUCCESS", COMPACTING_MARKER)):
                        fs.rename(st.getPath(), hpath(f"{stash_dir}/{name}"))
                        stashed.append(name)
                staged = spark.read.schema(layout.schema).parquet(staging)
                if sort_cols:
                    staged = staged.repartition(
                        write_parallelism(staged), *sort_cols
                    ).sortWithinPartitions(*sort_cols)
                writer = staged.write.mode("overwrite")
                if pcols:
                    writer = writer.partitionBy(*pcols)
                writer.parquet(path)
                # the overwrite also removed the lock marker — restore it
                # so the finally's delete stays balanced and no writer
                # slips in while the metadata moves back
                create_marker(spark, lock)
            except BaseException as exc:
                # a failed overwrite must not strand the sidecars in the
                # stash — the layout would refuse every load with no
                # error naming the stash dir (ADVICE r8)
                left = _restore_stash()
                if left:
                    raise RuntimeError(
                        f"delete_from_layout failed AND sidecars {left} "
                        f"remain stashed at {stash_dir} — move them back "
                        f"into {path} before loading the layout"
                    ) from exc
                raise
            left = _restore_stash()
            if left:
                raise RuntimeError(
                    f"layout data rewritten but sidecars {left} could not "
                    f"be restored from {stash_dir} — move them back into "
                    f"{path} before loading the layout"
                )
            return ["*"]

        def _part_dir(row) -> str:
            return "/".join(f"{c}={row[c]}" for c in pcols)

        def _files_of(d: str) -> frozenset:
            from kowari_spark.fsutil import _fs_path

            fs, jpath = _fs_path(spark, f"{path}/{d}")
            if not fs.exists(jpath):
                return frozenset()
            return frozenset(
                st.getPath().getName()
                for st in fs.listStatus(jpath)
                if st.isFile()
                and not st.getPath().getName().startswith(("_", "."))
            )

        snapshot = {_part_dir(r): _files_of(_part_dir(r)) for r in hits}
        # exact hit-partition predicate (static pruning at the scan)
        pred = None
        for r in hits:
            term = None
            for c in pcols:
                t = F.col(c) == F.lit(r[c])
                term = t if term is None else (term & t)
            pred = term if pred is None else (pred | term)
        survivors = layout.filter(pred).join(
            _b(ids), id_col, "left_anti"
        )
        survivors.write.mode("overwrite").partitionBy(*pcols).parquet(staging)
        changed = [d for d, snap in snapshot.items() if _files_of(d) != snap]
        if changed:
            raise RuntimeError(
                f"concurrent writer touched partitions {changed} during "
                "the delete's staging pass — aborted with no changes; "
                "retry"
            )
        # explicit schema: a delete that empties every hit partition
        # leaves staging with no files to infer from
        staged = spark.read.schema(layout.schema).parquet(staging)
        staged_parts = {
            "/".join(f"{c}={r[c]}" for c in pcols)
            for r in staged.select(*pcols).distinct().collect()
        }
        prev = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            staged.write.mode("overwrite").partitionBy(*pcols).parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        # partitions the delete EMPTIED have no staged rows — dynamic
        # overwrite never visited them, so drop their dirs directly
        emptied = [d for d in snapshot if d not in staged_parts]
        for d in emptied:
            delete(spark, f"{path}/{d}")
        return sorted(snapshot)
    finally:
        if exists(spark, staging):
            delete(spark, staging)
        delete(spark, lock)


def hnsw_delete(
    spark,
    path: str,
    ids_df: DataFrame,
    id_col: str = "id",
    prune_edges: bool = True,
    broadcast_max: int = _DELETE_BROADCAST_MAX,
) -> int:
    """Delete vectors from an HNSW graph layout (``HNSW.build_layout``)
    — tombstone semantics: the base relation loses the rows, after
    which queries can neither RETURN a deleted id (candidate scoring
    joins back to base vectors; no vector, no score) nor traverse
    THROUGH it (frontier expansion scores each hop against base, so
    expansion dies at a vectorless node). ``prune_edges`` additionally
    rewrites the edge relation without the deleted endpoints — smaller
    probes, same results; pass False to defer that cost to the next
    rebuild.

    Connectivity note, documented not hidden: like every tombstoned
    HNSW, paths that ran through deleted hubs are gone — recall
    degrades gradually with the deleted fraction; schedule a full
    ``build_layout()`` rebuild when it grows large (the same staleness
    guidance as the insert sink and the quantized layouts). Holds the
    layout's ``_compacting`` marker; the streaming insert sink waits on
    it. Returns the number of rows removed from base."""
    from kowari_spark.fsutil import create_marker, delete, exists

    ids = ids_df.select(F.col(id_col)).distinct()
    lock = f"{path}/{COMPACTING_MARKER}"
    if not create_marker(spark, lock):
        raise RuntimeError(
            f"layout at {path} is under maintenance — retry after the "
            "_compacting marker clears"
        )
    staging = f"{path.rstrip('/')}__delete_staging"
    # bounded size probe: broadcast maintenance-sized delete sets, plain
    # shuffle anti-join for keep-list-complement-sized ones (VERDICT r8)
    _b = _delete_join_hint(ids, broadcast_max)
    try:
        base = spark.read.parquet(f"{path}/base")
        survivors = base.join(_b(ids), id_col, "left_anti")
        survivors.write.mode("overwrite").parquet(f"{staging}/base")
        staged = spark.read.schema(base.schema).parquet(f"{staging}/base")
        n_before = base.count()
        staged.write.mode("overwrite").parquet(f"{path}/base")
        n_after = spark.read.parquet(f"{path}/base").count()
        if prune_edges:
            edges = spark.read.parquet(f"{path}/edges")
            kept = (
                edges.join(
                    _b(ids.select(F.col(id_col).alias("src"))),
                    "src", "left_anti")
                .join(
                    _b(ids.select(F.col(id_col).alias("dst"))),
                    "dst", "left_anti")
            )
            kept.write.mode("overwrite").partitionBy("level").parquet(
                f"{staging}/edges"
            )
            spark.read.schema(edges.schema).parquet(
                f"{staging}/edges"
            ).write.mode("overwrite").partitionBy("level").parquet(
                f"{path}/edges"
            )
        return n_before - n_after
    finally:
        if exists(spark, staging):
            delete(spark, staging)
        delete(spark, lock)
