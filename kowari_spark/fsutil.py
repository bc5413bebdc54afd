"""Filesystem access through the JVM Hadoop FileSystem API.

Small sidecar/maintenance IO (index metadata JSON, partition file
listings) must work wherever the data lives — local paths in tests,
``hdfs://`` / ``s3a://`` on a cluster. Python's ``open``/``os.listdir``
only handle the first, so everything path-shaped outside of
``spark.read``/``df.write`` goes through the Hadoop FileSystem the
active session already carries (same credentials, same scheme
resolution as the data reads themselves). No extra dependency: these
classes ship inside any Spark distribution.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop conf."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jpath


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Create/overwrite one small file (sidecar scale, not data scale)."""
    fs, jpath = _fs_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def read_bytes(spark: SparkSession, path: str) -> bytes:
    """Read one small file fully."""
    fs, jpath = _fs_path(spark, path)
    if not fs.exists(jpath):
        raise FileNotFoundError(path)
    stream = fs.open(jpath)
    try:
        # IOUtils drains the stream without a Python read loop over JNI
        jvm = spark.sparkContext._jvm
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, False)
        return bytes(baos.toByteArray())
    finally:
        stream.close()


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_path(spark, path)
    return fs.exists(jpath)


def create_marker(spark: SparkSession, path: str) -> bool:
    """Create an empty marker file without overwrite (HDFS/local give
    O_EXCL semantics; object stores approximate). Returns False ONLY if
    it already existed — the idempotence check for replayed work. Any
    other IO failure propagates: a marker that silently failed to land
    would disable replay dedup, so the caller (e.g. a streaming batch)
    must fail and retry rather than commit its checkpoint."""
    fs, jpath = _fs_path(spark, path)
    if fs.exists(jpath):
        return False
    try:
        out = fs.create(jpath, False)
        out.close()
        return True
    except Exception:
        # Exception CLASS is not a reliable discriminator (Hadoop
        # raises FileAlreadyExistsException for a parent-is-a-file
        # error too); what decides is whether the MARKER is now there.
        # If it is, another writer won the creation race -> False; any
        # other failure propagates so the caller retries the batch.
        if fs.exists(jpath):
            return False
        raise


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, jpath = _fs_path(spark, path)
    return bool(fs.delete(jpath, recursive))


def list_dirs(spark: SparkSession, path: str) -> list[str]:
    """Names of immediate subdirectories (e.g. ``bucket=7`` partition
    dirs of a partitioned layout)."""
    fs, jpath = _fs_path(spark, path)
    if not fs.exists(jpath):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(jpath)
        if st.isDirectory()
    ]


def list_files(spark: SparkSession, path: str) -> list[str]:
    """Names of files directly inside ``path`` (hidden/marker files
    included — this is what marker-preserving maintenance reads)."""
    fs, jpath = _fs_path(spark, path)
    if not fs.exists(jpath):
        return []
    return [
        st.getPath().getName() for st in fs.listStatus(jpath) if st.isFile()
    ]


def list_data_files_recursive(spark: SparkSession, path: str) -> list[str]:
    """Relative paths of every non-hidden data file under ``path`` from
    ONE recursive listing (``fs.listFiles(path, recursive=True)``) —
    the remote-FS-friendly walk: a per-partition ``listStatus`` loop
    costs one namenode/object-store round trip per directory, which is
    thousands of RPCs on a wide layout. Files inside hidden dirs
    (``_batches``, ``.staging``…) are skipped like hidden files."""
    fs, jpath = _fs_path(spark, path)
    if not fs.exists(jpath):
        return []
    base = jpath.toUri().getPath().rstrip("/")
    out = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        p = it.next().getPath()
        rel = p.toUri().getPath()[len(base) + 1:]
        # mirror Spark's own hidden-path rule: "_"/"." prefixes are
        # hidden UNLESS the segment is a partition dir (contains "=") —
        # the multi-table layouts' __tbl= level must not vanish from
        # file-stats walks
        if any(
            seg.startswith(("_", ".")) and "=" not in seg
            for seg in rel.split("/")
        ):
            continue
        out.append(rel)
    return out


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Directory/file rename — atomic on HDFS and local filesystems,
    which is what layout maintenance swaps rely on. Raises if the
    filesystem refuses (dst exists, src missing) instead of returning
    Hadoop's silent False: a swap step that didn't happen must stop
    the maintenance job, not let it delete the original."""
    fs, jsrc = _fs_path(spark, src)
    _, jdst = _fs_path(spark, dst)
    if not fs.rename(jsrc, jdst):
        raise OSError(f"rename {src} -> {dst} refused by the filesystem")


def count_data_files(spark: SparkSession, path: str) -> int:
    """Data files (non-hidden, non-marker) directly inside ``path``."""
    fs, jpath = _fs_path(spark, path)
    if not fs.exists(jpath):
        return 0
    n = 0
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            n += 1
    return n


def mkdirs(spark: SparkSession, path: str) -> None:
    """``mkdir -p``. Hadoop mkdirs is idempotent (true/exists)."""
    fs, jpath = _fs_path(spark, path)
    fs.mkdirs(jpath)


def publish_exclusive(spark: SparkSession, path: str, data: bytes) -> bool:
    """Atomically publish a small file at ``path`` with put-if-absent
    semantics: write the full content to a hidden temp sibling, then
    rename. Returns False iff ``path`` already existed (the rename
    refused) — the transaction-log commit race. Strictly stronger than
    create-exclusive-then-write: a reader can never observe a
    partially-written file, because the content lands whole under the
    temp name and the rename is atomic.

    Semantics by filesystem: exact on HDFS and local (rename onto an
    existing destination refuses — probed empirically on the local FS,
    HADOOP-9805 behavior) and on ABFS/GCS (metadata rename). On S3A,
    rename is client-side copy+delete — neither atomic nor reliably
    exclusive — so concurrent WRITERS to the same log need an external
    coordination layer there (the same caveat as Delta Lake on S3
    before its commit service; single-writer S3 pipelines are fine)."""
    import uuid as _uuid

    fs, jdst = _fs_path(spark, path)
    parent = jdst.getParent()
    jvm = spark.sparkContext._jvm
    jtmp = jvm.org.apache.hadoop.fs.Path(
        parent, f".{jdst.getName()}.{_uuid.uuid4().hex[:12]}.tmp"
    )
    out = fs.create(jtmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if fs.rename(jtmp, jdst):
        return True
    # rename refused: dst existed (loser of the race) or something is
    # broken — in both cases the temp must not linger
    fs.delete(jtmp, False)
    if fs.exists(jdst):
        return False
    raise OSError(f"publish of {path} refused by the filesystem")


def write_parallelism(df) -> int:
    """Explicit shuffle-partition count for key-repartitioned
    partitioned-layout writes (``repartition(n, cols)`` instead of
    ``repartition(cols)``).

    A column-only repartition is AQE-coalescible BY BYTES, but a
    ``partitionBy`` layout write is bound by per-FILE creation cost
    (dirs × open/footer/commit), which byte-sizing wildly
    underestimates for many-directory layouts — measured at sf0.1 the
    T=40 cross-polytope build's write stage coalesced 32 → 10 tasks
    and spent ~90% of task time blocked on file I/O (26 s line → 13 s
    with the explicit count). The count does NOT change the layout:
    every partition-column key hashes to exactly one task either way,
    so each dir still receives one file per (task, append); only the
    number of concurrent writers moves. Scale-adaptive by deferring to
    ``spark.sql.shuffle.partitions`` — the session default tracks the
    core count locally and the operator-configured value on a cluster.
    """
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def scan_parallelism(df, min_parts: int | None = None):
    """Spread heavy per-row map work that follows a FEW-SPLIT scan.

    A parquet file smaller than ``spark.sql.files.maxPartitionBytes``
    (or with one row group) arrives as ONE scan partition, and every
    map-side expression downstream — per-token md5 hashing, n-gram
    explodes, GEMM batches — runs in one task while the rest of the
    cluster idles (guide §2.5 "input skew: one huge unsplittable
    file"; measured at sf0.1: doc_top_bigrams spent 3.7 s in a single
    task, 32 cores idle). When the scan already yields at least the
    session's default parallelism — ANY at-scale input — this returns
    ``df`` unchanged, so no shuffle is ever added where data is big;
    when it fires, the payload being shuffled is by construction
    smaller than one scan split. Round-robin repartition keeps
    deterministic row placement under retries (sort-before-repartition
    is on by default, SPARK-23207)."""
    # streaming frames: no partitioning to probe, and micro-batch
    # partitioning is the source's to decide — pass through untouched
    # (the CP-LSH streaming sink reaches the same hash pass this
    # helper wraps; regression caught by test_stream_into_cplsh_layout)
    if df.isStreaming:
        return df
    sess = df.sparkSession
    want = min_parts or sess.sparkContext.defaultParallelism
    # METADATA-ONLY probe: ``df.rdd.getNumPartitions()`` finalizes the
    # AQE plan, which EXECUTES upstream stages on derived frames (a
    # cached limit() input cost a whole Spark job at plan time —
    # caught by test_near_dup_dim_param_skips_inference_job). Instead
    # count the scan's input files and, only when there are fewer than
    # ``want``, stat those few for their split count — no job, ≤
    # ``want`` driver-side file stats, works identically on object
    # stores. Non-file inputs (local relations, test frames) pass
    # through: their partitioning is the caller's.
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return df
    if len(files) >= want:
        return df
    mpb = _size_conf(sess, "spark.sql.files.maxPartitionBytes",
                     128 * 1024 * 1024)
    est = 0
    total = 0
    for f in files:
        try:
            fs, p = _fs_path(sess, f)
            ln = int(fs.getFileStatus(p).getLen())
            total += ln
            est += max(1, ln // mpb)
        except Exception:
            est += 1
            total += mpb  # unknown size: charge a full split
        if est >= want:
            return df
    # Size-cap the spread (VERDICT r15 ask #3): a 2 MB corpus split 32
    # ways pays ~32 Python/Arrow task launches per pass — at sf0.1 the
    # driver measured doc_dsir_top 3.2→5.5 s and doc_winnow_against
    # 2.2→4.5 s from exactly this. Target one task per
    # KOWARI_SPREAD_BYTES_PER_TASK of input (default 256 KB — the
    # per-row map work behind these spreads is orders of magnitude
    # heavier per byte than a plain scan, so the crossover sits far
    # below maxPartitionBytes; measured: 2 MB/8 tasks ≈ the 8-core
    # suite's per-line times, while 32 tasks regress and 2 tasks
    # under-spread the heavy explodes). Never applied above an explicit
    # ``min_parts`` ask, and a no-op at scale either way (any real
    # input returns earlier with splits >= cores).
    if min_parts is None:
        per_task = 256 * 1024
        try:
            import os as _os

            per_task = int(_os.environ.get(
                "KOWARI_SPREAD_BYTES_PER_TASK", per_task))
        except ValueError:
            pass
        if per_task > 0:
            want = min(want, max(2, total // per_task))
        if est >= want:
            return df
    return df.repartition(want)


def _size_conf(sess, key: str, default: int) -> int:
    """Byte value of a Spark size conf ('128m', '134217728b', ...)."""
    try:
        raw = str(sess.conf.get(key)).strip().lower()
    except Exception:
        return default
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("b", 1)):
        if raw.endswith(suf):
            raw = raw[: -len(suf)]
            mult = m
            break
    try:
        return int(raw) * mult
    except ValueError:
        return default


def local_df(spark: SparkSession, rows, schema=None):
    """Small driver-local DataFrame via the Arrow path.

    ``createDataFrame(list, schema)`` takes the pickled-RDD route: the
    rows are parallelized into ``defaultParallelism`` slices and every
    downstream action schedules that many Python-worker tasks —
    measured at local[32]: ~0.4 s to collect a 2-row frame, and ~3x on
    a broadcast join against it, vs ~36 ms through pandas+Arrow (guide
    §6 "Arrow for driver transfers"; the probe-frame analog of the
    same rule for toPandas). Values and schema are identical either
    way — the Arrow writer casts to the explicit schema exactly like
    the pickle path's verifier, and with ``schema=None`` pandas' dtype
    inference (int64→bigint, str→string) matches the row-sampling
    inference for the homogeneous payloads probe frames carry — so
    this is a transport change only. Falls back to the classic path
    for payloads Arrow can't convert.
    """
    from pyspark.sql.types import StructType

    try:
        import pandas as pd

        if schema is None:
            return spark.createDataFrame(pd.DataFrame(list(rows)))
        st = (
            schema
            if isinstance(schema, StructType)
            else StructType.fromDDL(schema)
        )
        pdf = pd.DataFrame(list(rows), columns=st.names, dtype=object)
        return spark.createDataFrame(pdf, schema=st)
    except Exception:
        return spark.createDataFrame(list(rows), schema=schema)


# -- bounded driver-side input ---------------------------------------------

#: the driver-side row bound: an input of at most this many rows may be
#: collected and answered on the driver — the in-memory embedding and
#: MinHash near-dups and the driver union-find (``operators/dedup.py``;
#: measured on 64-d clustered vectors at local[4] with edges="pairs":
#: 6.8 s in memory vs 500.7 s distributed at 65,536 rows,
#: plans/r19/README.md) and the in-memory IVF and PQ fits
#: (``operators/quantizer.py``)
_DRIVER_MAX_ROWS = 65536


def _narrow(df) -> bool:
    """Whether ``df``'s physical plan has no exchange (scans, unions,
    projections, filters, row-local UDFs): planning only, no job."""
    return "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


def bounded_collect(df, max_rows: int) -> list:
    """At most ``max_rows`` + 1 of ``df``'s rows, in partition order, from
    one Spark job. ``limit(n).collect()`` scans partitions in rounds
    that grow by ``spark.sql.limit.scaleUpFactor`` — one job per round,
    so 2+ jobs on a multi-file read. A narrow plan is first coalesced to
    one partition, which the limit then reads in one task, in the same
    row order. A plan with an exchange keeps the plain limit: coalescing
    would run its aggregate or join's final stage in one task."""
    return (df.coalesce(1) if _narrow(df) else df).limit(max_rows + 1).collect()


def fits_driver(df, max_rows: int) -> bool:
    """Whether ``df`` has at most ``max_rows`` rows, from one Spark job
    with no shuffle: on a narrow plan a count over the coalesced limit
    (one task that stops after ``max_rows`` + 1 rows and returns one
    number), else a zero-column ``limit().collect()`` (``limit().count()``
    would add a single-partition exchange). False when ``max_rows`` <= 0."""
    if max_rows <= 0:
        return False
    cols = df.select()
    if _narrow(cols):
        return cols.coalesce(1).limit(max_rows + 1).count() <= max_rows
    return len(cols.limit(max_rows + 1).collect()) <= max_rows


def infer_dim(df, vec_col: str) -> int:
    """The first non-null vector's length: one Spark job. The fallback
    of every operator that is not told its vector dimension."""
    from pyspark.sql import functions as F

    row = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if row is None:
        raise ValueError(f"no non-null {vec_col!r} vector to infer the "
                         "dimension from")
    return len(row[0])


def collect_vectors(df, max_rows: int, drop: bool = False,
                    dim: int | None = None, cut: bool = False):
    """(rows, V) for ``df``'s columns (id, vector, ...): the collected
    rows and their vectors as one float64 matrix, from one
    ``bounded_collect`` of ``max_rows`` + 1 rows — the bounded input of
    every driver-side path (the HNSW beam and in-memory build, the
    in-memory embedding near-dup, the in-memory IVF and PQ fits). None
    when the rows do not fit (none, or more than ``max_rows``), an id
    or vector is null, the vectors are ragged (the distributed fold's
    zip_with truncation is not replicated) or an entry is non-finite
    (NaN sorts last in Python keys but first in Spark's descending
    double order). With ``drop``, rows whose vector is null or not
    ``dim`` long (with ``cut``: shorter than ``dim``) are dropped first;
    ``dim`` None is then inferred from the collected rows the way
    ``infer_dim`` infers it, with no Spark job. With ``cut``, V holds
    each vector's first ``dim`` entries (PQ's ignore-the-tail rule)."""
    import numpy as np

    if max_rows <= 0:
        return None
    rows = bounded_collect(df, max_rows)
    if len(rows) > max_rows:
        return None
    if drop:
        if dim is None:
            dim = next((len(r[1]) for r in rows if r[1] is not None), None)
        rows = [r for r in rows if r[1] is not None and (
            len(r[1]) >= dim if cut else len(r[1]) == dim)]
    if not rows or any(r[0] is None or r[1] is None for r in rows):
        return None
    if cut:
        vecs = [r[1][:dim] for r in rows]
    else:
        vecs = [r[1] for r in rows]
        if any(len(v) != len(vecs[0]) for v in vecs):
            return None
    V = np.asarray(vecs, dtype=np.float64)  # null entry -> nan
    if not np.isfinite(V).all():
        return None
    return rows, V
