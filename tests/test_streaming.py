"""Structured Streaming tests: every streaming operator drained with
availableNow must agree with its batch equivalent on the same input."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from kowari_spark.catalog import CollectionManager
from kowari_spark.streaming import (
    EVENT_SCHEMA,
    hourly_rollup,
    read_events_stream,
    session_rollup,
    sliding_rollup,
    stream_vectors_into,
    streaming_dedup,
    user_running_stats,
)

pytestmark = pytest.mark.usefixtures("spark")


FLUSH_TYPE = "__flush__"


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events re-written as several parquet files in a landing dir (the
    raw table stores nanosecond timestamps, which the stream reader can't
    take directly — normalize to micros once here).

    A single far-future sentinel event is appended as the LAST file: in
    append mode a window only emits once the watermark passes it, so
    without the sentinel the final hours of real windows would be
    withheld at end-of-stream. The sentinel pushes the watermark past
    every real window; comparisons filter it back out."""
    out = str(tmp_path_factory.mktemp("events_src"))
    import __spark_entry__ as entrymod

    ev = entrymod._events(spark, sf_dir).select([f.name for f in EVENT_SCHEMA])
    ev.repartition(4).write.mode("overwrite").parquet(out)
    flush = ev.limit(0).sparkSession.createDataFrame(
        [(10**9, ev.agg(F.max("ts")).first()[0] + __import__("datetime").timedelta(days=30),
          -1, FLUSH_TYPE, 0.0, None)],
        EVENT_SCHEMA,
    )
    tmp = str(tmp_path_factory.mktemp("flush"))
    flush.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    dst = f"{out}/zzz-flush.parquet"
    shutil.copy(part, dst)
    now = __import__("time").time()
    os.utime(dst, (now + 1000, now + 1000))  # newest mtime -> read last
    return out


@pytest.fixture(scope="module")
def events_batch(spark, events_dir):
    """The real events (sentinel excluded) — the batch-parity baseline."""
    return (
        spark.read.schema(EVENT_SCHEMA)
        .parquet(events_dir)
        .filter(F.col("event_type") != FLUSH_TYPE)
        .cache()
    )


def _drain(spark, stream_df, name, mode="append"):
    """Run a streaming query to completion into a memory sink."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_hourly_rollup_stream_matches_batch(spark, events_dir, events_batch):
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=2)
    got = _drain(spark, hourly_rollup(stream), "hourly", mode="append").filter(
        F.col("event_type") != FLUSH_TYPE
    )
    want = hourly_rollup(events_batch)
    cols = ["hour", "event_type", "n"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sliding_rollup_stream_matches_batch(spark, events_dir, events_batch):
    stream = read_events_stream(spark, events_dir)
    got = _drain(spark, sliding_rollup(stream), "sliding", mode="append").filter(
        F.col("event_type") != FLUSH_TYPE
    )
    want = sliding_rollup(events_batch)
    cols = ["w_start", "event_type", "n"]
    assert _rows(got, cols) == _rows(want, cols)
    # sliding windows: every event lands in window/slide = 4 windows
    assert got.agg(F.sum("n")).first()[0] == events_batch.count() * 4


def test_session_rollup_stream_matches_batch(spark, events_dir, events_batch):
    stream = read_events_stream(spark, events_dir)
    got = _drain(spark, session_rollup(stream), "sessions", mode="append").filter(
        F.col("user_id") != -1
    )
    want = session_rollup(events_batch)
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_dedup(spark, events_dir, events_batch, tmp_path):
    # duplicate the source files -> every event arrives twice
    dup_dir = str(tmp_path / "dup")
    os.makedirs(dup_dir)
    for i, f in enumerate(glob.glob(f"{events_dir}/*.parquet")):
        shutil.copy(f, f"{dup_dir}/a{i}.parquet")
        shutil.copy(f, f"{dup_dir}/b{i}.parquet")
    stream = read_events_stream(spark, dup_dir)
    got = _drain(spark, streaming_dedup(stream), "deduped", mode="append").filter(
        F.col("event_type") != FLUSH_TYPE
    )
    assert got.count() == events_batch.count()
    assert got.select("event_id").distinct().count() == events_batch.count()


def test_user_running_stats_final_state_matches_batch(spark, events_dir, events_batch):
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    got = _drain(spark, user_running_stats(stream), "ustats", mode="update").filter(
        F.col("user_id") != -1
    )
    # update-mode memory sink appends every emission; the LAST row per
    # user is the final running state
    final = (
        got.withColumn("__ord", F.monotonically_increasing_id())
        .orderBy(F.desc("__ord"))
        .dropDuplicates(["user_id"])
    )
    want = events_batch.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total_value"),
        F.max("value").alias("max_value"),
    )
    g = {r["user_id"]: (r["n_events"], round(r["total_value"], 6), round(r["max_value"], 6))
         for r in final.collect()}
    w = {r["user_id"]: (r["n_events"], round(r["total_value"], 6), round(r["max_value"], 6))
         for r in want.collect()}
    assert g == w


def test_stream_vectors_into_collection(spark, embeddings, tmp_path):
    # vector records streamed from files into a managed collection
    src = str(tmp_path / "vec_src")
    vecs = embeddings.select(
        F.col("vec_id").cast("string").alias("id"),
        F.col("embedding"),
        F.to_json(F.struct("label")).alias("metadata"),
    ).limit(100)
    vecs.repartition(3).write.mode("overwrite").parquet(src)

    mgr = CollectionManager(spark, str(tmp_path / "warehouse"))
    coll = mgr.create_collection("streamed", dimension=64, mode="upsert")
    stream = spark.readStream.schema(vecs.schema).parquet(src)
    q = stream_vectors_into(stream, coll, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert coll.count() == 100
    got = coll.get("7")
    assert got is not None and len(got["embedding"]) == 64


def test_stream_into_lsh_layout(spark, embeddings, tmp_path):
    from kowari_spark.operators.lsh import SignLSH
    from kowari_spark.streaming.ingest import stream_into_lsh_layout

    src = str(tmp_path / "vsrc")
    vecs = embeddings.select("vec_id", "embedding").limit(200)
    vecs.repartition(4).write.mode("overwrite").parquet(src)

    lsh = SignLSH(dim=64, num_planes=4, seed=42)
    out = str(tmp_path / "lsh_layout")
    stream = spark.readStream.schema(vecs.schema).parquet(src)
    q = stream_into_lsh_layout(stream, lsh, out, str(tmp_path / "ck"))
    q.awaitTermination(120)

    stored = spark.read.parquet(out)
    assert stored.count() == 200
    # layout agrees with the batch bucketing
    want = lsh.with_buckets(vecs)
    got = {(r["vec_id"], r["bucket"]) for r in stored.collect()}
    assert got == {(r["vec_id"], r["bucket"]) for r in want.collect()}
    # a probe partition-prunes the streamed layout
    probe = stored.filter(F.col("bucket") == want.first()["bucket"])
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan


def test_compact_bucketed_layout_bounds_files(spark, embeddings, tmp_path):
    """N micro-batches leave ~N small files per touched bucket; one
    compaction pass bounds every oversized bucket to target_files and
    changes no data."""
    from kowari_spark.fsutil import count_data_files, list_dirs
    from kowari_spark.operators.lsh import SignLSH
    from kowari_spark.streaming.ingest import (
        compact_bucketed_layout,
        stream_into_lsh_layout,
    )

    src = str(tmp_path / "vsrc")
    out = str(tmp_path / "layout")
    ck = str(tmp_path / "ck")
    lsh = SignLSH(dim=64, num_planes=2, seed=42)  # 4 buckets -> files pile up
    vecs = embeddings.select("vec_id", "embedding").limit(120)

    # 6 micro-batches through ONE checkpoint (the parquet sink's
    # _spark_metadata dedups batch ids, so each drain must be a new
    # batch): append fresh source files, drain, repeat — every drain
    # leaves one more small file per touched bucket
    for i in range(6):
        batch = vecs.filter(F.col("vec_id") % 6 == i)
        batch.coalesce(1).write.mode("append").parquet(src)
        q = stream_into_lsh_layout(
            spark.readStream.schema(batch.schema).parquet(src),
            lsh, out, ck,
        )
        q.awaitTermination(120)

    before = {(r["vec_id"], r["bucket"]) for r in spark.read.parquet(out).collect()}
    buckets = [d for d in list_dirs(spark, out) if d.startswith("bucket=")]
    assert any(count_data_files(spark, f"{out}/{d}") > 4 for d in buckets)

    rewritten = compact_bucketed_layout(spark, out, max_files=4, target_files=1)
    assert rewritten  # something was oversized and got compacted

    after_files = {d: count_data_files(spark, f"{out}/{d}") for d in buckets}
    for d in rewritten:
        assert after_files[d] <= 1, f"{d} still has {after_files[d]} files"
    # data unchanged, probes still prune
    after = {(r["vec_id"], r["bucket"]) for r in spark.read.parquet(out).collect()}
    assert after == before
    # second pass is a no-op: nothing oversized remains
    assert compact_bucketed_layout(spark, out, max_files=4) == []


def test_late_data_dropped_after_watermark(spark, tmp_path):
    """An event arriving after the watermark passed its window is
    DROPPED (the documented late-data policy of hourly_rollup)."""
    import datetime as dt
    import time as _time

    src = str(tmp_path / "late_src")
    os.makedirs(src)

    def write_file(name, rows, mtime_bump):
        df = spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1)
        d = str(tmp_path / ("tmp_" + name))
        df.write.mode("overwrite").parquet(d)
        part = glob.glob(f"{d}/part-*.parquet")[0]
        dst = f"{src}/{name}.parquet"
        shutil.copy(part, dst)
        t = _time.time() + mtime_bump
        os.utime(dst, (t, t))

    T = dt.datetime(2024, 1, 1, 0, 10)
    H = dt.timedelta(hours=1)
    ev = lambda i, ts, typ="x": (i, ts, 1, typ, 1.0, None)
    # batch 1: one event in the 00:00 window
    write_file("a", [ev(1, T)], 100)
    # batch 2: advances watermark to 04:00 -> 00:00 window closes+emits
    write_file("b", [ev(2, T + 6 * H)], 200)
    # batch 3: settles the advanced watermark (Spark applies the late-row
    # filter with the watermark finalized in the PREVIOUS batch)
    write_file("b2", [ev(5, T + 6 * H + dt.timedelta(minutes=5))], 250)
    # batch 4: LATE row for the closed 00:00 window (must be dropped)
    write_file("c", [ev(3, T + dt.timedelta(minutes=20))], 300)
    # batch 4: far-future flush so every open window emits
    write_file("d", [ev(4, T + 48 * H, FLUSH_TYPE)], 400)

    stream = read_events_stream(spark, src, max_files_per_trigger=1)
    got = _drain(spark, hourly_rollup(stream, watermark="2 hours"), "late_hourly").filter(
        F.col("event_type") != FLUSH_TYPE
    )
    by_hour = {r["hour"]: r["n"] for r in got.collect()}
    # the 00:00 window holds ONLY the on-time event; the late one is gone
    assert by_hour["2024-01-01 00:00:00"] == 1
    assert by_hour["2024-01-01 06:00:00"] == 2  # events 2 and 5


def _small_file_layout(spark, embeddings, tmp_path, tag):
    """Bucketed layout with many small files per bucket (no stream)."""
    out = str(tmp_path / f"layout_{tag}")
    vecs = embeddings.select("vec_id", "embedding").limit(120)
    from kowari_spark.operators.lsh import SignLSH

    lsh = SignLSH(dim=64, num_planes=2, seed=42)
    for i in range(6):
        lsh.with_buckets(vecs.filter(F.col("vec_id") % 6 == i)).coalesce(
            1
        ).write.mode("append").partitionBy("bucket").parquet(out)
    return out


def test_compact_target_files_fans_out(spark, embeddings, tmp_path):
    """target_files=2 must genuinely produce 2 files per rewritten
    bucket — the r4 repartition(n, partition_col) silently yielded 1."""
    from kowari_spark.fsutil import count_data_files, list_dirs
    from kowari_spark.streaming.ingest import compact_bucketed_layout

    out = _small_file_layout(spark, embeddings, tmp_path, "fanout")
    before = {(r["vec_id"], r["bucket"]) for r in spark.read.parquet(out).collect()}
    rewritten = compact_bucketed_layout(spark, out, max_files=4, target_files=2)
    assert rewritten
    for d in rewritten:
        n = count_data_files(spark, f"{out}/{d}")
        assert n == 2, f"{d}: expected 2 files, got {n}"
    after = {(r["vec_id"], r["bucket"]) for r in spark.read.parquet(out).collect()}
    assert after == before


def test_compact_skips_bucket_appended_during_staging(spark, embeddings, tmp_path):
    """Writer-race guard: a micro-batch landing in an oversized bucket
    AFTER the staging snapshot must not be deleted by the swap — that
    bucket is excluded and keeps all its files (ADVICE r4 medium)."""
    from kowari_spark.fsutil import count_data_files, list_dirs
    from kowari_spark.streaming.ingest import compact_bucketed_layout

    out = _small_file_layout(spark, embeddings, tmp_path, "race")
    buckets = sorted(
        d for d in list_dirs(spark, out) if d.startswith("bucket=")
    )
    oversized = [
        d for d in buckets if count_data_files(spark, f"{out}/{d}") > 4
    ]
    assert oversized
    victim = oversized[0]
    victim_val = int(victim.split("=", 1)[1])
    extra = embeddings.select("vec_id", "embedding").filter(
        F.col("vec_id") >= 9000
    ).limit(0)  # schema donor; real row below

    racer_rows = spark.createDataFrame(
        [(999999, [0.5] * 64)], "vec_id long, embedding array<float>"
    ).withColumn("bucket", F.lit(victim_val))

    def racer():
        # concurrent stream append into the victim bucket mid-compaction
        racer_rows.coalesce(1).write.mode("append").partitionBy(
            "bucket"
        ).parquet(out)

    before_all = {
        (r["vec_id"], r["bucket"]) for r in spark.read.parquet(out).collect()
    }
    rewritten = compact_bucketed_layout(
        spark, out, max_files=4, target_files=1, _post_stage_hook=racer
    )
    # the raced bucket was excluded from the swap...
    assert victim not in rewritten
    after_all = {
        (r["vec_id"], r["bucket"]) for r in spark.read.parquet(out).collect()
    }
    # ...and no row was lost: old rows + the racer's row all present
    assert after_all == before_all | {(999999, victim_val)}


def test_create_marker_propagates_real_io_errors(spark, tmp_path):
    """Round-4 ADVICE low: a transient failure writing the idempotence
    marker must FAIL the batch (so the checkpoint doesn't commit), not
    silently disable replay dedup. Only already-exists maps to False."""
    import pytest as _pytest

    from kowari_spark.fsutil import create_marker

    ok = str(tmp_path / "marker")
    assert create_marker(spark, ok) is True
    assert create_marker(spark, ok) is False  # exists -> idempotent False
    # parent path is a FILE -> the create must raise, not return False
    blocker = tmp_path / "blocker"
    blocker.write_text("x")
    with _pytest.raises(Exception):
        create_marker(spark, str(blocker / "child-marker"))


def test_compaction_preserves_partition_pruning(spark, embeddings, tmp_path):
    """A probe on a compacted layout must still prune at the scan."""
    from kowari_spark.streaming.ingest import compact_bucketed_layout

    out = _small_file_layout(spark, embeddings, tmp_path, "prune")
    assert compact_bucketed_layout(spark, out, max_files=4)
    stored = spark.read.parquet(out)
    probe = stored.filter(F.col("bucket") == 1)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan


def test_compaction_lock_blocks_and_releases(spark, embeddings, tmp_path):
    """The layout-level _compacting marker: a sink-side wait raises
    after its bounded timeout while the marker is held, returns once it
    clears, and a second compactor no-ops while the first holds the
    lock (ADVICE r5: make in-flight compaction detectable)."""
    import threading
    import time as _time

    import pytest as _pytest

    from kowari_spark import fsutil
    from kowari_spark.streaming.ingest import (
        COMPACTING_MARKER,
        _wait_not_compacting,
        compact_bucketed_layout,
    )

    out = _small_file_layout(spark, embeddings, tmp_path, "lock")
    marker = f"{out}/{COMPACTING_MARKER}"

    # no marker -> returns immediately
    _wait_not_compacting(spark, out, timeout_secs=0.5)

    # held marker -> bounded wait then a clear, actionable error
    assert fsutil.create_marker(spark, marker)
    with _pytest.raises(RuntimeError, match="_compacting"):
        _wait_not_compacting(spark, out, timeout_secs=0.4)
    # ...and a concurrent compaction no-ops instead of double-swapping
    assert compact_bucketed_layout(spark, out, max_files=4) == []
    assert fsutil.exists(spark, marker)  # a no-op must NOT steal the lock

    # marker released by the holder -> the waiter proceeds
    t = threading.Timer(0.5, lambda: fsutil.delete(spark, marker))
    t.start()
    t0 = _time.monotonic()
    _wait_not_compacting(spark, out, timeout_secs=10.0)
    assert _time.monotonic() - t0 < 9.0
    t.join()

    # with the lock free, compaction runs and releases it on exit
    rewritten = compact_bucketed_layout(spark, out, max_files=4)
    assert rewritten
    assert not fsutil.exists(spark, marker)


def test_stream_into_quantized_layouts(spark, embeddings, tmp_path):
    """Incremental IVF/PQ/IVFPQ maintenance: build() on part A with a
    frozen quantizer, stream part B into the layout — the result is
    row-identical to batch-building A∪B with the SAME quantizer, and
    probes are identical. (Quantizers frozen by design: staleness is a
    rebuild concern, not an append concern.)"""
    from kowari_spark.operators.ivf import IVF
    from kowari_spark.operators.ivfpq import IVFPQ
    from kowari_spark.operators.pq import PQ
    from kowari_spark.streaming.ingest import stream_into_quantized_layout

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), "embedding"
    ).limit(200).cache()
    part_a = vecs.filter(F.col("id") % 2 == 0).cache()
    part_b = vecs.filter(F.col("id") % 2 == 1).cache()
    src = str(tmp_path / "qsrc")
    part_b.repartition(3).write.mode("overwrite").parquet(src)

    ivf = IVF(n_lists=4, n_probe=2, max_iter=2, seed=42,
              round_centroids=6).fit(part_a, id_col="id")
    pq = PQ(m=4, k_sub=4, max_iter=1, seed=42).fit(part_a, id_col="id", dim=64)
    comp = IVFPQ(ivf, pq)

    def drain(index, out, ck):
        q = stream_into_quantized_layout(
            spark.readStream.schema(part_b.schema).parquet(src),
            index, out, ck, id_col="id",
        )
        q.awaitTermination(120)

    # IVF
    out = str(tmp_path / "ivf_layout")
    ivf.build(part_a, out)
    drain(ivf, out, str(tmp_path / "ck_ivf"))
    got = {(r["id"], r["list_id"]) for r in
           spark.read.parquet(out).select("id", "list_id").collect()}
    want = {(r["id"], r["list_id"]) for r in
            ivf.with_lists(vecs).select("id", "list_id").collect()}
    assert got == want

    # PQ
    out = str(tmp_path / "pq_layout")
    pq.build(part_a, out, id_col="id")
    drain(pq, out, str(tmp_path / "ck_pq"))
    got = {(r["id"], tuple(r["codes"])) for r in
           spark.read.parquet(out).collect()}
    want = {(r["id"], tuple(r["codes"])) for r in
            pq.with_codes(vecs).select("id", "codes").collect()}
    assert got == want

    # IVFPQ — streamed layout probes identically to the batch layout
    out = str(tmp_path / "ivfpq_layout")
    batch_out = str(tmp_path / "ivfpq_batch")
    comp.build(part_a, out, id_col="id")
    drain(comp, out, str(tmp_path / "ck_ivfpq"))
    comp.build(vecs, batch_out, id_col="id")
    queries = vecs.filter(F.col("id") < 3).select(
        F.col("id").alias("query_id"), "embedding"
    )
    a = sorted(map(tuple, comp.query_batch(
        comp.load(spark, out), queries, 5, id_col="id", round_to=6
    ).collect()))
    b = sorted(map(tuple, comp.query_batch(
        comp.load(spark, batch_out), queries, 5, id_col="id", round_to=6
    ).collect()))
    assert a == b and len(a) > 0

    # a replayed drain (same checkpoint, same source) is a no-op
    n_before = spark.read.parquet(out).count()
    drain(comp, out, str(tmp_path / "ck_ivfpq"))
    assert spark.read.parquet(out).count() == n_before


def test_stream_into_quantized_layout_requires_fit(spark, embeddings, tmp_path):
    from kowari_spark.operators.ivf import IVF
    from kowari_spark.streaming.ingest import stream_into_quantized_layout

    vecs = embeddings.select(F.col("vec_id").alias("id"), "embedding").limit(5)
    src = str(tmp_path / "rsrc")
    vecs.write.parquet(src)
    with pytest.raises(ValueError, match="fit"):
        stream_into_quantized_layout(
            spark.readStream.schema(vecs.schema).parquet(src),
            IVF(), str(tmp_path / "o"), str(tmp_path / "c"),
        )


def test_compact_streamed_ivfpq_layout(spark, embeddings, tmp_path):
    """compact_bucketed_layout generalizes to quantized layouts: after
    several streamed micro-batches into an IVF×PQ layout, compaction on
    partition_col='list_id' bounds per-cell file counts and changes no
    data (probes identical before/after)."""
    from kowari_spark.fsutil import count_data_files, list_dirs
    from kowari_spark.operators.ivf import IVF
    from kowari_spark.operators.ivfpq import IVFPQ
    from kowari_spark.operators.pq import PQ
    from kowari_spark.streaming.ingest import (
        compact_bucketed_layout,
        stream_into_quantized_layout,
    )

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), "embedding"
    ).limit(180).cache()
    part_a = vecs.filter(F.col("id") % 7 == 0)
    comp = IVFPQ(
        IVF(n_lists=4, n_probe=4, max_iter=1, seed=42, round_centroids=6),
        PQ(m=4, k_sub=4, max_iter=1, seed=42),
    ).fit(part_a, id_col="id", dim=64)
    out = str(tmp_path / "layout")
    comp.build(part_a, out, id_col="id")

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    for i in range(1, 7):
        batch = vecs.filter(F.col("id") % 7 == i)
        batch.coalesce(1).write.mode("append").parquet(src)
        q = stream_into_quantized_layout(
            spark.readStream.schema(batch.schema).parquet(src),
            comp, out, ck, id_col="id",
        )
        q.awaitTermination(120)

    cells = [d for d in list_dirs(spark, out) if d.startswith("list_id=")]
    assert any(count_data_files(spark, f"{out}/{d}") > 4 for d in cells)
    queries = vecs.filter(F.col("id") < 3).select(
        F.col("id").alias("query_id"), "embedding"
    )
    before = sorted(map(tuple, comp.query_batch(
        comp.load(spark, out), queries, 5, id_col="id", round_to=6
    ).collect()))

    rewritten = compact_bucketed_layout(
        spark, out, partition_col="list_id", max_files=4, target_files=1
    )
    assert rewritten
    assert all(count_data_files(spark, f"{out}/{d}") <= 4 for d in cells)
    after = sorted(map(tuple, comp.query_batch(
        comp.load(spark, out), queries, 5, id_col="id", round_to=6
    ).collect()))
    assert before == after


def test_stream_into_hnsw_graph(spark, embeddings, tmp_path):
    """HNSW incremental maintenance (the last rebuild-only family):
    build_layout() on part A, stream part B in micro-batches — the
    streamed graph equals base ∪ insert_edges deltas (frozen-graph
    insert), inserted nodes are findable top-1, and recall@10 stays
    within 0.1 of a full rebuild. A second drain of the same source is
    a no-op (idempotence markers)."""
    from kowari_spark.operators.eval import mean_metric, recall_at_k
    from kowari_spark.operators.hnsw import HNSW
    from kowari_spark.operators.topk import knn_batch
    from kowari_spark.streaming.ingest import stream_into_hnsw_graph

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), "embedding"
    ).limit(200).cache()
    part_a = vecs.filter(F.col("id") % 2 == 0).cache()
    part_b = vecs.filter(F.col("id") % 2 == 1).cache()
    src = str(tmp_path / "hsrc")
    part_b.repartition(3).write.mode("overwrite").parquet(src)

    h = HNSW(m=8, ef=32, seed=42)
    path = str(tmp_path / "hnsw_graph")
    h.build_layout(part_a, path)

    def drain(ck):
        q = stream_into_hnsw_graph(
            spark.readStream.schema(part_b.schema).parquet(src),
            h, path, ck, id_col="id",
        )
        q.awaitTermination(120)

    drain(str(tmp_path / "ck_h1"))
    base, edges, _ = HNSW().load_layout(spark, path)
    assert base.count() == 200

    # inserted nodes findable immediately
    newq = part_b.select(F.col("id").alias("query_id"), "embedding").limit(6)
    for r in h.query_batch(base, edges, newq, 1, round_to=6).collect():
        assert r["query_id"] == r["id"]

    # recall-equivalence vs full rebuild at 50% inserted
    queries = vecs.select(F.col("id").alias("query_id"), "embedding").limit(15)
    exact = knn_batch(vecs, queries, 10, round_to=6)
    grown = mean_metric(recall_at_k(
        exact, h.query_batch(base, edges, queries, 10, round_to=6), 10
    ), "recall")
    rebuilt = mean_metric(recall_at_k(
        exact, h.query_batch(vecs, h.build(vecs), queries, 10, round_to=6),
        10
    ), "recall")
    assert grown >= rebuilt - 0.1, (grown, rebuilt)

    # idempotence: re-draining the same checkpoint replays no batch
    # (stream offsets + the per-batch markers both gate it)
    n_edges = edges.count()
    drain(str(tmp_path / "ck_h1"))
    assert spark.read.parquet(f"{path}/edges").count() == n_edges


def test_delete_from_layout_partition_pruned(spark, embeddings, tmp_path):
    """delete_from_layout on an IVF layout: doomed ids vanish, survivors
    (incl. probe results) are unchanged, and partitions holding no
    doomed rows keep their exact files — the rewrite was pruned."""
    import os as _os

    from kowari_spark.operators.ivf import IVF
    from kowari_spark.streaming.ingest import delete_from_layout

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), "embedding"
    ).limit(200).cache()
    ivf = IVF(n_lists=8, n_probe=8, max_iter=2, seed=42).fit(vecs, id_col="id")
    path = str(tmp_path / "ivf_del")
    ivf.build(vecs, path, vec_col="embedding")

    before = spark.read.parquet(path)
    doomed_rows = before.select("id", "list_id").limit(20).collect()
    doomed = {r["id"] for r in doomed_rows}
    hit_parts = {f"list_id={r['list_id']}" for r in doomed_rows}
    all_parts = {d for d in _os.listdir(path) if d.startswith("list_id=")}
    untouched = all_parts - hit_parts
    files_before = {
        d: sorted(_os.listdir(f"{path}/{d}")) for d in untouched
    }

    ids_df = spark.createDataFrame([(i,) for i in doomed], "id long")
    rewritten = delete_from_layout(
        spark, path, ids_df, id_col="id", partition_cols=("list_id",)
    )
    assert set(rewritten) == hit_parts

    after = spark.read.parquet(path)
    got = {r["id"] for r in after.select("id").collect()}
    assert got == {r["id"] for r in vecs.collect()} - doomed
    # untouched partitions: byte-identical file sets (pruned rewrite)
    for d, files in files_before.items():
        assert sorted(_os.listdir(f"{path}/{d}")) == files
    # probes against the layout no longer surface deleted ids
    q = [float(x) for x in vecs.limit(1).collect()[0]["embedding"]]
    res = ivf.query(after, q, 50, id_col="id", round_to=6).collect()
    assert not ({r["id"] for r in res} & doomed)
    # deleting ids that don't exist is a no-op
    ghost = spark.createDataFrame([(10_000_000,)], "id long")
    assert delete_from_layout(
        spark, path, ghost, id_col="id", partition_cols=("list_id",)
    ) == []


def test_delete_from_layout_unpartitioned_and_emptied(spark, embeddings,
                                                      tmp_path):
    """The PQ codes relation (unpartitioned) takes the full-rewrite
    path; emptying a whole partition of a partitioned layout removes
    its directory outright."""
    import os as _os

    from kowari_spark.operators.pq import PQ
    from kowari_spark.streaming.ingest import delete_from_layout

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), "embedding"
    ).limit(120).cache()
    pq = PQ(m=4, k_sub=4, max_iter=1, seed=42).fit(vecs, id_col="id", dim=64)
    ppath = str(tmp_path / "pq_del")
    pq.build(vecs, ppath, id_col="id")
    ids_df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    assert delete_from_layout(
        spark, ppath, ids_df, id_col="id", partition_cols=None
    ) == ["*"]
    left = {r["id"] for r in spark.read.parquet(ppath).select("id").collect()}
    assert left == {r["id"] for r in vecs.collect()} - set(range(10))
    # sidecar untouched -> a fresh PQ still loads and probes
    fresh = PQ()
    coded = fresh.load(spark, ppath)
    assert fresh.codebooks is not None and coded.count() == len(left)

    # emptied-partition case: delete EVERY id of one IVF cell
    from kowari_spark.operators.ivf import IVF

    ivf = IVF(n_lists=4, n_probe=4, max_iter=2, seed=42).fit(vecs, id_col="id")
    ipath = str(tmp_path / "ivf_del2")
    ivf.build(vecs, ipath, vec_col="embedding")
    lists = spark.read.parquet(ipath)
    cell = lists.groupBy("list_id").count().orderBy("count").first()["list_id"]
    cell_ids = [r["id"] for r in
                lists.filter(F.col("list_id") == cell).select("id").collect()]
    delete_from_layout(
        spark, ipath,
        spark.createDataFrame([(i,) for i in cell_ids], "id long"),
        id_col="id", partition_cols=("list_id",),
    )
    assert not _os.path.exists(f"{ipath}/list_id={cell}")
    assert spark.read.parquet(ipath).filter(
        F.col("list_id") == cell).count() == 0


def test_delete_from_layout_multicol_partitions(spark, embeddings, tmp_path):
    """Multi-column partitioned layout (CP-LSH layout="dirs": __tbl,
    bucket): the delete prunes on exact (table, bucket) tuples, removes
    the doomed id from EVERY table's partition, and the sidecar-gated
    load still probes."""
    from kowari_spark.operators.cplsh import CrossPolytopeLSH
    from kowari_spark.streaming.ingest import delete_from_layout

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), "embedding"
    ).limit(120).cache()
    cp = CrossPolytopeLSH(dim=64, num_tables=3, seed=100)
    path = str(tmp_path / "cp_del")
    cp.build(vecs, path, vec_col="embedding", layout="dirs")

    doomed = [r["id"] for r in vecs.limit(4).collect()]
    rewritten = delete_from_layout(
        spark, path,
        spark.createDataFrame([(i,) for i in doomed], "id long"),
        id_col="id", partition_cols=("__tbl", "bucket"),
    )
    # each doomed id appears once per table -> at least num_tables dirs
    assert len(rewritten) >= 3
    assert all("/" in d and d.startswith("__tbl=") for d in rewritten)
    layout = cp.load(spark, path)
    left = {r["id"] for r in layout.select("id").collect()}
    assert not (left & set(doomed))
    # every survivor still present in every table
    per_tbl = layout.groupBy("__tbl").agg(
        F.countDistinct("id").alias("n")).collect()
    assert all(r["n"] == 120 - 4 for r in per_tbl)


def test_delete_from_layout_sorted_cplsh_keeps_survivors(spark, embeddings,
                                                         tmp_path):
    """The default CP-LSH layout ("sorted") keeps __tbl/bucket as data
    columns, not partition dirs. Deleting with partition_cols=(__tbl,
    bucket) used to drop survivors; it must remove exactly the doomed
    ids from every table, keep every survivor in every table, keep the
    build's file shape (plain files, each sorted by (__tbl, bucket)) and
    probe like a fresh build over the survivors."""
    import pyarrow.parquet as pq

    from kowari_spark.fsutil import list_dirs, list_files, write_parallelism
    from kowari_spark.operators.cplsh import CrossPolytopeLSH
    from kowari_spark.streaming.ingest import delete_from_layout

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), "embedding"
    ).limit(120).cache()
    cp = CrossPolytopeLSH(dim=64, num_tables=3, seed=100)
    path = str(tmp_path / "cp_del_sorted")
    cp.build(vecs, path, vec_col="embedding")
    assert cp.layout_format(spark, path) == "sorted"

    all_ids = {r["id"] for r in vecs.select("id").collect()}
    doomed = sorted(all_ids)[:4]
    rewritten = delete_from_layout(
        spark, path,
        spark.createDataFrame([(i,) for i in doomed], "id long"),
        id_col="id", partition_cols=("__tbl", "bucket"),
    )
    assert rewritten == ["*"]
    layout = cp.load(spark, path)
    survivors = all_ids - set(doomed)
    for t in range(3):
        got = {r["id"] for r in layout.filter(F.col("__tbl") == t)
               .select("id").collect()}
        assert got == survivors, f"table {t} lost or kept the wrong ids"
    assert layout.count() == 3 * len(survivors)

    # still the sorted format: no partition dirs, plain files each
    # sorted by (__tbl, bucket)
    assert cp.layout_format(spark, path) == "sorted"
    assert not [d for d in list_dirs(spark, path) if "=" in d]
    files = [f for f in list_files(spark, path)
             if f.endswith(".parquet") and not f.startswith(("_", "."))]
    assert 0 < len(files) <= write_parallelism(vecs)
    for f in files:
        keys = pq.read_table(f"{path}/{f}", columns=["__tbl", "bucket"])
        pairs = list(zip(keys["__tbl"].to_pylist(),
                         keys["bucket"].to_pylist()))
        assert pairs == sorted(pairs), f"{f} is not sorted"

    # probes like a fresh build over the survivors
    fresh = str(tmp_path / "cp_fresh_sorted")
    cp.build(vecs.filter(~F.col("id").isin(doomed)), fresh,
             vec_col="embedding")
    queries = vecs.filter(~F.col("id").isin(doomed)).limit(4).select(
        F.col("id").alias("query_id"), "embedding"
    )
    got = sorted(map(tuple, cp.query_batch(
        layout, queries, 5, id_col="id", round_to=6).collect()))
    want = sorted(map(tuple, cp.query_batch(
        cp.load(spark, fresh), queries, 5, id_col="id",
        round_to=6).collect()))
    assert got == want

    # a delete set that hits nothing rewrites nothing
    assert delete_from_layout(
        spark, path, spark.createDataFrame([(-1,)], "id long"),
        id_col="id", partition_cols=("__tbl", "bucket"),
    ) == []


def test_hnsw_delete_tombstone_semantics(spark, embeddings, tmp_path):
    """hnsw_delete: deleted ids never surface again (tombstone via the
    base join), survivors keep ranking, edges lose the deleted
    endpoints, the sidecar survives, and recall on the pruned graph
    stays near the original."""
    from kowari_spark.operators.eval import mean_metric, recall_at_k
    from kowari_spark.operators.hnsw import HNSW
    from kowari_spark.operators.topk import knn_batch
    from kowari_spark.streaming.ingest import hnsw_delete

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), "embedding"
    ).limit(200).cache()
    h = HNSW(m=8, ef=32, seed=42)
    path = str(tmp_path / "hnsw_del")
    h.build_layout(vecs, path)

    doomed = [r["id"] for r in vecs.limit(10).collect()]
    removed = hnsw_delete(
        spark, path,
        spark.createDataFrame([(i,) for i in doomed], "id long"),
        id_col="id",
    )
    assert removed == 10

    fresh = HNSW()
    base, edges, _ = fresh.load_layout(spark, path)  # sidecar survived
    assert base.count() == 190
    assert edges.filter(
        F.col("src").isin(doomed) | F.col("dst").isin(doomed)
    ).count() == 0

    survivors = vecs.join(
        spark.createDataFrame([(i,) for i in doomed], "id long"),
        "id", "left_anti").cache()
    queries = survivors.select(
        F.col("id").alias("query_id"), "embedding").limit(12)
    res = fresh.query_batch(base, edges, queries, 10, round_to=6).cache()
    assert not ({r["id"] for r in res.collect()} & set(doomed))
    exact = knn_batch(survivors, queries, 10, round_to=6)
    rec = mean_metric(recall_at_k(exact, res, 10), "recall")
    assert rec >= 0.8, rec


def test_hnsw_sink_restores_params_and_refuses_foreign_version(
    spark, embeddings, tmp_path
):
    """The HNSW stream sink applies load_layout semantics to the sidecar
    (ADVICE r9): the build params (m/ef/seed/max_level) are restored
    into the sink's instance — a mismatched seed would place delta edges
    at wrong levels with no error — and a foreign layout version is
    refused outright."""
    import json as _json

    from kowari_spark.fsutil import read_bytes, write_bytes
    from kowari_spark.operators.hnsw import HNSW
    from kowari_spark.streaming.ingest import stream_into_hnsw_graph

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), "embedding"
    ).limit(60).cache()
    part_a = vecs.filter(F.col("id") % 2 == 0)
    part_b = vecs.filter(F.col("id") % 2 == 1)
    src = str(tmp_path / "hsrc")
    part_b.coalesce(1).write.mode("overwrite").parquet(src)

    built = HNSW(m=8, ef=32, seed=7)
    path = str(tmp_path / "hnsw_graph")
    built.build_layout(part_a, path)

    # sink instance constructed with a WRONG seed/m — the sidecar must win
    sink_h = HNSW(m=4, ef=16, seed=99)
    q = stream_into_hnsw_graph(
        spark.readStream.schema(part_b.schema).parquet(src),
        sink_h, path, str(tmp_path / "ck1"), id_col="id",
    )
    q.awaitTermination(120)
    assert (sink_h.m, sink_h.ef, sink_h.seed) == (8, 32, 7)
    assert sink_h.max_level == built.max_level
    assert spark.read.parquet(f"{path}/base").count() == vecs.count()

    # foreign version: tamper the sidecar, a new batch must fail loudly
    meta_path = f"{path}/{HNSW._META_NAME}"
    meta = _json.loads(read_bytes(spark, meta_path).decode())
    meta["version"] = "hnsw-layout-v0"
    write_bytes(spark, meta_path, _json.dumps(meta).encode())
    part_b.limit(3).coalesce(1).write.mode("append").parquet(src)
    q = stream_into_hnsw_graph(
        spark.readStream.schema(part_b.schema).parquet(src),
        HNSW(), path, str(tmp_path / "ck2"), id_col="id",
    )
    with pytest.raises(Exception, match="hnsw-layout-v0"):
        q.awaitTermination(120)


def test_delete_from_layout_failure_unstrands_sidecars(
    spark, embeddings, tmp_path, monkeypatch
):
    """If the full-rewrite path dies after stashing the layout's
    sidecars, they are moved back beside the layout instead of being
    stranded in {staging}_meta (where every subsequent load would fail
    with no error naming the stash) — ADVICE r9."""
    import os as _os

    import kowari_spark.fsutil as fsutil
    from kowari_spark.operators.pq import PQ
    from kowari_spark.streaming.ingest import delete_from_layout

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), "embedding"
    ).limit(60).cache()
    pq = PQ(m=4, k_sub=4, max_iter=1, seed=42).fit(vecs, id_col="id", dim=64)
    path = str(tmp_path / "pq_del_fail")
    pq.build(vecs, path, id_col="id")

    # the 2nd create_marker call is the post-overwrite lock restore —
    # failing there leaves the sidecars mid-stash
    real = fsutil.create_marker
    calls = {"n": 0}

    def flaky(spark_, p):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("boom after overwrite")
        return real(spark_, p)

    monkeypatch.setattr(fsutil, "create_marker", flaky)
    ids_df = spark.createDataFrame([(i,) for i in range(5)], "id long")
    with pytest.raises(RuntimeError, match="boom"):
        delete_from_layout(
            spark, path, ids_df, id_col="id", partition_cols=None
        )
    monkeypatch.setattr(fsutil, "create_marker", real)

    # sidecar restored, stash + staging gone, layout still loads
    from kowari_spark.operators.pq import _META_NAME
    assert _os.path.exists(f"{path}/{_META_NAME}")
    assert not _os.path.exists(f"{path}__delete_staging_meta")
    assert not _os.path.exists(f"{path}__delete_staging")
    fresh = PQ()
    coded = fresh.load(spark, path)
    assert coded.count() == 55  # the data rewrite itself had completed


def test_delete_shuffle_path_matches_broadcast(spark, embeddings, tmp_path):
    """broadcast_max=0 forces the shuffle anti-join path for the delete
    set (the keep-list-complement regime, VERDICT r8 #3): results are
    identical to the broadcast path on both layout and HNSW deletes."""
    from kowari_spark.operators.hnsw import HNSW
    from kowari_spark.operators.ivf import IVF
    from kowari_spark.streaming.ingest import delete_from_layout, hnsw_delete

    vecs = embeddings.select(
        F.col("vec_id").alias("id"), "embedding"
    ).limit(120).cache()
    ivf = IVF(n_lists=4, n_probe=4, max_iter=1, seed=42).fit(vecs, id_col="id")
    path = str(tmp_path / "ivf_shuf")
    ivf.build(vecs, path, vec_col="embedding")
    doomed = [r["id"] for r in vecs.limit(15).collect()]
    ids_df = spark.createDataFrame([(i,) for i in doomed], "id long")
    rewritten = delete_from_layout(
        spark, path, ids_df, id_col="id", partition_cols=("list_id",),
        broadcast_max=0,
    )
    assert rewritten
    left = {r["id"] for r in spark.read.parquet(path).select("id").collect()}
    assert left == {r["id"] for r in vecs.collect()} - set(doomed)

    h = HNSW(m=8, ef=32, seed=42)
    hpath = str(tmp_path / "hnsw_shuf")
    h.build_layout(vecs, hpath)
    removed = hnsw_delete(spark, hpath, ids_df, id_col="id", broadcast_max=0)
    assert removed == 15
    base = spark.read.parquet(f"{hpath}/base")
    assert not ({r["id"] for r in base.select("id").collect()} & set(doomed))


def test_delete_join_hint_probe_is_bounded(spark):
    """_delete_join_hint: small sets broadcast, big sets don't."""
    from kowari_spark.streaming.ingest import _delete_join_hint

    small = spark.range(10).withColumnRenamed("id", "id")
    assert _delete_join_hint(small, 100) is F.broadcast
    big = spark.range(500)
    assert _delete_join_hint(big, 100) is not F.broadcast


def test_stream_does_not_stamp_sidecar_on_legacy_layout(spark, embeddings, tmp_path):
    """Streaming into a PRE-EXISTING sidecar-less layout must not stamp
    the caller instance's params as provenance for history rows that may
    have been hashed under different planes (ADVICE r11). A fresh/empty
    layout still gets the sidecar after the first batch lands."""
    from kowari_spark.fsutil import delete, exists
    from kowari_spark.operators.lsh import SignLSH, _LSH_META_NAME
    from kowari_spark.streaming.ingest import stream_into_lsh_layout

    vecs = embeddings.select("vec_id", "embedding").limit(80).cache()
    hist = vecs.filter(F.col("vec_id") % 2 == 0)
    batch = vecs.filter(F.col("vec_id") % 2 == 1)

    # legacy layout: built (possibly under OTHER params), sidecar lost
    legacy = str(tmp_path / "legacy_layout")
    SignLSH(dim=64, num_planes=4, seed=99).build(hist, legacy)
    delete(spark, f"{legacy}/{_LSH_META_NAME}")

    src = str(tmp_path / "lsrc")
    batch.write.parquet(src)
    lsh = SignLSH(dim=64, num_planes=4, seed=42)
    q = stream_into_lsh_layout(
        spark.readStream.schema(batch.schema).parquet(src),
        lsh, legacy, str(tmp_path / "lck"),
    )
    q.awaitTermination(120)
    assert spark.read.parquet(legacy).count() == 80
    assert not exists(spark, f"{legacy}/{_LSH_META_NAME}"), (
        "sidecar stamped onto a layout with pre-existing unverified data"
    )

    # control: an empty/new layout DOES get the sidecar
    fresh = str(tmp_path / "fresh_layout")
    q = stream_into_lsh_layout(
        spark.readStream.schema(batch.schema).parquet(src),
        lsh, fresh, str(tmp_path / "fck"),
    )
    q.awaitTermination(120)
    assert exists(spark, f"{fresh}/{_LSH_META_NAME}")


def test_stream_into_multi_table_lsh_layout(spark, embeddings, tmp_path):
    """The LSH sink also maintains MULTI-TABLE MultiSignLSH layouts
    (round 12): streamed rows land in the same (__tbl, bucket)
    two-level partitioning build() writes — drained layout == batch
    build over the union, the sidecar stamps on the first batch, and
    the facade dispatches stream_into for the multisign family."""
    from kowari_spark.operators.dedup_index import SignatureLayout
    from kowari_spark.operators.lsh import MultiSignLSH
    from kowari_spark.streaming.ingest import stream_into_lsh_layout

    base = embeddings.select(
        F.col("vec_id").alias("id"), "embedding"
    ).limit(200).cache()
    hist = base.filter(F.col("id") % 2 == 0)
    new = base.filter(F.col("id") % 2 == 1)
    mlsh = MultiSignLSH(dim=64, num_planes=4, num_tables=3, seed=9)
    out = str(tmp_path / "mlsh_stream")
    mlsh.build(hist, out, vec_col="embedding", id_col="id")

    src = str(tmp_path / "mlsh_src")
    new.repartition(2).write.parquet(src)
    lay = SignatureLayout.open(spark, out)  # multisign family
    q = lay.stream_into(
        spark.readStream.schema(new.schema).parquet(src),
        str(tmp_path / "mlsh_ck"),
    )
    q.awaitTermination(120)

    rebuilt = str(tmp_path / "mlsh_all")
    mlsh.build(base, rebuilt, vec_col="embedding", id_col="id")
    cols = ["id", "__tbl", "bucket"]
    got = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    want = sorted(map(tuple,
                      spark.read.parquet(rebuilt).select(*cols).collect()))
    assert got == want

    # re-drain: markers gate it
    n = len(got)
    q2 = stream_into_lsh_layout(
        spark.readStream.schema(new.schema).parquet(src),
        mlsh, out, str(tmp_path / "mlsh_ck"),
        id_col="id",
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n

    # sidecar stamping on a FRESH layout fed only by the stream
    fresh = str(tmp_path / "mlsh_fresh")
    q3 = stream_into_lsh_layout(
        spark.readStream.schema(new.schema).parquet(src),
        mlsh, fresh, str(tmp_path / "mlsh_ck2"),
        id_col="id",
    )
    q3.awaitTermination(120)
    relay = SignatureLayout.open(spark, fresh)
    assert relay.meta.get("family") == "multisign"


def test_stream_into_cplsh_layout(spark, embeddings, tmp_path):
    """The LSH sink also maintains CrossPolytopeLSH layouts (round 13,
    lifting the r12 build-offline refusal): streamed rows hash under
    the STORED rotations (sidecar-validated at stream start) into the
    same (__tbl, bucket) two-level partitioning build() writes —
    drained layout == batch build over the union, markers gate a
    re-drain, the sidecar stamps on a fresh stream-only layout, and
    the facade dispatches stream_into for the crosspolytope family."""
    from kowari_spark.operators.cplsh import CrossPolytopeLSH
    from kowari_spark.operators.dedup_index import SignatureLayout
    from kowari_spark.streaming.ingest import stream_into_lsh_layout

    base = embeddings.select(
        F.col("vec_id").alias("id"), "embedding"
    ).limit(200).cache()
    hist = base.filter(F.col("id") % 2 == 0)
    new = base.filter(F.col("id") % 2 == 1)
    cp = CrossPolytopeLSH(dim=64, num_tables=3, seed=9)
    out = str(tmp_path / "cp_stream")
    # streaming appends partition dirs: the layout must be "dirs"
    cp.build(hist, out, vec_col="embedding", id_col="id", layout="dirs")

    src = str(tmp_path / "cp_src")
    new.repartition(2).write.parquet(src)
    lay = SignatureLayout.open(spark, out)  # crosspolytope family
    q = lay.stream_into(
        spark.readStream.schema(new.schema).parquet(src),
        str(tmp_path / "cp_ck"),
    )
    q.awaitTermination(120)

    rebuilt = str(tmp_path / "cp_all")
    cp.build(base, rebuilt, vec_col="embedding", id_col="id")
    cols = ["id", "__tbl", "bucket"]
    got = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    want = sorted(map(tuple,
                      spark.read.parquet(rebuilt).select(*cols).collect()))
    assert got == want

    # probe parity: the drained layout serves queries identically to
    # the batch rebuild (same stored rotations, same candidates)
    queries = base.limit(3).select(
        F.col("id").alias("query_id"), "embedding"
    )
    ga = sorted(map(tuple, cp.query_batch(
        cp.load(spark, out), queries, k=5, id_col="id").collect()))
    wa = sorted(map(tuple, cp.query_batch(
        cp.load(spark, rebuilt), queries, k=5, id_col="id").collect()))
    assert ga == wa

    # re-drain: markers gate it
    n = len(got)
    q2 = stream_into_lsh_layout(
        spark.readStream.schema(new.schema).parquet(src),
        cp, out, str(tmp_path / "cp_ck"),
        id_col="id",
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n

    # mismatched hashing refuses at stream START, before any batch
    import pytest as _pt
    with _pt.raises(ValueError, match="rebuild the layout"):
        stream_into_lsh_layout(
            spark.readStream.schema(new.schema).parquet(src),
            CrossPolytopeLSH(dim=64, num_tables=3, seed=777),
            out, str(tmp_path / "cp_ck3"), id_col="id",
        )

    # sidecar stamping on a FRESH layout fed only by the stream
    fresh = str(tmp_path / "cp_fresh")
    q3 = stream_into_lsh_layout(
        spark.readStream.schema(new.schema).parquet(src),
        cp, fresh, str(tmp_path / "cp_ck2"),
        id_col="id",
    )
    q3.awaitTermination(120)
    relay = SignatureLayout.open(spark, fresh)
    assert relay.meta.get("family") == "crosspolytope"

    # a "sorted" layout (the build default) refuses at stream START
    sorted_out = str(tmp_path / "cp_sorted")
    cp.build(hist, sorted_out, vec_col="embedding", id_col="id")
    with _pt.raises(ValueError, match="'sorted' format"):
        stream_into_lsh_layout(
            spark.readStream.schema(new.schema).parquet(src),
            cp, sorted_out, str(tmp_path / "cp_ck4"), id_col="id",
        )
    assert spark.read.parquet(sorted_out).count() == hist.count() * 3


def test_stream_into_hll_layout(spark, tmp_path):
    """HLL sketch sink: drained registers == a batch build over the
    union, and a re-drain is bit-identical — idempotent by max-merge
    ALGEBRA (the marker only skips work; delete it and the replay
    still lands identically)."""
    from pyspark.sql import functions as F

    from kowari_spark import fsutil
    from kowari_spark.operators.sketch import (
        build_hll_layout,
        hll_layout_estimate,
    )
    from kowari_spark.streaming.ingest import stream_into_hll_layout

    base = spark.range(6000).select(
        (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") % 1700).alias("v"),
    )
    hist = base.filter(F.col("id") % 3 != 0)
    new = base.filter(F.col("id") % 3 == 0)
    path = str(tmp_path / "hll_sink")
    build_hll_layout(hist, path, ["g"], "v", p=6)
    src = str(tmp_path / "hll_src")
    new.repartition(2).write.parquet(src)

    def drain():
        q = stream_into_hll_layout(
            spark.readStream.schema(new.schema).parquet(src),
            path, str(tmp_path / "hll_ck"),
        )
        q.awaitTermination(120)

    drain()
    union_path = str(tmp_path / "hll_sink_union")
    build_hll_layout(base, union_path, ["g"], "v", p=6)
    def regs(p):
        return sorted(map(tuple, spark.read.parquet(p).collect()))
    assert regs(path) == regs(union_path)
    est = sorted(map(tuple, hll_layout_estimate(spark, path).collect()))

    # replay with markers REMOVED: still bit-identical (algebra)
    fsutil.delete(spark, f"{path}/_batches")
    q = stream_into_hll_layout(
        spark.readStream.schema(new.schema).parquet(src),
        path, str(tmp_path / "hll_ck2"),
    )
    q.awaitTermination(120)
    assert regs(path) == regs(union_path)
    assert sorted(map(tuple, hll_layout_estimate(spark, path).collect())) == est


def test_stream_into_kmv_layout(spark, tmp_path):
    """KMV sketch sink: drained minima == batch build over the union;
    re-drain with markers removed is still bit-identical (algebra)."""
    from pyspark.sql import functions as F

    from kowari_spark import fsutil
    from kowari_spark.operators.sketch import (
        build_kmv_layout,
        kmv_layout_estimate,
    )
    from kowari_spark.streaming.ingest import stream_into_kmv_layout

    base = spark.range(4000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        (F.col("id") % 1300).alias("v"),
    )
    hist = base.filter(F.col("id") % 3 != 0)
    new = base.filter(F.col("id") % 3 == 0)
    path = str(tmp_path / "kmv_sink")
    build_kmv_layout(hist, path, ["g"], "v", k=64)
    src = str(tmp_path / "kmv_src")
    new.repartition(2).write.parquet(src)

    q = stream_into_kmv_layout(
        spark.readStream.schema(new.schema).parquet(src),
        path, str(tmp_path / "kmv_ck"),
    )
    q.awaitTermination(120)
    union_path = str(tmp_path / "kmv_sink_union")
    build_kmv_layout(base, union_path, ["g"], "v", k=64)
    def minima(p):
        return sorted(map(tuple, spark.read.parquet(p).collect()))
    assert minima(path) == minima(union_path)

    fsutil.delete(spark, f"{path}/_batches")
    q = stream_into_kmv_layout(
        spark.readStream.schema(new.schema).parquet(src),
        path, str(tmp_path / "kmv_ck2"),
    )
    q.awaitTermination(120)
    assert minima(path) == minima(union_path)
    assert kmv_layout_estimate(spark, path).count() == 2
