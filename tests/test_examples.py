"""The compressed-video transcode recipe runs in CI (VERDICT r5 #7):
`codec="ffmpeg"`'s instruction is demonstrated against checked-in
pre-transcoded .y4m fixtures, not just raised."""

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples")
)

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def test_ffmpeg_gate_names_the_transcode_recipe():
    from kowari_spark.operators.multimodal import _decode_blob

    with pytest.raises(NotImplementedError, match="ffmpeg -i in.mp4 out.y4m"):
        _decode_blob(b"\x00\x00\x00\x18ftypmp42", "ffmpeg")


def test_transcoded_ingest_example(spark):
    """The example's Spark half over the checked-in fixtures: binary
    ingest -> KWM normalization -> typed metadata -> features, with the
    pixel payload round-tripping exactly."""
    from compressed_video_ingest import ingest_transcoded

    from kowari_spark.codecs import decode_y4m
    from kowari_spark.operators.multimodal import _decode_blob

    normalized, meta, feats = ingest_transcoded(spark, FIXTURES)

    metas = meta.collect()
    assert len(metas) == 2
    for r in metas:
        assert (r["kind"], r["width"], r["height"], r["n_frames"]) == (
            "video", 16, 12, 6,
        )

    fr = feats.collect()
    assert len(fr) == 2
    for r in fr:
        assert r["kind"] == "video" and len(r["features"]) == 10
        hist = np.asarray(r["features"][:8])
        assert hist.sum() == pytest.approx(1.0, abs=1e-3)

    # the normalized KWM payload equals the y4m luma planes bit-for-bit
    raw = {
        os.path.basename(r["path"]): bytes(r["content"])
        for r in spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.y4m")
        .load(FIXTURES)
        .collect()
    }
    norm = {
        r["media_id"]: bytes(r["media"])
        for r in normalized.collect()
    }
    ids = {
        os.path.basename(r["path"]): r["media_id"]
        for r in spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.y4m")
        .load(FIXTURES)
        .select(F.crc32(F.col("path")).cast("long").alias("media_id"), "path")
        .collect()
    }
    for name, blob in raw.items():
        _w, _h, want = decode_y4m(blob)
        _kind, _w2, _h2, _n, got = _decode_blob(norm[ids[name]], "kwm")
        assert np.array_equal(got, want)


def test_pipeline_demo_runs_end_to_end(tmp_path):
    """The training-data pipeline walkthrough executes at sf0.001 —
    every print line lands (subprocess: the demo stops its own Spark
    session, which must not kill the shared test fixture) — and leaves
    none of its layout directories behind in the temporary directory."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "examples", "pipeline_demo.py")],
        capture_output=True, text=True, timeout=540, cwd=repo,
        env={**os.environ, "TMPDIR": str(tmp_path)},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert not list(tmp_path.glob("kowari_demo_*"))
    for marker in (
        "language distribution:", "dedup:", "incremental dedup:",
        "incremental vector dedup:", "curation:", "mixture:",
        "packing:", "bm25(", "text knn:", "hybrid rrf:", "pq adc knn:",
        "media feature dim:",
    ):
        assert marker in out.stdout, marker
