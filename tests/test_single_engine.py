"""One production engine per operator: no operator sizes its input to
pick a plan, so building a frame runs no Spark job beyond the bounded
collect its own plan needs, the same plan runs at every input size,
and no public operator takes an engine-selecting argument."""

import inspect
import uuid

import numpy as np
from pyspark.sql import functions as F


def _corpus(spark, n):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a b c d e f "), F.col("id").cast("string")).alias("text"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("de").alias("lang"),
    )


def _jobs_started(spark, build):
    """Number of Spark jobs ``build()`` starts, counted through a
    dedicated job group."""
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "frame construction")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_building_frames_starts_no_sizing_job(spark):
    """Building (not collecting) an operator's frame starts no Spark
    job: the bounded ``limit(n).count()`` sizing probe is gone. The two
    operators whose plan collects a bounded relation at build time (the
    eval gram-hash set; the DSIR ratio relation) start exactly the jobs
    of that collect."""
    from kowari_spark.operators.decontam import (
        _eval_gram_hashes,
        ngram_decontaminate,
    )
    from kowari_spark.operators.dedup import minhash_signatures, winnow_fps
    from kowari_spark.operators.ivf import IVF
    from kowari_spark.operators.quality import repetition_stats
    from kowari_spark.operators.sampling import (
        _dsir_hist,
        _dsir_ratios,
        dsir_logweights,
    )
    from kowari_spark.operators.spans import duplicate_spans

    docs = _corpus(spark, 1200)
    ev = docs.filter(F.col("doc_id") < 50)
    target = docs.filter(F.col("lang") == "en")
    vecs = spark.range(1200).select(
        F.col("id"),
        F.array(*[(F.col("id") * (i + 1) % 7).cast("double")
                  for i in range(4)]).alias("embedding"),
    )
    ivf = IVF(n_lists=4)
    ivf.centroids = np.eye(4)

    lazy = {
        "minhash_signatures": lambda: minhash_signatures(docs),
        "winnow_fps": lambda: winnow_fps(docs),
        "repetition_stats": lambda: repetition_stats(docs),
        "duplicate_spans": lambda: duplicate_spans(docs, min_len=3),
        "IVF.with_lists": lambda: ivf.with_lists(vecs),
    }
    for name, build in lazy.items():
        assert _jobs_started(spark, build) == 0, name

    eval_collect = _jobs_started(
        spark, lambda: _eval_gram_hashes(ev, "text", 13).collect())
    assert _jobs_started(
        spark, lambda: ngram_decontaminate(docs, ev, n=13)) == eval_collect

    ratios_collect = _jobs_started(spark, lambda: _dsir_ratios(
        _dsir_hist(docs, "text", 10_000, "__cr"),
        _dsir_hist(target, "text", 10_000, "__ct"),
        10_000,
    ).collect())
    assert _jobs_started(
        spark, lambda: dsir_logweights(docs, target)) == ratios_collect


def test_kept_engine_runs_at_every_size(spark):
    """No size switch: the row-local mapInPandas plan runs for a
    50-row and a 1,500-row corpus alike, and simhash keeps its JVM
    aggregation at both sizes. (PQ encode, repetition stats,
    decontamination and span dedup are pinned the same way, against
    their references, in tests/test_engines.py.)"""
    from kowari_spark.operators.dedup import (
        minhash_signatures,
        simhash_fingerprints,
        winnow_fps,
    )

    for n in (50, 1500):
        docs = _corpus(spark, n)
        for name, df in {
            "minhash_signatures": minhash_signatures(docs),
            "winnow_fps": winnow_fps(docs),
        }.items():
            assert "MapInPandas" in _plan(df), (name, n)
        assert "MapInPandas" not in _plan(simhash_fingerprints(docs)), n


def test_no_operator_takes_an_engine_knob():
    """No public operator, method or constructor in the modules that
    used to ship two engines accepts ``engine``, ``encoder`` or
    ``assign_engine``."""
    import kowari_spark.catalog as catalog
    import kowari_spark.operators.decontam as decontam
    import kowari_spark.operators.dedup as dedup
    import kowari_spark.operators.ivf as ivf
    import kowari_spark.operators.pq as pq
    import kowari_spark.operators.quality as quality
    import kowari_spark.operators.sampling as sampling
    import kowari_spark.operators.spans as spans

    knobs = {"engine", "encoder", "assign_engine"}
    seen = 0
    for mod in (catalog, decontam, dedup, ivf, pq, quality, sampling, spans):
        for name, obj in vars(mod).items():
            if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                continue
            if inspect.isfunction(obj):
                fns = [obj]
            elif inspect.isclass(obj):
                fns = [f for n, f in vars(obj).items() if inspect.isfunction(f)
                       and (n == "__init__" or not n.startswith("_"))]
            else:
                continue
            for fn in fns:
                seen += 1
                bad = knobs & set(inspect.signature(fn).parameters)
                assert not bad, f"{mod.__name__}.{name}.{fn.__name__} takes {bad}"
    assert seen > 50
