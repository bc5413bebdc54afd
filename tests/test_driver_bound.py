"""The bounded driver-side paths read a multi-file input in the same
Spark jobs as a single-file one: ``fsutil.bounded_collect`` coalesces a
narrow plan to one partition before its limit, so neither the size check
nor the collect scans partitions in several rounds."""

import pytest
from pyspark.sql import functions as F

from kowari_spark.operators.dedup import embedding_near_dups_lsh
from kowari_spark.operators.hnsw import HNSW
from kowari_spark.operators.ivf import IVF
from kowari_spark.operators.pq import PQ


@pytest.fixture(scope="module")
def layouts(spark, embeddings, tmp_path_factory):
    """The embeddings as one parquet file and as three."""
    root = tmp_path_factory.mktemp("bounded")
    base = embeddings.select(F.col("vec_id").alias("id"), "embedding")
    paths = {1: str(root / "one"), 3: str(root / "three")}
    base.coalesce(1).write.parquet(paths[1])
    base.repartition(3).write.parquet(paths[3])
    return paths


_BOUNDED = {
    "ivf.fit": lambda df: IVF(n_lists=8, max_iter=2).fit(df),
    "pq.fit": lambda df: PQ(m=4, k_sub=8, max_iter=2).fit(df),
    "hnsw.build": lambda df: HNSW().build(df, dim=64),
    "embedding_near_dups_lsh": lambda df: embedding_near_dups_lsh(
        df, 0.3, dim=64).collect(),
}


@pytest.mark.parametrize("op", sorted(_BOUNDED))
def test_bounded_paths_same_jobs_on_multi_file_input(spark, layouts,
                                                     count_jobs, op):
    """Each bounded call runs its size check and its collect, one job
    each, on a 1-file and on a 3-file (3-partition) read alike."""
    jobs = {}
    for files, path in layouts.items():
        df = spark.read.parquet(path)
        assert len(df.inputFiles()) == files
        assert df.rdd.getNumPartitions() == files
        _, jobs[files] = count_jobs(lambda: _BOUNDED[op](df))
    assert jobs == {1: 2, 3: 2}, (op, jobs)


def test_bounded_collect_rows(spark):
    """A narrow plan's rows come back in partition order, as the plain
    limit returns them; a plan with an exchange (whose final stage is
    not coalesced into one task) returns its rows too."""
    from kowari_spark.fsutil import bounded_collect

    wide = spark.range(100).groupBy((F.col("id") % 10).alias("k")).count()
    assert "Exchange" in wide._jdf.queryExecution().executedPlan().toString()
    got = bounded_collect(wide, 50)
    assert sorted(map(tuple, got)) == [(k, 10) for k in range(10)]
    narrow = spark.range(0, 100, 1, 4).filter(F.col("id") % 3 == 0)
    assert [r[0] for r in bounded_collect(narrow, 5)] == [0, 3, 6, 9, 12, 15]
