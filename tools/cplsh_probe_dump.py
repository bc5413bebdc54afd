"""Explain one CP-LSH single-query probe: its Spark jobs, the pushed
``(__tbl, bucket)`` filter and the parquet row groups that filter prunes.

Usage: python tools/cplsh_probe_dump.py [--seed 1] [--out FILE]

Rebuilds the perfbench ``ann_serve`` state for ``--seed`` the way that
workload builds it (the ``perfbench.gen`` corpus of 3,000 × 64-d vectors
in a strict Collection, ``CrossPolytopeLSH(64, num_tables=20).build`` of
``coll.df()``, ``load``), runs one untraced warm-up probe, then one
single-query probe as the workload's ``operators.cplsh.query_batch.single``
call runs it: a one-row query frame, ``query_batch(layout, frame, 10,
round_to=6).select("id", "score").collect()``. The dump lists

- every Spark job of that probe: its stages' call sites and task counts;
- the probe's FileScan nodes with their pushed filters;
- the layout's row groups: how many the pushed predicate's min/max
  statistics admit (the rest are pruned before any page is read), and
  the rows in them.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _site(name: str) -> str:
    """A stage name's call site, with the path made repo-relative."""
    return re.sub(r"\S*/((?:kowari_spark|tools|perfbench)/\S+)", r"\1", name)


def _row_groups(files: list[str], pairs: dict[int, set[int]]):
    """(kept, total, kept_rows, total_rows) over the layout's row groups:
    a row group is kept when some probed table lies in its ``__tbl``
    range and one of that table's probed buckets in its ``bucket``
    range — the statistics test Parquet applies to the pushed
    ``(__tbl = t AND bucket IN (...)) OR ...`` predicate."""
    import pyarrow.parquet as pq

    kept = total = kept_rows = total_rows = 0
    for f in files:
        meta = pq.ParquetFile(f.removeprefix("file:")).metadata
        names = [meta.schema.column(i).name for i in range(meta.num_columns)]
        ti, bi = names.index("__tbl"), names.index("bucket")
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            ts, bs = rg.column(ti).statistics, rg.column(bi).statistics
            total += 1
            total_rows += rg.num_rows
            if any(ts.min <= t <= ts.max
                   and any(bs.min <= b <= bs.max for b in buckets)
                   for t, buckets in pairs.items()):
                kept += 1
                kept_rows += rg.num_rows
    return kept, total, kept_rows, total_rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=None, help="also write the dump here")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from kowari_spark import get_session
    from kowari_spark.catalog import CollectionManager
    from kowari_spark.fsutil import local_df
    from kowari_spark.operators.cplsh import CrossPolytopeLSH
    from perfbench import gen
    from perfbench.workloads import (
        ANN_BATCH, ANN_CLUSTERS, ANN_DIM, ANN_DUP_FRAC, ANN_N,
        ANN_QUERY_POOL, K, ROUND_TO,
    )

    cores = len(os.sched_getaffinity(0))
    spark = get_session(
        app="cplsh-probe-dump", master=f"local[{cores}]",
        # print pushed filter lists whole; the UI's REST endpoint (on a
        # free local port) serves per-stage record counts
        extra_conf={"spark.sql.maxMetadataStringLength": "100000",
                    "spark.ui.enabled": "true", "spark.ui.port": "0"},
    )
    sc = spark.sparkContext
    rest = (f"http://localhost:{sc.uiWebUrl.rsplit(':', 1)[1]}"
            f"/api/v1/applications/{sc.applicationId}")

    def stage_counts(sid: int) -> str:
        import json
        import urllib.request

        with urllib.request.urlopen(f"{rest}/stages/{sid}") as r:
            st = json.load(r)[0]
        counts = [f"{st['numTasks']} tasks"]
        for key, what in (("inputRecords", "scanned"),
                          ("shuffleReadRecords", "shuffle-read"),
                          ("shuffleWriteRecords", "shuffle-written")):
            if st.get(key):
                counts.append(f"{st[key]} rows {what}")
        if st["status"] == "SKIPPED":
            counts.append("skipped")
        return ", ".join(counts)

    lines: list[str] = []

    def out(s: str = "") -> None:
        print(s, flush=True)
        lines.append(s)

    with tempfile.TemporaryDirectory(prefix="cplsh_dump_") as work:
        vs = gen.vectors(args.seed, ANN_N, ANN_DIM, ANN_CLUSTERS,
                         ANN_QUERY_POOL + ANN_BATCH, ANN_DUP_FRAC)
        gen.write_vectors(os.path.join(work, "vectors.parquet"), vs.ids,
                          vs.base)
        coll = CollectionManager(
            spark, os.path.join(work, "warehouse")
        ).create_collection("vectors", ANN_DIM)
        coll.add_df(spark.read.parquet(os.path.join(work, "vectors.parquet")))
        cp = CrossPolytopeLSH(ANN_DIM, num_tables=20)
        path = os.path.join(work, "cplsh")
        cp.build(coll.df(), path)
        layout = cp.load(spark, path)
        pool = vs.queries[ANN_BATCH:]

        def probe(i: int):
            qf = local_df(spark, [(f"q{i}", [float(x) for x in pool[i]])],
                          "query_id string, embedding array<double>")
            res = cp.query_batch(layout, qf, K, round_to=ROUND_TO).select(
                "id", "score")
            return qf, res, res.collect()

        probe(0)  # warm-up, as the workload's untraced first round
        sc.setJobGroup("cplsh-probe", "traced probe", interruptOnCancel=False)
        try:
            qf, res, rows = probe(1)
        finally:
            sc.setJobGroup(None, None)

        tracker = sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup("cplsh-probe"))
        out(f"# CP-LSH single-query probe, ann_serve seed {args.seed}: "
            f"{len(jobs)} Spark jobs, {len(rows)} rows")
        for j in jobs:
            info = tracker.getJobInfo(j)
            stages = [tracker.getStageInfo(s) for s in info.stageIds]
            out(f"job {j}:")
            for st in stages:
                if st is not None:
                    out(f"  stage {st.stageId} {_site(st.name)}: "
                        f"{stage_counts(st.stageId)}")

        plan = res._jdf.queryExecution().executedPlan().toString()
        out("")
        out("# FileScan nodes of the executed plan")
        for ln in plan.splitlines():
            if "FileScan" in ln:
                cols = re.search(r"FileScan parquet \[[^\]]*\]", ln).group(0)
                pushed = re.search(r"PushedFilters: (\[.*?\]), ReadSchema", ln)
                out(f"{cols} PushedFilters: {pushed.group(1)}")

        pairs: dict[int, set[int]] = {}
        for r in qf.select(F.posexplode(cp.buckets_udf(spark)(
                F.col("embedding"))).alias("t", "b")).collect():
            pairs.setdefault(int(r["t"]), set()).add(int(r["b"]))
        kept, total, kept_rows, total_rows = _row_groups(
            layout.inputFiles(), pairs)
        out("")
        out(f"# probed (__tbl, bucket) pairs: {sum(map(len, pairs.values()))}")
        out(f"row groups admitted by the pushed predicate's statistics: "
            f"{kept} of {total} ({total - kept} pruned) in "
            f"{len(layout.inputFiles())} files; rows in admitted groups: "
            f"{kept_rows} of {total_rows}")
    spark.stop()
    if args.out:
        with open(args.out, "w") as f:
            f.write("\n".join(lines) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
