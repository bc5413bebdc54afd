"""kowari_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ann_serve --seed 1 --seconds 8 --trace 0

Run it from the repository root. It builds nothing: the program is the
``kowari_spark`` package beside this directory. Inputs come from the
seed; every file the run writes lives under ``.perfbench_work/`` in the
repository root and is removed at exit, and a traced run leaves its
spans in ``.perfbench_out/``. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in BENCHMARK.json. Any failed check makes the exit
code 1. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> unit; the order is the order BENCHMARK.json lists them in
END_TO_END = {
    "setup_s": "s",
    "index_s": "s",
    "index_cpu_s": "s",
    "recall_at_10": "ratio",
    "dedup_recall": "ratio",
}

# (span name, stat) -> unit, for the per-call statistics of Recorder.stat
CALL_STATS = {
    ("session.get_session", "s"): "s",
    ("fsutil.local_df", "p50_ms"): "ms",
    ("catalog.add_df", "p50_ms"): "ms",
    ("catalog.add_df", "jobs"): "count",
    ("catalog.delete_df", "p50_ms"): "ms",
    ("catalog.delete_df", "jobs"): "count",
    ("catalog.search_with_scores", "p50_ms"): "ms",
    ("catalog.search_with_scores", "jobs"): "count",
    ("catalog.search_with_scores", "tasks"): "count",
    ("catalog.optimize", "s"): "s",
    ("catalog.vacuum", "s"): "s",
    ("catalog.versions", "ms"): "ms",
    ("operators.topk.knn_batch", "s"): "s",
    ("operators.topk.knn_batch", "jobs"): "count",
    ("operators.topk.knn_batch", "tasks"): "count",
    ("operators.topk.knn_batch", "shuffle_bytes"): "bytes",
    ("operators.ivf.fit", "s"): "s",
    ("operators.ivf.build", "s"): "s",
    ("operators.ivf.load", "ms"): "ms",
    ("operators.ivf.query", "p50_ms"): "ms",
    ("operators.ivf.query", "jobs"): "count",
    ("operators.ivf.query_batch", "s"): "s",
    ("operators.ivf.query_batch", "jobs"): "count",
    ("operators.cplsh.build", "s"): "s",
    ("operators.cplsh.load", "ms"): "ms",
    ("operators.cplsh.query_batch.single", "p50_ms"): "ms",
    ("operators.cplsh.query_batch.single", "jobs"): "count",
    ("operators.hnsw.build_layout", "s"): "s",
    ("operators.hnsw.build_layout", "shuffle_bytes"): "bytes",
    ("operators.hnsw.load_layout", "ms"): "ms",
    ("operators.hnsw.query_batch.beam", "p50_ms"): "ms",
    ("operators.hnsw.query_batch.beam", "jobs"): "count",
    ("operators.dedup.embedding_near_dups_lsh", "s"): "s",
    ("operators.dedup.embedding_near_dups_lsh", "jobs"): "count",
    ("operators.dedup.embedding_near_dups_lsh", "shuffle_bytes"): "bytes",
    ("operators.dedup.minhash_dedup_pairs", "s"): "s",
    ("operators.dedup.minhash_dedup_pairs", "jobs"): "count",
    ("operators.dedup.minhash_dedup_pairs", "shuffle_bytes"): "bytes",
    ("operators.dedup.dedup_keep_representatives", "s"): "s",
    ("operators.dedup.dedup_keep_representatives", "jobs"): "count",
    ("operators.search.build_bm25_layout", "s"): "s",
    ("operators.search.build_bm25_layout", "shuffle_bytes"): "bytes",
    ("operators.search.bm25_batch_indexed", "s"): "s",
    ("operators.search.bm25_batch_indexed", "jobs"): "count",
    ("operators.search.bm25_batch_indexed.single", "p50_ms"): "ms",
    ("operators.search.bm25_batch_indexed.single", "jobs"): "count",
}

# values the workloads compute themselves (Run.layer); absent reads 0
MEASURED = {
    "catalog.segments": "count",
    "catalog.data_files": "count",
    "catalog.tombstone_files": "count",
    "catalog.bytes_on_disk": "bytes",
    "catalog.space_amp": "ratio",
    "operators.ivf.build.files": "count",
    "operators.ivf.candidate_frac": "ratio",
    "operators.ivf.recall_at_10": "ratio",
    "operators.cplsh.build.files": "count",
    "operators.cplsh.candidate_frac": "ratio",
    "operators.cplsh.recall_at_10": "ratio",
    "operators.hnsw.build_layout.files": "count",
    "operators.hnsw.recall_at_10": "ratio",
    "operators.dedup.embedding_near_dups_lsh.pairs": "count",
    "operators.dedup.minhash_band_pairs.candidates": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.dedup.cc_edges": "count",
    "operators.search.build_bm25_layout.files": "count",
    "trace.overhead_frac": "ratio",
}

LAYERS = (
    "session", "fsutil", "catalog", "operators.topk", "operators.ivf",
    "operators.cplsh", "operators.hnsw", "operators.dedup",
    "operators.search",
)

SPARK_TOTALS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    units = {f"{name}.{stat}": u for (name, stat), u in CALL_STATS.items()}
    units.update(MEASURED)
    units.update({f"{layer}.self_s": "s" for layer in LAYERS})
    units.update(SPARK_TOTALS)
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf["spark.ui.enabled"] = "true"
        conf["spark.ui.port"] = "0"
    return conf


def stop_session(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it every
    Python worker it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t0 = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kowari_spark")):
        print(f"no kowari_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import Recorder
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every scratch file of this process, the Spark launcher and the
    # driver JVM stays inside the run's directory
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )))
    cores = len(os.sched_getaffinity(0))
    rec = Recorder(traced=traced)
    spark = None
    try:
        from kowari_spark import get_session

        with rec.call("session", "get_session"):
            spark = get_session(
                app=f"perfbench-{args.workload}", master=f"local[{cores}]",
                extra_conf=session_conf(work, traced),
            )
        rec.attach(spark)
        run = Run(spark, rec, work, args.seed, args.seconds, t0)
        WORKLOADS[args.workload](run)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": (
                layer_metrics(rec, run) if traced else e2e_metrics(run)
            ),
        }
        if traced:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            rec.write_spans(
                os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"),
                t0,
            )
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def e2e_metrics(run) -> dict:
    return {
        name: {"value": run.e2e[name], "unit": unit}
        for name, unit in END_TO_END.items()
    }


def layer_metrics(rec, run) -> dict:
    values = {f"{n}.{s}": rec.stat(n, s) for (n, s) in CALL_STATS}
    values.update({n: run.layer.get(n, 0.0) for n in MEASURED})
    own = rec.self_seconds()
    values.update({f"{layer}.self_s": own.get(layer, 0.0) for layer in LAYERS})
    totals = rec.totals()
    values.update({n: totals[n.split(".", 1)[1]] for n in SPARK_TOTALS})
    units = per_layer_units()
    return {n: {"value": values[n], "unit": units[n]} for n in units}


if __name__ == "__main__":
    sys.exit(main())
