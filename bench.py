"""Benchmark harness (driver contract): headline queries + index build at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "index": {...build stats...}}

This is the sf0.1 driver-contract bench; the engine's measured benchmark
(build, append, delete, search and batch on larger corpora, with a per-layer
split) is ``python3 perfbench/run.py`` (see perfbench/README.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("statschat_ke_spark_bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    from statschat_ke_spark.benchutil import subtree_cpu_seconds
    from statschat_ke_spark.index.build import build_index
    from statschat_ke_spark.index.query import topk

    # Best-of-N protocol: the sandbox hypervisor pauses the VM at random
    # (BASELINE.md — identical runs vary 5x), so a single run is noise.
    # Each measured step runs REPS times; per-step best is reported, plus
    # process-tree CPU concurrency as the pause-immune signal. Three reps
    # (not two): a multi-second pause window can straddle two consecutive
    # reps of the same step; a third ~11 s pass is cheap insurance.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    extra: dict = {}
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    idx_dir = os.path.join(tempfile.gettempdir(), "statschat_bench_idx")
    headline = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "broadcast_join_orders_by_nation",
        "window_top3_orders_per_customer",
        "dedup_first_event",
        "ft_term_stats",
        "dedup_exact_text",
        "sim_cosine_top10",
    ]
    cpu0, wall0 = subtree_cpu_seconds(), time.time()
    for rep in range(reps):
        t: dict[str, float] = {}

        # --- index build over the sf documents table (fresh, uncached) ---
        shutil.rmtree(idx_dir, ignore_errors=True)
        t0 = time.time()
        res = build_index(spark, docs, idx_dir, lang="en")
        t["index_build"] = time.time() - t0
        # docs_per_sec derived AFTER the rep loop from the best build wall:
        # computing it per-rep reported whichever rep ran LAST, which under
        # a hypervisor pause contradicts the best-of-N build time beside it
        # n_terms and skew_ratio (max/mean pack-partition postings) come
        # from the build's metrics; the skew trend across corpus sizes is the
        # early-warning signal for when hot (term_id, slice) keys need
        # further splitting
        with open(os.path.join(idx_dir, "stats.json")) as f:
            st = json.load(f)
        extra["index"] = {
            "n_docs": res.n_docs,
            "n_terms": st["n_terms"],
            "skew_ratio": round(float(st["skew_ratio"]), 4),
        }
        # point the shared cache at the index we just built
        E._INDEX_CACHE[os.path.abspath(sf_dir)] = idx_dir

        # --- BM25 query latency (wand) ---
        t0 = time.time()
        topk(spark, idx_dir, E.FLAGSHIP_QUERY, k=10).collect()
        t["ft_bm25_topk"] = time.time() - t0

        # --- headline relational/pipeline queries (driver contract) ---
        qs = E.queries()
        for name in headline:
            t0 = time.time()
            qs[name](spark, sf_dir).collect()
            t[name] = time.time() - t0

        for k, v in t.items():
            timings[k] = min(timings.get(k, v), v)

    cpu_s = subtree_cpu_seconds() - cpu0
    wall_s = time.time() - wall0
    if "index" in extra and timings.get("index_build"):
        extra["index"]["docs_per_sec"] = (
            extra["index"]["n_docs"] / timings["index_build"]
        )
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_plus_index_build",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        "protocol": {
            "reps": reps,
            "agg": "best",
            "wall_s_all_reps": round(wall_s, 3),
            "cpu_s_all_reps": round(cpu_s, 3),
            "cpu_concurrency": round(cpu_s / wall_s, 2) if wall_s else 0.0,
        },
        **extra,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
