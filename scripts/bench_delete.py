"""Delete-path bench: takedown cost vs delta size, and query overhead after
deletes — evidence that delete_docs is delta-proportional (never ∝ corpus
posting volume) and that tombstone masking adds negligible query cost.

Runs against the large-corpus index the scaling/large benches build
(default /tmp/statschat_large_idx_300000, ~270k docs / 33M postings); the
index is COPIED first so the cached artifact stays pristine. Prints one
JSON line.

Usage: python scripts/bench_delete.py [--idx DIR] [--cpus N]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--idx", default="/tmp/statschat_large_idx_300000")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    ap.add_argument("--work", default="/tmp/statschat_delete_bench_idx")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from statschat_ke_spark.index.build import delete_docs
    from statschat_ke_spark.index.query import check_index_format, topk

    shutil.rmtree(args.work, ignore_errors=True)
    shutil.copytree(args.idx, args.work)
    n_docs = int(check_index_format(args.work)["n_docs"])

    q = "county population census survey"

    def time_query() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            topk(spark, args.work, q, 10).collect()
            best = min(best, time.time() - t0)
        return round(best, 3)

    q_before = time_query()

    # victims by url prefix ranges of the synthetic corpus (urls are doc-N)
    all_urls = [
        r.url
        for r in spark.read.parquet(os.path.join(args.work, "docs"))
        .select("url")
        .limit(int(n_docs * 0.011) + 300)
        .collect()
    ]
    out: dict = {"n_docs": n_docs, "query_s_before_delete": q_before, "deletes": []}
    start = 0
    for frac in (0.001, 0.01):
        n = max(1, int(n_docs * frac))
        batch = all_urls[start : start + n]
        start += n
        t0 = time.time()
        res = delete_docs(spark, args.work, batch)
        wall = time.time() - t0
        out["deletes"].append(
            {
                "fraction": frac,
                "n_deleted": res.n_deleted,
                "wall_s": round(wall, 3),
                "docs_per_sec": round(res.n_deleted / wall, 1) if wall else None,
            }
        )

    out["query_s_after_deletes"] = time_query()
    out["tombstones_total"] = sum(d["n_deleted"] for d in out["deletes"])
    print(json.dumps(out))


if __name__ == "__main__":
    main()
