"""Streaming-ingest throughput evidence (S-story companion to bench_large).

Models continuous arrival: a deterministic corpus is materialized once, then
its part-files land in a watch directory in WAVES; each wave is drained with
``ingest_stream`` (Trigger.AvailableNow → foreachBatch staging → per-drain
``append_segment``). Reports per-drain wall + docs/sec, the one-shot batch
build of the same corpus for comparison, and rank-identity of the streamed
(multi-segment) index vs the batch (single-segment) index on probe queries.

Usage: python scripts/bench_streaming.py [--n-docs 100000] [--waves 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "index growth rate report",
    "county population census survey",
    "the w00123",
    "household labour income",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=100_000)
    ap.add_argument("--waves", type=int, default=4)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--out", type=str,
                    default=os.path.join(REPO, "BENCH_STREAMING.json"))
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("statschat_streaming_bench")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from statschat_ke_spark.corpus import spark_documents_distributed
    from statschat_ke_spark.index.build import build_index
    from statschat_ke_spark.index.query import topk
    from statschat_ke_spark.streaming.ingest import ingest_stream

    tmp = tempfile.gettempdir()
    src = os.path.join(tmp, f"statschat_stream_src_{args.n_docs}")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        spark_documents_distributed(
            spark, args.n_docs, num_partitions=args.waves * 4
        ).write.mode("overwrite").parquet(src)

    landing = os.path.join(tmp, "statschat_stream_landing")
    idx_stream = os.path.join(tmp, "statschat_stream_idx")
    idx_batch = os.path.join(tmp, "statschat_stream_idx_batch")
    for d in (landing, idx_stream):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(landing, exist_ok=True)

    parts = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )
    per_wave = -(-len(parts) // args.waves)

    drains = []
    total_docs = 0
    for w in range(args.waves):
        wave = parts[w * per_wave : (w + 1) * per_wave]
        for f in wave:  # files LAND (copy models upstream writers)
            shutil.copy(os.path.join(src, f), os.path.join(landing, f))
        t0 = time.time()
        res = ingest_stream(spark, landing, idx_stream)
        wall = time.time() - t0
        delta = res.n_docs - total_docs
        total_docs = res.n_docs
        drains.append(
            {
                "wave": w,
                "files_landed": len(wave),
                "drain_wall_s": round(wall, 3),
                "delta_docs": delta,
                "docs_per_sec": round(delta / wall, 1) if wall else 0.0,
                "total_docs": res.n_docs,
            }
        )
        print(json.dumps(drains[-1]))

    # batch baseline: one-shot build over the identical corpus
    shutil.rmtree(idx_batch, ignore_errors=True)
    t0 = time.time()
    bres = build_index(spark, src, idx_batch)
    batch_wall = time.time() - t0

    # rank identity: streamed multi-segment index == batch single-segment
    identical = True
    for q in QUERIES:
        a = topk(spark, idx_stream, q, 10).toPandas()
        b = topk(spark, idx_batch, q, 10).toPandas()
        if not a.equals(b):
            identical = False
            print(f"MISMATCH on {q!r}")

    out = {
        "n_docs_requested": args.n_docs,
        "n_docs_indexed": total_docs,
        "waves": args.waves,
        "drains": drains,
        "streaming_total_wall_s": round(sum(d["drain_wall_s"] for d in drains), 3),
        "batch_build_wall_s": round(batch_wall, 3),
        "batch_docs_per_sec": round(bres.n_docs / batch_wall, 1) if batch_wall else 0.0,
        "rank_identical_stream_vs_batch": identical,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
