"""spark-submit entry point for the index build (north_rule launch shape).

Cluster launch:

    zip -r /tmp/statschat_ke_spark.zip statschat_ke_spark
    spark-submit --master <cluster> \
        --py-files /tmp/statschat_ke_spark.zip \
        scripts/submit_build.py \
        --input  <parquet-or-iceberg path of documents(url,warc_ts,html,text,lang)> \
        --index-dir <output dir> \
        [--lang en] [--chunks K] [--resume] [--update]

No ``.master(...)`` is set here — the deploy mode, executor count and cores
come from spark-submit, so the same script runs local[N] in the sandbox and
multi-executor on a real cluster. Sandbox smoke:

    spark-submit --master 'local[4]' --py-files /tmp/statschat_ke_spark.zip \
        scripts/submit_build.py --input /root/testdata/sf0.001/documents.parquet \
        --index-dir /tmp/submit_idx
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--lang", default="en")
    ap.add_argument("--chunks", type=int, default=1)
    ap.add_argument("--stop-after-chunks", type=int, default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--update", action="store_true",
                    help="incremental UPDATE into an existing index")
    ap.add_argument("--bench-queries", action="store_true",
                    help="after building, run a 16-query topk_batch against "
                         "the fresh index and report amortized s/query "
                         "(cluster-bench evidence; needs a completed build)")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("statschat_index_build")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    # imported AFTER getOrCreate so --py-files distribution is in effect
    from statschat_ke_spark.index.build import build_index, update_index

    docs = spark.read.parquet(args.input)
    if args.update:
        res = update_index(spark, docs, args.index_dir, lang=args.lang)
    else:
        res = build_index(
            spark, docs, args.index_dir,
            lang=args.lang, n_chunks=args.chunks, resume=args.resume,
            stop_after_chunks=args.stop_after_chunks,
        )
    out = {
        "complete": res.complete,
        "n_docs": res.n_docs,
        "wall_s": round(res.wall_s, 2),
        "chunks_processed": res.chunks_processed,
        "chunks_skipped": res.chunks_skipped,
        "index_dir": res.index_dir,
    }
    # surface the build observability stats (skew_ratio especially — the
    # 110M→396M postings trend is 1.085→1.267 and needs a measured point at
    # every larger build) so cluster-bench JSONs carry them per run
    try:
        import os

        with open(os.path.join(args.index_dir, "stats.json")) as f:
            st = json.load(f)
        out["n_terms"] = st.get("n_terms")
        out["skew_ratio"] = round(float(st.get("skew_ratio", 0.0)), 4)
        out["n_postings"] = int(st.get("n_postings", 0))
        out["postings_per_sec"] = (
            round(out["n_postings"] / res.wall_s, 1) if res.wall_s > 0 else 0.0
        )
        out["phase_timings_s"] = st.get("phase_timings_s")
    except (OSError, ValueError, KeyError):
        pass
    if args.bench_queries and res.complete:
        import time

        from statschat_ke_spark.index.query import topk_batch

        queries = {
            i: q
            for i, q in enumerate(
                [
                    "index growth rate report",
                    "county population census survey",
                    "market price inflation quarter",
                    "household labour income",
                    "government revenue exports quarter",
                    "food fuel transport price",
                    "annual gdp growth percent",
                    "poverty income survey county",
                    "unemployment rate labour market",
                    "production exports imports trade",
                    "school education report annual",
                    "energy transport index month",
                    "health household survey data",
                    "census brief population county",
                    "statistics bulletin kenya report",
                    "water agriculture production report",
                ]
            )
        }
        t0 = time.time()
        rows = topk_batch(spark, args.index_dir, queries, k=10).collect()
        q_wall = time.time() - t0
        out["bench_query_wall_s"] = round(q_wall, 3)
        out["bench_query_s_per_q"] = round(q_wall / len(queries), 4)
        out["bench_query_rows"] = len(rows)
        # canonical result hash: equal across cluster sizes ⇔ the top-k is
        # rank-identical (and score-identical to 1e-6) at N and 4N workers —
        # the north rule's correctness criterion measured on the literal
        # launch shape, not assumed from the local-mode property tests
        import hashlib

        canon = "\n".join(
            f"{r.query_id},{r.rank},{r.doc_id},{r.score:.6f}"
            for r in sorted(rows, key=lambda r: (r.query_id, r.rank))
        )
        out["bench_query_sha256"] = hashlib.sha256(
            canon.encode()
        ).hexdigest()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
