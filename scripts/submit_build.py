"""spark-submit entry point for the index build (north_rule launch shape).

Cluster launch:

    zip -r /tmp/statschat_ke_spark.zip statschat_ke_spark
    spark-submit --master <cluster> \
        --py-files /tmp/statschat_ke_spark.zip \
        scripts/submit_build.py \
        --input  <parquet-or-iceberg path of documents(url,warc_ts,html,text,lang)> \
        --index-dir <output dir> \
        [--lang en] [--chunks K] [--update]

Rerunning the same command after a crash resumes the build: the slices the
crashed run finished stage no docs (see build_index).

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
    ap.add_argument("--update", action="store_true",
                    help="incremental UPDATE into an existing index")
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

    if args.update:
        res = update_index(
            spark, spark.read.parquet(args.input), args.index_dir, lang=args.lang
        )
    else:
        # the PATH, not a DataFrame: --chunks K then cuts chunks at the file
        # listing and reads the input once (see build_index)
        res = build_index(
            spark, args.input, args.index_dir,
            lang=args.lang, n_chunks=args.chunks,
        )
    out = {
        "n_docs": res.n_docs,
        "wall_s": round(res.wall_s, 2),
        "chunks_processed": res.chunks_processed,
        "chunks_skipped": res.chunks_skipped,
        "index_dir": res.index_dir,
    }
    # surface the build observability stats (skew_ratio especially) so
    # every launch reports them next to the wall time
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
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
