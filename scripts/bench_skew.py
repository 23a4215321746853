"""Hot-term skew control: measure skew_ratio vs slice_bits on one corpus.

The pack shuffle hashes (term_id, slice) into P partitions; its balance is
reported per build as ``skew_ratio = max_p / avg_p`` (postings in the fattest
partition over the mean). Measured trend on this box: 1.085 at 110M postings,
1.267 at 396M, 1.468 at ~1.1B — rising toward the 1.5 design bound because
``derive_slice_bits`` floors at 2^6 slices until corpora reach
DOCS_PER_SLICE_TARGET * 64 docs, so the hottest term's per-slice sub-list
grows linearly with the corpus while partition count grows too (more
partitions make one oversized (term, slice) key stand out MORE against the
mean, not less).

This script turns the designed-in remedy — more slice bits — into a measured
result instead of a promise: the SAME corpus is built at the derived
slice_bits and at finer settings (holding P_pack and everything else fixed),
and each build reports skew_ratio, wall, postings-phase seconds, and the
16-query canonical result sha256. The sha MUST be byte-identical across all
slice_bits levels (rank/score invariance to the slicing knob is a correctness
claim of the design: slices only label doc ranges, and the scorer's per-doc
fold order is query-term order, never slice order).

Usage:
    python scripts/bench_skew.py [--n-docs 10000000] [--slice-bits derived,8,10]
                                 [--cpus 32] [--out BENCH_SKEW.json]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


# same 16 queries as scripts/submit_build.py --bench-queries, so shas are
# comparable across the cluster and skew benches
QUERIES = [
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


def _session(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("statschat_skew_bench")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def _ensure_corpus(n_docs: int) -> str:
    input_dir = os.path.join(
        tempfile.gettempdir(), f"statschat_scaling_corpus_{n_docs}"
    )
    if not os.path.exists(os.path.join(input_dir, "_SUCCESS")):
        from statschat_ke_spark.corpus import spark_documents_distributed

        spark = _session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        spark.sparkContext.setLogLevel("ERROR")
        spark_documents_distributed(spark, n_docs, num_partitions=64) \
            .write.mode("overwrite").parquet(input_dir)
        spark.stop()
    return input_dir


def run_level(input_dir: str, slice_bits: int | None, cpus: int) -> dict:
    """One build+query pass in THIS process (levels are sequential; each
    stops its session so JVM state never leaks across levels)."""
    from statschat_ke_spark.index.build import build_index, derive_slice_bits
    from statschat_ke_spark.index.query import topk_batch

    idx = os.path.join(tempfile.gettempdir(), "statschat_skew_idx")
    shutil.rmtree(idx, ignore_errors=True)
    spark = _session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        t0 = time.time()
        res = build_index(spark, input_dir, idx, slice_bits=slice_bits)
        build_wall = time.time() - t0
        with open(os.path.join(idx, "stats.json")) as f:
            st = json.load(f)
        t0 = time.time()
        rows = topk_batch(
            spark, idx, dict(enumerate(QUERIES)), k=10
        ).collect()
        q_wall = time.time() - t0
        canon = "\n".join(
            f"{r.query_id},{r.rank},{r.doc_id},{r.score:.6f}"
            for r in sorted(rows, key=lambda r: (r.query_id, r.rank))
        )
        return {
            "slice_bits_requested": slice_bits,
            "slice_bits_effective": st["slice_bits"],
            "slice_bits_derived_default": derive_slice_bits(res.n_docs),
            "n_docs": res.n_docs,
            "n_postings": st["n_postings"],
            "n_posting_rows": st["n_posting_rows"],
            "skew_ratio": round(float(st["skew_ratio"]), 4),
            "build_wall_s": round(build_wall, 2),
            "docs_per_sec": round(res.n_docs / build_wall, 1),
            "phase_timings_s": st["phase_timings_s"],
            "bench_query_wall_s": round(q_wall, 3),
            "bench_query_sha256": hashlib.sha256(canon.encode()).hexdigest(),
        }
    finally:
        spark.stop()
        shutil.rmtree(idx, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=10_000_000)
    ap.add_argument("--slice-bits", type=str, default="derived,8,10",
                    help="comma list; 'derived' = build_index default")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--out", type=str,
                    default=os.path.join(REPO, "BENCH_SKEW.json"))
    args = ap.parse_args()

    input_dir = _ensure_corpus(args.n_docs)
    levels = []
    for tok in args.slice_bits.split(","):
        sb = None if tok.strip() == "derived" else int(tok)
        print(f"== slice_bits={tok} ==", flush=True)
        r = run_level(input_dir, sb, args.cpus)
        print(json.dumps(r), flush=True)
        levels.append(r)

    shas = {r["bench_query_sha256"] for r in levels}
    out = {
        "bench": "skew_vs_slice_bits",
        "protocol": (
            "same corpus, same P_pack, same local[{}] session shape per "
            "level (fresh session each); only slice_bits varies. skew_ratio "
            "= max/avg postings per pack-shuffle partition, from stats.json."
        ).format(args.cpus),
        "n_docs_requested": args.n_docs,
        "input_dir": input_dir,
        "levels": levels,
        "rank_identity_across_slice_bits": len(shas) == 1,
        "sha256": sorted(shas),
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    print(json.dumps({k: out[k] for k in
                      ("rank_identity_across_slice_bits", "sha256")}))


if __name__ == "__main__":
    main()
