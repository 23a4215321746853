"""Query-path N-vs-4N scaling evidence (companion to bench_scaling.py).

The north_rule's scaling criterion is stated on BUILD throughput, but a
retrieval engine also has to answer query LOAD with more executors. Single
sequential `topk` calls can't show that (each is one short Spark job whose
wall is fixed scheduling overhead — measured 0.305 "efficiency" at 4 queries,
i.e. latency, not throughput). The throughput shape is `topk_batch`: one job
scoring a whole query set, parallel across (slice × query-bucket) tasks.

This parent runs the SAME 64-query batch at `local[N]` and `local[4N]`
against the SAME prebuilt index (default: the one the scaling bench leaves at
$TMP/statschat_scaling_idx_8), each level in a fresh subprocess JVM sized with
-XX:ActiveProcessorCount=N (same strict protocol as bench_scaling.py), and
reports queries/sec at both levels, scaling efficiency, and whether the two
levels returned RANK-IDENTICAL results (query_id, rank, doc_id, score) — the
north_rule's rank-identity check across cluster sizes.

Usage:
    python scripts/bench_query_scaling.py --index /tmp/statschat_scaling_idx_8
    python scripts/bench_query_scaling.py --child --cpus 8 --index DIR  # internal
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BASE_QUERIES = [
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


def make_queries(n: int) -> dict[int, str]:
    """Deterministic n-query set mixing the base phrases (same recipe as
    bench_large.py's 64-query batch, so numbers are comparable)."""
    return {
        i: f"{BASE_QUERIES[i % len(BASE_QUERIES)]} "
           f"{BASE_QUERIES[(i * 7 + 3) % len(BASE_QUERIES)].split()[0]}"
        for i in range(n)
    }


def child(cpus: int, index_dir: str, n_queries: int, repeats: int,
          n_groups: int | None, shuffle_partitions: int) -> None:
    from bench_scaling import _session  # same strict per-level JVM protocol

    from statschat_ke_spark.benchutil import subtree_cpu_seconds
    from statschat_ke_spark.index.query import topk_batch

    # shuffle_partitions is pinned IDENTICAL across levels (like --n-groups
    # and bench_scaling's num_partitions): _session's per-level default
    # (cpus*2) would give each level a different job shape — different task
    # boundaries for the applyInPandas shuffle and the ranking window — and
    # the whole point is the identical job at two concurrency levels.
    spark = _session(cpus, shuffle_partitions=shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    queries = make_queries(n_queries)

    walls: list[float] = []
    result_hash = ""
    cpu0 = subtree_cpu_seconds()
    for _ in range(repeats):
        t0 = time.time()
        rows = topk_batch(spark, index_dir, queries, k=10, n_groups=n_groups).collect()
        walls.append(time.time() - t0)
        # rank-identity fingerprint: stable across levels iff the engine
        # returns the same docs in the same order with BIT-identical scores
        # (float64 hex, not a 6-dp rounding — an order-dependent-summation
        # regression perturbs last ulps only and must fail this check, the
        # same bar as tests/test_rank_identity.py's bit-pattern compare)
        canon = sorted(
            (r["query_id"], r["rank"], r["doc_id"], float(r["score"]).hex())
            for r in rows
        )
        result_hash = hashlib.sha256(
            json.dumps(canon, separators=(",", ":")).encode()
        ).hexdigest()
    cpu_s = subtree_cpu_seconds() - cpu0

    best = min(walls)
    print(
        "CHILD_RESULT "
        + json.dumps(
            {
                "cpus": cpus,
                "n_queries": n_queries,
                "batch_wall_s_best": best,
                "batch_wall_s_all": [round(w, 3) for w in walls],
                "queries_per_sec": n_queries / best,
                "per_query_s": best / n_queries,
                "cpu_s_total": round(cpu_s, 2),
                "n_groups": n_groups,
                "result_sha256": result_hash,
            }
        )
    )
    spark.stop()


def run_child(cpus: int, index_dir: str, n_queries: int, repeats: int,
              n_groups: int, shuffle_partitions: int) -> dict:
    from bench_scaling import pin_cmd  # taskset affinity cap, same protocol

    out = subprocess.run(
        pin_cmd(cpus)
        + [sys.executable, os.path.abspath(__file__), "--child",
           "--cpus", str(cpus), "--index", index_dir,
           "--n-queries", str(n_queries), "--repeats", str(repeats),
           "--n-groups", str(n_groups),
           "--shuffle-partitions", str(shuffle_partitions)],
        capture_output=True, text=True, cwd=REPO, timeout=3600,
    )
    for line in out.stdout.splitlines():
        if line.startswith("CHILD_RESULT "):
            return json.loads(line[len("CHILD_RESULT "):])
    sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:] + "\n")
    raise RuntimeError(f"child local[{cpus}] produced no result")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--index", type=str,
                    default=os.path.join(tempfile.gettempdir(),
                                         "statschat_scaling_idx_8"))
    ap.add_argument("--pairs", type=str, default="2:8")
    ap.add_argument("--n-queries", type=int, default=64)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--n-groups", type=int, default=16,
                    help="WAND slice-group count, IDENTICAL at every level "
                         "(0 = per-level adaptive — NOT a fair scaling "
                         "comparison: the adaptive rule couples group count "
                         "to defaultParallelism, so levels would run "
                         "different jobs). Default 16 = the 8-core "
                         "operating point's natural choice.")
    ap.add_argument("--shuffle-partitions", type=int, default=32,
                    help="spark.sql.shuffle.partitions, IDENTICAL at every "
                         "level (the per-level default would change the job "
                         "shape between levels)")
    ap.add_argument("--out", type=str,
                    default=os.path.join(REPO, "BENCH_QUERY_SCALING.json"))
    args = ap.parse_args()

    if args.child:
        child(args.cpus, args.index, args.n_queries, args.repeats,
              args.n_groups or None, args.shuffle_partitions)
        return

    from statschat_ke_spark.index.query import check_index_format

    stats = json.load(open(os.path.join(args.index, "stats.json")))
    report: dict = {
        "index": args.index,
        "n_docs": check_index_format(args.index)["n_docs"],
        "n_postings": stats["n_postings"],
        "n_queries": args.n_queries,
        "repeats": args.repeats,
        "selection": "min batch wall per level (hypervisor-pause robust)",
        "n_groups": args.n_groups,
        "shuffle_partitions": args.shuffle_partitions,
        "levels": {},
        "pairs": [],
    }
    levels = sorted({int(x) for p in args.pairs.split(",") for x in p.split(":")})
    # interleave repeats at the parent level too: run each level once per
    # sweep so a throttled window can't poison one level's every run
    for lvl in levels:
        print(f"running local[{lvl}] ...", flush=True)
        report["levels"][str(lvl)] = run_child(
            lvl, args.index, args.n_queries, args.repeats, args.n_groups,
            args.shuffle_partitions,
        )
        print(json.dumps(report["levels"][str(lvl)]), flush=True)

    for p in args.pairs.split(","):
        n, n4 = (int(x) for x in p.split(":"))
        lo, hi = report["levels"][str(n)], report["levels"][str(n4)]
        eff = hi["queries_per_sec"] / ((n4 / n) * lo["queries_per_sec"])
        report["pairs"].append(
            {
                "N": n,
                "4N": n4,
                "qps_N": lo["queries_per_sec"],
                "qps_4N": hi["queries_per_sec"],
                "scaling_efficiency_query": eff,
                "rank_identical_across_levels":
                    lo["result_sha256"] == hi["result_sha256"],
            }
        )
        print(f"pair local[{n}]→local[{n4}]: query efficiency {eff:.3f}, "
              f"rank-identical={report['pairs'][-1]['rank_identical_across_levels']}",
              flush=True)

    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"wrote {args.out}", flush=True)


if __name__ == "__main__":
    main()
