"""Scaling-efficiency evidence for the north_rule (N vs 4N executors).

No real cluster exists in this sandbox, so the same index-build job runs at
two parallelism levels (local[N] and local[4N]) over the IDENTICAL
pre-materialized parquet input; we report docs/sec + postings/sec at both and
the scaling efficiency

    eff = throughput(4N) / (4 * throughput(N))

Each measurement runs in its own subprocess (fresh JVM) so the two levels
can't share executor state. The corpus is generated once, deterministically,
on the executors (corpus.spark_documents_distributed) and reused by both
levels — see BASELINE.md "BENCH" for recorded results.

Usage:
    python scripts/bench_scaling.py                # full parent run
    python scripts/bench_scaling.py --pairs 2:8    # custom N:4N pairs
    python scripts/bench_scaling.py --child --cpus 8 --input DIR   # internal
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def data_proportional_partitions(input_dir: str) -> int:
    """Partition count sized by INPUT DATA (~32 MB per partition), not by
    thread count — the rule a real cluster uses, and the property the
    scaling measurement needs: both parallelism levels must run the
    IDENTICAL job (same task boundaries, same shuffle fan-out) so that the
    only variable is how many of those tasks run concurrently. Sizing
    partitions to cpus (the pre-round-4 behavior) made the low level run
    FAT partitions: at local[2] over 900k docs the lexicon/finalize phases
    ran 10× (not 4×) slower than local[8] — a different job, not the same
    job with less parallelism — and understated the true efficiency."""
    n_bytes = sum(
        os.path.getsize(os.path.join(input_dir, f))
        for f in os.listdir(input_dir)
        if f.endswith(".parquet")
    )
    return int(max(16, min(1024, -(-n_bytes // (32 << 20)))))


def _session(cpus: int, shuffle_partitions: int | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"statschat_scaling_{cpus}")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    # Emulate an N-core executor faithfully: without ActiveProcessorCount
    # the JVM sizes GC/JIT/netty thread pools from availableProcessors()=32
    # at EVERY level, so the local[2] child runs a 32-core-sized G1 (measured:
    # cpu_concurrency 2.51 on a 2-thread pool, java CPU-s inflated by GC
    # threads the real 2-core executor would never have). A real cluster's
    # N-core executor JVM sees N cores; this makes each level match that.
    # SPARK_GRAFT_JAVA_OPTS appends extra A/B flags (e.g. -XX:+UseParallelGC).
    opts = f"-XX:ActiveProcessorCount={cpus}"
    extra = os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")
    if extra:
        opts = f"{opts} {extra}"
    return b.config("spark.driver.extraJavaOptions", opts).getOrCreate()


def _subtree_cpu_seconds() -> float:
    """Pause-immune CPU signal — see statschat_ke_spark.benchutil (shared
    with bench.py's best-of-N protocol)."""
    from statschat_ke_spark.benchutil import subtree_cpu_seconds

    return subtree_cpu_seconds()


def child(cpus: int, input_dir: str, num_partitions: int) -> None:
    import shutil

    from statschat_ke_spark.index.build import build_index
    from statschat_ke_spark.index.query import topk

    spark = _session(cpus, shuffle_partitions=num_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(input_dir)
    idx = os.path.join(tempfile.gettempdir(), f"statschat_scaling_idx_{cpus}")
    shutil.rmtree(idx, ignore_errors=True)

    from statschat_ke_spark.benchutil import subtree_cpu_by_kind

    cpu0 = _subtree_cpu_seconds()
    kind0 = subtree_cpu_by_kind()
    t0 = time.time()
    res = build_index(spark, docs, idx, lang="en")
    build_s = time.time() - t0
    build_cpu_s = _subtree_cpu_seconds() - cpu0
    kind1 = subtree_cpu_by_kind()
    cpu_by_kind = {
        k: round(kind1.get(k, 0.0) - kind0.get(k, 0.0), 2) for k in kind1
    }

    stats = json.load(open(os.path.join(idx, "stats.json")))

    t0 = time.time()
    n_q = 0
    for q in [
        "index growth rate report",
        "county population census survey",
        "market price inflation quarter",
        "household labour income",
    ]:
        topk(spark, idx, q, k=10).collect()
        n_q += 1
    query_s = time.time() - t0

    print(
        "CHILD_RESULT "
        + json.dumps(
            {
                "cpus": cpus,
                "build_wall_s": build_s,
                "build_cpu_s": build_cpu_s,
                "cpu_concurrency": build_cpu_s / build_s if build_s else 0.0,
                "n_docs": res.n_docs,
                "n_postings": stats["n_postings"],
                "docs_per_sec": res.n_docs / build_s,
                "postings_per_sec": stats["n_postings"] / build_s,
                "skew_ratio": stats["skew_ratio"],
                "queries_per_sec": n_q / query_s,
                "query_wall_s": query_s,
                "cpu_by_kind_s": cpu_by_kind,
                "phase_timings_s": stats.get("phase_timings_s", {}),
            }
        )
    )
    spark.stop()


def pin_cmd(cpus: int) -> list[str]:
    """Hard-cap the child's whole process subtree (JVM + Python workers) to
    exactly `cpus` cores with taskset, the way a real N-core executor is
    cgroup-capped. -XX:ActiveProcessorCount alone only sizes JVM thread
    POOLS; the subtree still ran GC/netty/Python threads on spare host cores
    (measured: cpu_concurrency 2.37 on the local[2] level at 1M docs), a
    ~18% subsidy to the LOW level that deflates measured N→4N efficiency.
    With the affinity cap, background threads time-slice inside the N-core
    budget exactly as they would on a real N-core container."""
    import shutil as _sh

    if os.environ.get("SPARK_GRAFT_NO_PIN") or not _sh.which("taskset"):
        return []
    return ["taskset", "-c", ",".join(str(c) for c in _pin_cpus(cpus))]


def _pin_cpus(n: int) -> list[int]:
    """N logical CPUs on N DISTINCT physical cores, SMT-sibling-aware.

    `taskset -c 0-(N-1)` silently assumes the first N logical CPUs are N
    distinct cores; on hosts that enumerate SMT siblings adjacently (common
    AMD BIOSes: cpu0/cpu1 share a core) that would hand the LOW level N/2
    cores' worth of hyperthreads while the high level spans real cores —
    inflating measured N→4N efficiency. Pick the first listed sibling of
    each distinct core (kernel enumeration order) until N cores are
    covered; overflow (n > physical cores) and unreadable topology fall
    back to 0..n-1. On this sandbox's guest (1 thread/core exposed) the
    result IS 0..n-1, i.e. the historical runs are unaffected."""
    seen: set[str] = set()
    picks: list[int] = []
    try:
        cpu = 0
        while len(picks) < n:
            p = f"/sys/devices/system/cpu/cpu{cpu}/topology/thread_siblings_list"
            if not os.path.exists(p):
                break
            with open(p) as f:
                sibs = f.read().strip()
            if sibs not in seen:
                seen.add(sibs)
                picks.append(cpu)
            cpu += 1
    except OSError:
        picks = []
    return picks if len(picks) == n else list(range(n))


def run_child(cpus: int, input_dir: str, num_partitions: int) -> dict:
    out = subprocess.run(
        pin_cmd(cpus)
        + [sys.executable, os.path.abspath(__file__), "--child",
           "--cpus", str(cpus), "--input", input_dir,
           "--num-partitions", str(num_partitions)],
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
    ap.add_argument("--input", type=str, default="")
    ap.add_argument("--n-docs", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_SCALE_N", "300000")))
    ap.add_argument("--pairs", type=str, default="8:32",
                    help="comma-separated N:4N pairs, e.g. '2:8,8:32'")
    ap.add_argument("--repeats", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "3")),
                    help="runs per level; best (min wall) run is used — the "
                         "sandbox hypervisor pauses the VM at random, so a "
                         "single run can be arbitrarily inflated")
    ap.add_argument("--out", type=str, default=os.path.join(REPO, "BENCH_SCALING.json"))
    ap.add_argument("--num-partitions", type=int, default=0,
                    help="partition count used at EVERY level (0 = derive "
                         "from input bytes, ~32 MB each — see "
                         "data_proportional_partitions)")
    args = ap.parse_args()

    if args.child:
        child(args.cpus, args.input, args.num_partitions)
        return

    from statschat_ke_spark.corpus import spark_documents_distributed

    input_dir = os.path.join(
        tempfile.gettempdir(), f"statschat_scaling_corpus_{args.n_docs}"
    )
    if not os.path.exists(os.path.join(input_dir, "_SUCCESS")):
        spark = _session(32)
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.time()
        spark_documents_distributed(spark, args.n_docs, num_partitions=64).write.mode(
            "overwrite"
        ).parquet(input_dir)
        print(f"corpus: {args.n_docs} docs materialized in {time.time()-t0:.1f}s")
        spark.stop()

    results: dict[int, dict] = {}
    pairs = [tuple(int(x) for x in p.split(":")) for p in args.pairs.split(",")]
    levels = []
    for n, n4 in pairs:
        for cpus in (n, n4):
            if cpus not in levels:
                levels.append(cpus)
    num_partitions = args.num_partitions or data_proportional_partitions(input_dir)
    print(f"num_partitions={num_partitions} (identical at every level)", flush=True)
    # Interleave repeats ACROSS levels (round-robin) rather than running all
    # repeats of one level back-to-back: the hypervisor throttles this VM in
    # multi-minute windows, so consecutive runs share a window's fate — a
    # round-robin spreads each level's repeats over the full session and
    # best-of-N then has an honest shot at an unthrottled window per level.
    all_runs = {cpus: [] for cpus in levels}
    for r in range(args.repeats):
        for cpus in levels:
            print(f"running local[{cpus}] (run {r + 1}/{args.repeats}) ...", flush=True)
            all_runs[cpus].append(run_child(cpus, input_dir, num_partitions))
            print(json.dumps(all_runs[cpus][-1]), flush=True)
    for cpus in levels:
        results[cpus] = min(all_runs[cpus], key=lambda x: x["build_wall_s"])

    report = {
        "n_docs": args.n_docs,
        "input": input_dir,
        "num_partitions": num_partitions,
        "repeats": args.repeats,
        "selection": "min build_wall_s per level (hypervisor-pause robust)",
        "levels": results,
        "all_runs": all_runs,
        "pairs": [],
    }
    for n, n4 in pairs:
        lo, hi = results[n], results[n4]
        ratio = n4 / n
        eff_build = hi["docs_per_sec"] / (ratio * lo["docs_per_sec"])
        report["pairs"].append(
            {
                "N": n,
                "4N": n4,
                "throughput_N_docs_per_sec": lo["docs_per_sec"],
                "throughput_4N_docs_per_sec": hi["docs_per_sec"],
                "scaling_efficiency_build": eff_build,
                "postings_per_sec_N": lo["postings_per_sec"],
                "postings_per_sec_4N": hi["postings_per_sec"],
                "cpu_concurrency_N": lo["cpu_concurrency"],
                "cpu_concurrency_4N": hi["cpu_concurrency"],
            }
        )
        print(f"pair local[{n}]→local[{n4}]: build efficiency {eff_build:.3f}")
    with open(args.out, "w") as f:
        json.dump(report, f, indent=2)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
