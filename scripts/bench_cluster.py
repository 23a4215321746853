"""Standalone-cluster scaling evidence — the north_rule's launch shape, literally.

bench_scaling.py evidences N-vs-4N scaling with pinned-core local[N] children
(threads inside ONE JVM). This script runs the REAL multi-executor topology the
rule names: a Spark standalone master, N separate worker JVMs (each pinned to
its own disjoint physical cores, like N single-machine containers), and the
build launched via

    spark-submit --master spark://127.0.0.1:7077 --py-files statschat_ke_spark.zip \
        scripts/submit_build.py ...

so executor-side work crosses REAL process boundaries: netty shuffle between
executor JVMs, torrent broadcast, py-files distribution to executor Python
workers — everything thread-local local[N] cannot exercise.

Topology per level (N workers, CORES_PER_WORKER each):
  - each worker JVM (and the executor + pandas-UDF python workers it spawns,
    which inherit the affinity mask) is tasksetted to its own CORES_PER_WORKER
    distinct physical cores — workers cannot steal each other's cycles, same
    as real single-node containers;
  - the driver (spark-submit) is tasksetted to a FIXED core set, disjoint from
    every worker at every level, so driver resources are identical across
    levels and only executor parallelism varies;
  - partition count is data-proportional and IDENTICAL at every level (same
    job, different concurrency — see bench_scaling.data_proportional_partitions).

Efficiency: eff = docs_per_sec(4N workers) / (4 * docs_per_sec(N workers)).

Usage:
    python scripts/bench_cluster.py [--n-docs 1000000] [--pairs 2:8]
                                    [--repeats 2] [--out BENCH_CLUSTER.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import socket
import subprocess
import sys
import tempfile
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

from bench_scaling import _pin_cpus, data_proportional_partitions  # noqa: E402

SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
MASTER_PORT = 7077
MASTER_URL = f"spark://127.0.0.1:{MASTER_PORT}"
CORES_PER_WORKER = 3
WORKER_MEM = "6g"
EXEC_MEM = "5g"
DRIVER_CORES = 4  # fixed, disjoint from every worker core, at every level


def _package_zip() -> str:
    """--py-files payload: the package zipped from source, rebuilt per run."""
    out = os.path.join(tempfile.gettempdir(), "statschat_ke_spark.zip")
    src = os.path.join(REPO, "statschat_ke_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(src):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))
    return out


def _wait_port(port: int, timeout_s: float = 60.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        with socket.socket() as s:
            s.settimeout(1.0)
            try:
                s.connect(("127.0.0.1", port))
                return
            except OSError:
                time.sleep(0.5)
    raise RuntimeError(f"port {port} never came up")


def _taskset(cores: list[int]) -> list[str]:
    if os.environ.get("SPARK_GRAFT_NO_PIN") or not shutil.which("taskset"):
        return []
    return ["taskset", "-c", ",".join(str(c) for c in cores)]


def _spawn(cmd: list[str], env: dict, log_path: str) -> subprocess.Popen:
    log = open(log_path, "ab")
    return subprocess.Popen(
        cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=REPO
    )


class Cluster:
    """One master + n pinned worker JVMs, torn down on __exit__."""

    def __init__(self, n_workers: int, work_root: str, all_cores: list[int],
                 local_root: str | None = None):
        self.n = n_workers
        self.work_root = work_root
        self.all_cores = all_cores
        self.local_root = local_root
        self.procs: list[subprocess.Popen] = []

    def __enter__(self):
        os.makedirs(self.work_root, exist_ok=True)
        spark_class = os.path.join(SPARK_HOME, "bin", "spark-class")
        base_env = {
            **os.environ,
            "SPARK_HOME": SPARK_HOME,
            "SPARK_LOCAL_IP": "127.0.0.1",
            "SPARK_LOG_DIR": os.path.join(self.work_root, "logs"),
            "SPARK_PID_DIR": self.work_root,
            # executors spawn pandas-UDF python workers from THIS interpreter
            "PYSPARK_PYTHON": sys.executable,
        }
        self.procs.append(
            _spawn(
                [spark_class, "org.apache.spark.deploy.master.Master",
                 "--host", "127.0.0.1", "--port", str(MASTER_PORT),
                 "--webui-port", "8090"],
                {**base_env,
                 "SPARK_MASTER_OPTS": "-Dspark.deploy.recoveryMode=NONE"},
                os.path.join(self.work_root, "master.log"),
            )
        )
        _wait_port(MASTER_PORT)
        for i in range(self.n):
            cores = self.all_cores[i * CORES_PER_WORKER:(i + 1) * CORES_PER_WORKER]
            wdir = os.path.join(self.work_root, f"worker{i}")
            os.makedirs(wdir, exist_ok=True)
            wenv = {**base_env,
                    # the worker JVM itself sees its pinned core count
                    "SPARK_WORKER_OPTS":
                        f"-XX:ActiveProcessorCount={CORES_PER_WORKER}"}
            if self.local_root:
                # Per-worker shuffle/spill dir (executors inherit
                # SPARK_LOCAL_DIRS from their worker in standalone mode).
                # Pointing these at tmpfs emulates the independent per-node
                # local disks a real cluster has: on this one-box sandbox all
                # workers otherwise funnel shuffle writes+fetches through the
                # SAME virtual disk, an artifact that grows with shuffle
                # volume and exists on no real multi-node deployment.
                ldir = os.path.join(self.local_root, f"worker{i}")
                os.makedirs(ldir, exist_ok=True)
                wenv["SPARK_LOCAL_DIRS"] = ldir
            self.procs.append(
                _spawn(
                    _taskset(cores)
                    + [spark_class, "org.apache.spark.deploy.worker.Worker",
                       "--cores", str(CORES_PER_WORKER), "--memory", WORKER_MEM,
                       "--work-dir", wdir, "--webui-port", str(8190 + i),
                       MASTER_URL],
                    wenv,
                    os.path.join(self.work_root, f"worker{i}.log"),
                )
            )
        return self

    def __exit__(self, *exc):
        for p in reversed(self.procs):
            p.terminate()
        for p in self.procs:
            try:
                p.wait(15)
            except subprocess.TimeoutExpired:
                p.kill()


def run_level(
    n_workers: int,
    input_dir: str,
    num_partitions: int,
    pyfiles: str,
    driver_cores: list[int],
    worker_cores: list[int],
    local_root: str | None = None,
    extra_confs: list[str] | None = None,
) -> dict:
    work_root = os.path.join(
        tempfile.gettempdir(), f"statschat_cluster_{n_workers}w"
    )
    shutil.rmtree(work_root, ignore_errors=True)
    idx = os.path.join(tempfile.gettempdir(), f"statschat_cluster_idx_{n_workers}w")
    shutil.rmtree(idx, ignore_errors=True)
    if local_root:
        shutil.rmtree(local_root, ignore_errors=True)
        os.makedirs(local_root, exist_ok=True)
    submit = os.path.join(SPARK_HOME, "bin", "spark-submit")
    driver_local = (
        ["--conf", f"spark.local.dir={os.path.join(local_root, 'driver')}"]
        if local_root else []
    )
    with Cluster(n_workers, work_root, worker_cores, local_root=local_root):
        cmd = (
            _taskset(driver_cores)
            + [submit, "--master", MASTER_URL,
               "--py-files", pyfiles,
               "--conf", f"spark.executor.cores={CORES_PER_WORKER}",
               "--conf", f"spark.executor.memory={EXEC_MEM}",
               "--conf", f"spark.cores.max={n_workers * CORES_PER_WORKER}",
               "--conf", f"spark.sql.shuffle.partitions={num_partitions}",
               "--conf", "spark.ui.enabled=false"]
            + [a for c in (extra_confs or []) for a in ("--conf", c)]
            + driver_local
            + [
               "--conf", f"spark.pyspark.python={sys.executable}",
               "--conf", "spark.driver.memory=8g",
               # the driver JVM sees its pinned core count, like each worker
               "--conf",
               f"spark.driver.extraJavaOptions=-XX:ActiveProcessorCount={len(driver_cores)}",
               "--conf",
               f"spark.executor.extraJavaOptions=-XX:ActiveProcessorCount={CORES_PER_WORKER}",
               os.path.join(REPO, "scripts", "submit_build.py"),
               "--input", input_dir, "--index-dir", idx,
               "--bench-queries"]
        )
        env = {**os.environ, "SPARK_HOME": SPARK_HOME,
               "SPARK_LOCAL_IP": "127.0.0.1", "PYSPARK_PYTHON": sys.executable}
        t0 = time.time()
        out = subprocess.run(
            cmd, capture_output=True, text=True, env=env, cwd=REPO, timeout=3600
        )
        submit_wall = time.time() - t0
    if local_root:
        # tmpfs shuffle dirs are RAM — release them between levels
        shutil.rmtree(local_root, ignore_errors=True)
    for line in out.stdout.splitlines():
        if line.startswith("{") and '"n_docs"' in line:
            r = json.loads(line)
            r["n_workers"] = n_workers
            r["executor_cores_total"] = n_workers * CORES_PER_WORKER
            r["submit_wall_s"] = round(submit_wall, 3)
            r["docs_per_sec"] = round(r["n_docs"] / r["wall_s"], 1)
            return r
    sys.stderr.write(out.stdout[-3000:] + "\n" + out.stderr[-5000:] + "\n")
    raise RuntimeError(f"cluster level n_workers={n_workers} produced no result")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=1_000_000)
    ap.add_argument("--pairs", type=str, default="2:8",
                    help="comma-separated N:4N WORKER-count pairs")
    ap.add_argument("--only-level", type=int, default=None,
                    help="run a SINGLE worker-count level (capacity probe, "
                         "no pair/efficiency computed) instead of --pairs")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--local-dirs", type=str, default=None,
                    help="root for per-worker SPARK_LOCAL_DIRS (shuffle/"
                         "spill). Point at tmpfs (e.g. /dev/shm/statschat_"
                         "local) to emulate the independent per-node local "
                         "disks of a real cluster instead of this sandbox's "
                         "single shared virtual disk. Default: Spark's own "
                         "default (/tmp on the shared disk).")
    ap.add_argument("--extra-conf", action="append", default=[],
                    help="additional spark-submit --conf k=v (repeatable); "
                         "recorded in the output JSON so controls (e.g. "
                         "spark.io.compression.codec=zstd) are provenanced")
    ap.add_argument("--out", type=str,
                    default=os.path.join(REPO, "BENCH_CLUSTER.json"))
    args = ap.parse_args()

    input_dir = os.path.join(
        tempfile.gettempdir(), f"statschat_scaling_corpus_{args.n_docs}"
    )
    if not os.path.exists(os.path.join(input_dir, "_SUCCESS")):
        from pyspark.sql import SparkSession

        from statschat_ke_spark.corpus import spark_documents_distributed

        spark = (
            SparkSession.builder.master("local[32]")
            .config("spark.driver.memory", "48g")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark_documents_distributed(spark, args.n_docs, num_partitions=64) \
            .write.mode("overwrite").parquet(input_dir)
        spark.stop()

    if args.only_level is not None:
        pairs = []
        levels_arg = [args.only_level]
    else:
        pairs = [tuple(int(x) for x in p.split(":"))
                 for p in args.pairs.split(",")]
        levels_arg = None
    levels = levels_arg or []
    for n, n4 in pairs:
        for w in (n, n4):
            if w not in levels:
                levels.append(w)
    max_workers = max(levels)
    # disjoint core plan: workers take the first max_workers*CORES_PER_WORKER
    # distinct physical cores; the driver gets the LAST DRIVER_CORES of the
    # host's supply, fixed across levels
    supply = _pin_cpus(os.cpu_count() or 32)
    need = max_workers * CORES_PER_WORKER
    if need + DRIVER_CORES > len(supply):
        raise SystemExit(
            f"host has {len(supply)} cores; need {need} worker + "
            f"{DRIVER_CORES} driver cores — lower --pairs or CORES_PER_WORKER"
        )
    worker_cores = supply[:need]
    driver_cores = supply[-DRIVER_CORES:]

    num_partitions = data_proportional_partitions(input_dir)
    pyfiles = _package_zip()
    print(
        f"levels={levels} workers x {CORES_PER_WORKER} cores, "
        f"driver cores {driver_cores}, num_partitions={num_partitions}",
        flush=True,
    )

    all_runs: dict[int, list] = {w: [] for w in levels}
    for r in range(args.repeats):
        for w in levels:  # round-robin vs hypervisor pause windows
            print(f"running {w}-worker cluster (run {r + 1}/{args.repeats}) ...",
                  flush=True)
            all_runs[w].append(
                run_level(w, input_dir, num_partitions, pyfiles,
                          driver_cores, worker_cores,
                          local_root=args.local_dirs,
                          extra_confs=args.extra_conf)
            )
            print(json.dumps(all_runs[w][-1]), flush=True)
    best = {w: min(rs, key=lambda x: x["wall_s"]) for w, rs in all_runs.items()}

    report = {
        "topology": {
            "master": MASTER_URL,
            "cores_per_worker": CORES_PER_WORKER,
            "worker_mem": WORKER_MEM,
            "executor_mem": EXEC_MEM,
            "driver_cores": driver_cores,
            "launch": "spark-submit --py-files (scripts/submit_build.py)",
            "local_dirs": args.local_dirs or "spark default (/tmp, shared disk)",
            "extra_confs": args.extra_conf,
        },
        "n_docs": args.n_docs,
        "num_partitions": num_partitions,
        "repeats": args.repeats,
        "selection": "min build wall_s per level",
        "levels": best,
        "all_runs": all_runs,
        "pairs": [],
    }
    for n, n4 in pairs:
        lo, hi = best[n], best[n4]
        eff = hi["docs_per_sec"] / ((n4 / n) * lo["docs_per_sec"])
        report["pairs"].append(
            {
                "N_workers": n,
                "4N_workers": n4,
                "throughput_N_docs_per_sec": lo["docs_per_sec"],
                "throughput_4N_docs_per_sec": hi["docs_per_sec"],
                "scaling_efficiency_build": round(eff, 3),
                "query_s_per_q_N": lo.get("bench_query_s_per_q"),
                "query_s_per_q_4N": hi.get("bench_query_s_per_q"),
                # equal canonical sha256 ⇔ rank- and score-identical top-k
                # at both cluster sizes (north-rule correctness criterion)
                "query_rank_identity": (
                    lo.get("bench_query_sha256") == hi.get("bench_query_sha256")
                    if lo.get("bench_query_sha256") and hi.get("bench_query_sha256")
                    else None
                ),
                # skew_ratio bound check: the 110M→396M postings trend is
                # 1.085→1.267; past ~1.5 the salted (term_id, slice) range
                # partitioning needs sub-slice splitting of hot keys
                "skew_ratio_N": lo.get("skew_ratio"),
                "skew_ratio_4N": hi.get("skew_ratio"),
                "skew_within_bound_1_5": (
                    max(lo.get("skew_ratio") or 0.0, hi.get("skew_ratio") or 0.0)
                    <= 1.5
                    if (lo.get("skew_ratio") or hi.get("skew_ratio"))
                    else None
                ),
            }
        )
        print(f"pair {n}→{n4} workers: build efficiency {eff:.3f}", flush=True)
    # provenance note so a reader of THIS file knows which runs any published
    # pairing used (ADVICE r4: the 10M pair spanned files without a record)
    report["note"] = (
        "levels interleaved per repeat (round-robin) so every level samples "
        "the same host windows; 'levels' holds the per-level best, 'all_runs' "
        "every rep; any pairing published in BASELINE.md cites this file"
    )
    with open(args.out, "w") as f:
        json.dump(report, f, indent=2)
        f.write("\n")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
