"""Corpora, checker scans and indexes reused across runs, plus the Spark
session sized to the host.

Everything lives under ``.perfbench_cache/`` in the checkout, keyed by the
generator parameters and a hash of the ``statschat_ke_spark`` sources and
the benchmark files that shape the cache, so a run never reads an index
that other engine code built. Entries for other source hashes and leftovers
of dead runs are deleted on start.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

CORPUS_SEED = 7
CACHE_DIR = ".perfbench_cache"


@dataclass(frozen=True)
class Tier:
    """A corpus of ``n_base`` requested documents (ids 0..n_base-1, ~90%
    ``en``) plus a pool of ``n_pool`` more from which each run samples its
    append delta. ``index``: build and cache an index of the base."""

    name: str
    n_base: int
    n_pool: int
    index: bool
    min_free_gb: float

    @property
    def key(self) -> str:
        return f"{self.name}-n{self.n_base}-p{self.n_pool}-s{CORPUS_SEED}"


# The benchmark sources that decide what the cache holds: how it is
# generated, and the question pool whose terms the checker scan counts.
CACHED_BY = ("cache.py", "checker.py", "questions.py")


def source_hash(root: str) -> str:
    """Hash of the engine's Python sources and the ``CACHED_BY`` files."""
    h = hashlib.sha256()
    paths = []
    for dirpath, dirnames, files in os.walk(os.path.join(root, "statschat_ke_spark")):
        dirnames.sort()
        paths += [os.path.join(dirpath, n) for n in sorted(files) if n.endswith(".py")]
    paths += [os.path.join(root, "perfbench", n) for n in CACHED_BY]
    for path in paths:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


class Cache:
    def __init__(self, root: str, tiers):
        self.base = os.path.join(root, CACHE_DIR)
        self.dir = os.path.join(self.base, source_hash(root))
        os.makedirs(self.dir, exist_ok=True)
        for name in os.listdir(self.base):
            path = os.path.join(self.base, name)
            stale_run = name.startswith("run-") and not _pid_alive(int(name[4:]))
            if path != self.dir and (stale_run or not name.startswith("run-")):
                shutil.rmtree(path, ignore_errors=True)
        keep = {t.key for t in tiers} | {"traces"}
        for name in os.listdir(self.dir):
            if name not in keep:
                shutil.rmtree(os.path.join(self.dir, name), ignore_errors=True)
        self.run_dir = os.path.join(self.base, f"run-{os.getpid()}")
        os.makedirs(self.run_dir, exist_ok=True)

    def tier_dir(self, tier: Tier) -> str:
        return os.path.join(self.dir, tier.key)

    def corpus(self, tier: Tier, part: str) -> str:
        return os.path.join(self.tier_dir(tier), "corpus", f"part={part}")

    def scan(self, tier: Tier) -> str:
        return os.path.join(self.tier_dir(tier), "scan.npz")

    def index(self, tier: Tier) -> str:
        return os.path.join(self.tier_dir(tier), "index")

    def ensure(self, spark, tier: Tier) -> None:
        """Generate what ``tier`` lacks."""
        d = self.tier_dir(tier)
        ready = os.path.join(d, "READY")
        if os.path.exists(ready):
            return
        t0 = time.perf_counter()
        shutil.rmtree(d, ignore_errors=True)
        free_gb = shutil.disk_usage(self.base).free / 2**30
        if free_gb < tier.min_free_gb:
            raise SystemExit(
                f"perfbench: {free_gb:.1f} GB free under {self.base}, tier "
                f"{tier.name} needs {tier.min_free_gb} GB; free disk space"
            )
        os.makedirs(d)
        from pyspark.sql import functions as F

        from perfbench.checker import scan_corpus
        from statschat_ke_spark.corpus import spark_documents_distributed
        from statschat_ke_spark.index.build import build_index

        doc_no = F.regexp_extract("url", r"doc-(\d+)\.html", 1).cast("long")
        (
            spark_documents_distributed(
                spark, tier.n_base + tier.n_pool, seed=CORPUS_SEED
            )
            .withColumn("id", doc_no)
            .withColumn(
                "part", F.when(F.col("id") < tier.n_base, "base").otherwise("pool")
            )
            .write.partitionBy("part")
            .parquet(os.path.join(d, "corpus"))
        )
        scan_corpus(spark, os.path.join(d, "corpus"), self.scan(tier))
        if tier.index:
            build_index(spark, self.corpus(tier, "base"), self.index(tier))
        with open(ready, "w") as f:
            json.dump({"tier": tier.key, "seconds": time.perf_counter() - t0}, f)

    def warm(self, paths) -> None:
        """Read ``paths`` once so every run starts with them in the page
        cache, as a serving host would have its index."""
        for path in paths:
            for dirpath, _, files in os.walk(path):
                for name in files:
                    with open(os.path.join(dirpath, name), "rb") as f:
                        while f.read(1 << 23):
                            pass

    def close(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def start_session(root: str, local_dir: str):
    """``local[nproc]`` with driver memory from MemTotal (25%, 1-4 GB) and
    executor Python able to import the engine from the checkout."""
    from pyspark.sql import SparkSession

    cores = os.cpu_count() or 1
    mem_mb = max(1024, min(4096, _mem_total_mb() // 4))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem_mb}m")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(local_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (its Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
