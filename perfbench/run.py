"""Engine benchmark: one closed-loop client against the public engine API.

    python3 perfbench/run.py --workload query_180k --seed 1 --seconds 10 --trace 0

Workloads (one process, Spark ``local[nproc]``, a caller that waits for each
reply), each after an untimed warm-up:

- ``ingest_11k``: ``build_index`` of a 12k-requested (~11k ``en``) corpus
  from parquet, ``update_index`` with a 3k-doc delta, ``delete_docs`` of 300
  urls, then questions on the resulting two-segment, tombstoned index.
- ``query_180k``: questions on a cached single-segment 200k-requested
  (~180k ``en``) index; then a 3k-doc delta is built as a fresh index and
  appended to a hard-linked copy of the 180k index.

Traced runs also time the delete (and delete from the query workload's
copy) and a 16-question ``topk_batch``.

Every result is checked against ``checker.Scorer``. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end walls with ``--trace 0``; per-layer numbers from spans with
``--trace 1``). Exits 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T_START = time.perf_counter()
sys.path.insert(0, ROOT)

from perfbench.cache import Tier  # noqa: E402  (needs ROOT on sys.path)

SETUP_REPS = 3
DELTA_DOCS = 3_000
DELTA_CHUNK = 100  # the delta is DELTA_DOCS / DELTA_CHUNK runs of pool ids
# The untimed warm-up index is built from the last WARM_DOCS ids of the
# pool, which no delta draws from. Its build also warms up the segment
# writes an append makes.
WARM_DOCS = 800
WARM_DELETE_URLS = 10
WARM_KIND = "common"  # the warm-up search's shape: it touches the most postings
DELETE_URLS = 300
BATCH_QUESTIONS = 16  # traced runs only
MAX_QUESTIONS = 64
SEARCH_TOP = 5  # api.search returns its k_contexts=5 best references


@dataclass(frozen=True)
class Workload:
    tier: str
    build_base: bool  # build the tier's base corpus in the timed run


# The ingest tier is sized so a whole build fits the per-run budget; the
# query tier is the largest whose one-off set-up fits the first run.
TIERS = {
    "ingest": Tier("ingest", 12_000, 12_000, index=False, min_free_gb=2.0),
    "query": Tier("query", 200_000, 12_000, index=True, min_free_gb=4.0),
}


# Why each workload exists is in BENCHMARK.json and README.md.
WORKLOADS = {
    "ingest_11k": Workload("ingest", build_base=True),
    "query_180k": Workload("query", build_base=False),
}


def _median(values):
    return statistics.median(values) if values else 0.0


def _mean(values):
    return statistics.fmean(values) if values else 0.0


class Run:
    def __init__(self, args, cache):
        import numpy as np

        self.args = args
        self.cache = cache
        self.tiers = TIERS
        self.wl = WORKLOADS[args.workload]
        self.tier = TIERS[self.wl.tier]
        self.local_dir = os.path.join(cache.run_dir, "spark-local")
        self.rng = np.random.default_rng([args.seed, 3])
        self.attempted = 0
        self.failed = 0
        self.results = []  # (op, question, doc ids) feeding the result sha
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.spark = None
        self.tracer = None

    def start(self) -> None:
        """Launch Spark, then build whatever cached tier is missing (only
        the first run in a checkout does; excluded from setup_s)."""
        from perfbench.cache import start_session
        from perfbench.checker import Corpus

        t0 = time.perf_counter()
        self.spark = start_session(ROOT, self.local_dir)
        self.session_s = time.perf_counter() - t0
        self.log("spark session up")
        for tier in self.tiers.values():
            self.cache.ensure(self.spark, tier)
        self.cache.warm([
            os.path.dirname(self.cache.corpus(self.tier, "base")),
            self.cache.index(self.tier),
        ])
        self.corpus = Corpus(self.cache.scan(self.tier))
        self.log("caches ready")

    # --- bookkeeping -------------------------------------------------------

    def op(self, name, fn, *a, **kw):
        """Run one engine operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:
            self.failed += 1
            print(f"perfbench: {name} failed", file=sys.stderr)
            traceback.print_exc()
            return None

    def log(self, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - T_START:7.1f}s {what}", file=sys.stderr)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"perfbench: mismatch: {what}", file=sys.stderr)

    # --- set-up ------------------------------------------------------------

    def setup(self) -> float:
        """Spark session start plus the median of SETUP_REPS openings of
        the data the workload starts from: a count of the base corpus
        parquet (ingest) or an ``api.search`` of a zero-hit question on the
        cached index, which reads its marker and probes its lexicon (query).
        Set-up questions come from the warm-up stream, disjoint from every
        timed one."""
        from perfbench.questions import QuestionStream
        from statschat_ke_spark.api import search

        self.warm = QuestionStream(self.args.seed, stream=1)
        reps, self.warm_used = [], []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if self.wl.build_base:
                self.spark.read.parquet(self.cache.corpus(self.tier, "base")).count()
            else:
                [q] = [q for k, q in self.warm.cycle() if k == "zero_hit"]
                res = self.op("search", search, self.spark, self.cache.index(self.tier), q)
                self.check(res is not None and not res["references"], f"zero-hit {q!r}")
                self.warm_used.append(q)
            reps.append(time.perf_counter() - t0)
        return self.session_s + _median(reps)

    def warm_up(self) -> None:
        """Untimed: build a small index of the pool's reserved docs, so the
        timed writes find the Python workers started and the JVM code paths
        loaded. Traced runs, which also time a delete and a batch, run one
        of each on it too. (Searches are warmed up on the served index
        itself, in ``serve``.)"""
        import numpy as np

        from statschat_ke_spark.index.build import build_index, delete_docs
        from statschat_ke_spark.index.query import topk_batch

        c, t = self.corpus, self.tier
        end = t.n_base + t.n_pool
        built = np.arange(end - WARM_DOCS, end)
        alive = np.zeros(len(c.en), dtype=bool)
        path = os.path.join(self.cache.run_dir, "warm-index")

        res = self.op("build_index", build_index, self.spark, self._pool_range(built), path)
        alive[built] = c.en[built]
        self.check(res is not None and res.n_docs == int(alive.sum()), "warm-up build n_docs")
        if self.tracer.enabled:
            victims = np.flatnonzero(alive[built])[:WARM_DELETE_URLS] + built[0]
            res = self.op("delete_docs", delete_docs, self.spark, path,
                          [str(u) for u in c.url[victims]])
            self.check(res is not None and res.n_deleted == len(victims), "warm-up deleted count")
            qs = dict(enumerate(q for _, q in self.warm.cycle()))
            df = self.op("topk_batch", topk_batch, self.spark, path, qs)
            if df is not None:
                self.op("collect", df.collect)

    # --- ingest operations -------------------------------------------------

    def _pool_where(self, cond):
        """The pool docs matching ``cond``, in the corpus schema."""
        return (
            self.spark.read.parquet(self.cache.corpus(self.tier, "pool"))
            .filter(cond)
            .drop("id")
        )

    def _pool_range(self, ids):
        """The pool docs of the consecutive corpus ids ``ids``."""
        from pyspark.sql import functions as F

        return self._pool_where(F.col("id").between(int(ids[0]), int(ids[-1])))

    def _delta(self):
        """DELTA_DOCS pool docs as runs of DELTA_CHUNK ids, so the filter
        holds a few dozen literals rather than thousands."""
        import numpy as np
        from pyspark.sql import functions as F

        t = self.tier
        first = t.n_base // DELTA_CHUNK
        last = (t.n_base + t.n_pool - WARM_DOCS) // DELTA_CHUNK
        chunks = sorted(int(i) for i in self.rng.choice(
            range(first, last), size=DELTA_DOCS // DELTA_CHUNK, replace=False))
        ids = (np.array(chunks)[:, None] * DELTA_CHUNK + np.arange(DELTA_CHUNK)).ravel()
        chunk_of = F.floor(F.col("id") / DELTA_CHUNK).cast("long")
        return ids, self._pool_where(chunk_of.isin(chunks))

    def _victims(self):
        import numpy as np

        en_base = np.flatnonzero(self.corpus.en[: self.tier.n_base])
        rows = self.rng.choice(en_base, size=DELETE_URLS, replace=False)
        return rows, [str(u) for u in self.corpus.url[rows]]

    def writes(self, base_index: str | None):
        """Build, append and delete. With ``base_index`` None the tier's base
        corpus is built; otherwise the delta is built as a fresh index and
        the append (and, traced, the delete) go to a hard-linked copy of
        ``base_index``. Returns (index written to, alive-row mask)."""
        import numpy as np

        from statschat_ke_spark.index.build import (
            build_index,
            delete_docs,
            merge_index,
            update_index,
        )

        c, t, tr = self.corpus, self.tier, self.tracer
        delta_ids, delta_df = self._delta()
        del_rows, del_urls = self._victims()
        in_base = np.arange(len(c.en)) < t.n_base
        in_delta = np.zeros(len(c.en), dtype=bool)
        in_delta[delta_ids] = True
        target = os.path.join(self.cache.run_dir, "index")

        if base_index is None:
            built, source, expect = target, self.cache.corpus(t, "base"), c.en & in_base
        else:
            built = os.path.join(self.cache.run_dir, "delta-index")
            source, expect = delta_df, c.en & in_delta
        with tr.span("index.build.build_index"):
            t0 = time.perf_counter()
            res = self.op("build_index", build_index, self.spark, source, built)
            self.metrics["build_s"] = time.perf_counter() - t0
        self.log("built")
        self.check(res is not None and res.n_docs == int(expect.sum()), "build n_docs")
        if tr.enabled:
            with open(os.path.join(built, "stats.json")) as f:
                stats = json.load(f)
            self.layer["build.n_postings"] = float(stats["n_postings"])
            self.layer["build.skew_ratio"] = float(stats["skew_ratio"])
            # phase B alone, re-run on the staged chunks build_index left
            with tr.span("index.build.merge_index"):
                self.op("merge_index", merge_index, self.spark, built)

        if base_index is not None:
            shutil.copytree(base_index, target, copy_function=os.link)
        alive = c.en & (in_base | in_delta)
        with tr.span("index.build.update_index"):
            t0 = time.perf_counter()
            res = self.op("update_index", update_index, self.spark, delta_df, target)
            self.metrics["append_s"] = time.perf_counter() - t0
        self.check(res is not None and res.n_docs == int(alive.sum()), "append n_docs")
        # Deletes are timed on traced runs only. The ingest workload always
        # deletes, so that its questions read tombstones.
        if base_index is None or tr.enabled:
            with tr.span("index.build.delete_docs"):
                t0 = time.perf_counter()
                res = self.op("delete_docs", delete_docs, self.spark, target, del_urls)
                self.layer["delete.wall_s"] = time.perf_counter() - t0
            self.check(res is not None and res.n_deleted == len(del_urls), "deleted count")
            alive[del_rows] = False
        self.log("appended and deleted")

        from perfbench.layers import dir_bytes

        text = int(c.text_bytes[c.en & (in_base | in_delta)].sum())
        self.metrics["index_bytes_per_text_byte"] = dir_bytes(target) / text
        if tr.enabled:
            for sub in ("postings", "staged", "docs", "lexicon"):
                self.layer[f"index.{sub}_bytes"] = float(
                    dir_bytes(os.path.join(target, sub)))
        return target, alive

    # --- serving -----------------------------------------------------------

    def serve(self, index: str, alive) -> None:
        """Closed-loop ``api.search`` for ``--seconds`` (whole cycles of the
        question mix), then, traced, one 16-question ``topk_batch``."""
        from perfbench.checker import Scorer
        from perfbench.questions import QuestionStream
        from statschat_ke_spark.api import search
        from statschat_ke_spark.index.query import topk

        scorer, tr = Scorer(self.corpus, alive), self.tracer
        # untimed: the first search of an index also loads its lexicon and
        # starts the query's Python workers
        [q] = [q for k, q in self.warm.cycle() if k == WARM_KIND]
        res = self.op("search", search, self.spark, index, q)
        self._check_search(res, scorer, q, f"warm-up {WARM_KIND}")
        self.warm_used.append(q)
        self.log("search warmed up")
        stream = QuestionStream(self.args.seed, stream=2)
        stream.exclude(self.warm.seen)
        lat, answers = [], {}
        deadline = time.perf_counter() + self.args.seconds
        while time.perf_counter() < deadline and len(answers) < MAX_QUESTIONS:
            for kind, q in stream.cycle():
                rid = f"q{len(answers)}"
                with tr.span("api.search", rid=rid):
                    t0 = time.perf_counter()
                    res = self.op("search", search, self.spark, index, q)
                    lat.append(time.perf_counter() - t0)
                self.log(f"{rid} {kind} {lat[-1]:.3f}s")
                got = self._check_search(res, scorer, q, kind)
                answers[q] = got
                self.results.append(("search", q, got))
                if tr.enabled:  # the same question straight through index.query
                    with tr.span("index.query.topk", rid=rid):
                        df = self.op("topk", topk, self.spark, index, q, with_url=True)
                    with tr.span("index.query.collect", rid=rid):
                        rows = self.op("collect", df.collect) if df is not None else None
                    if rows is not None:
                        self._check_rows(rows, scorer.topk(q, 10), f"topk {q!r}")
        self.metrics["search_p50_s"] = _median(lat)
        self.log(f"{len(lat)} questions served")

        self.questions = list(answers)
        if tr.enabled:
            self._batch(index, scorer, stream, answers)

    def _batch(self, index, scorer, stream, answers) -> None:
        """One 16-question ``topk_batch``: the searched questions topped up
        with fresh ones."""
        from statschat_ke_spark.index.query import topk_batch

        qs = self.questions[:BATCH_QUESTIONS]
        qs += [q for _, q in stream.take(BATCH_QUESTIONS - len(qs))]
        with self.tracer.span("index.query.topk_batch", rid="b0"):
            t0 = time.perf_counter()
            df = self.op("topk_batch", topk_batch, self.spark, index, dict(enumerate(qs)))
            rows = self.op("collect", df.collect) if df is not None else None
            self.layer["batch.wall_s"] = time.perf_counter() - t0
        by_q: dict[int, list] = {}
        for r in rows or []:
            by_q.setdefault(int(r["query_id"]), []).append(r)
        for i, q in enumerate(qs if rows is not None else []):
            got = sorted(by_q.get(i, []), key=lambda r: r["rank"])
            self._check_rows(got, scorer.topk(q, 10), f"batch {q!r}")
            ids = [int(r["doc_id"]) for r in got]
            self.results.append(("batch", q, ids))
            if q in answers:
                self.check(ids[:SEARCH_TOP] == answers[q], f"batch vs search {q!r}")
        self.log("batch served")
        self.batch_questions = qs

    def _check_search(self, res, scorer, q: str, what: str) -> list[int]:
        """Check an ``api.search`` reply against the exact top 5; returns
        its doc ids in rank order."""
        want = scorer.topk(q, 10)[:SEARCH_TOP]
        refs = sorted(res["references"], key=lambda r: r["doc_num"]) if res else []
        got = [int(r["doc_id"]) for r in refs]
        if res is not None:
            self.check(
                got == [d for d, _ in want]
                and all(abs(r["score"] - round(s, 2)) <= 0.005 + 1e-9
                        for r, (_, s) in zip(refs, want)),
                f"search {what} {q!r}",
            )
        return got

    def _check_rows(self, rows, want, what: str) -> None:
        self.check(
            [int(r["doc_id"]) for r in rows] == [d for d, _ in want]
            and all(abs(float(r["score"]) - s) <= 1e-9 for r, (_, s) in zip(rows, want)),
            what,
        )

    # --- the run -----------------------------------------------------------

    def run(self) -> dict:
        import numpy as np

        from perfbench.tracing import Tracer
        from statschat_ke_spark.benchutil import subtree_cpu_seconds

        self.metrics["setup_s"] = self.setup()
        self.log("set-up done")
        self.tracer = Tracer(self.spark, enabled=bool(self.args.trace))
        self.warm_up()
        self.log("warmed up")
        restore = self._trace_api() if self.tracer.enabled else None
        cpu0, t0 = subtree_cpu_seconds(), time.perf_counter()
        try:
            if self.wl.build_base:
                index, alive = self.writes(None)
                self.serve(index, alive)
            else:
                c = self.corpus
                index = self.cache.index(self.tier)
                self.serve(index, c.en & (np.arange(len(c.en)) < self.tier.n_base))
                self.writes(index)
        finally:
            if restore:
                restore()
        t1 = time.perf_counter()
        if self.tracer.enabled:
            self._layer_metrics(index, t0, t1, subtree_cpu_seconds() - cpu0)
            self.tracer.dump(os.path.join(
                self.cache.dir, "traces",
                f"{self.args.workload}-seed{self.args.seed}.json"))
        self.log("workload done")
        sha = hashlib.sha256(json.dumps(self.results).encode()).hexdigest()
        print(f"result_sha256 {sha}")
        return self.report()

    def _trace_api(self):
        """Wrap the ``topk`` that ``api.search`` calls in a span, so each
        question's probe (the ``topk()`` call) is timed inside its search."""
        import statschat_ke_spark.api as api

        orig, tracer = api.topk, self.tracer

        def topk(*a, **kw):
            with tracer.span("index.query.topk"):
                return orig(*a, **kw)

        api.topk = topk

        def restore():
            api.topk = orig

        return restore

    def _layer_metrics(self, index, t0, t1, cpu_s) -> None:
        from perfbench.checker import TOKEN_RE
        from perfbench.layers import TermBlocks, peak_rss_mb, tokenize_ns_per_token

        tr, m = self.tracer, self.layer
        build = tr.named("index.build.build_index")[0]
        merge = tr.named("index.build.merge_index")[0]
        m["build.merge_s"] = tr.wall(merge)
        m["build.stage_s"] = tr.wall(build) - tr.wall(merge)
        m["build.spark_jobs"] = float(build["spark_jobs"])
        m["build.spark_tasks"] = float(build["spark_tasks"])
        m["build.failed_tasks"] = float(build["failed_tasks"])
        m["build.cpu_java_s"] = build["cpu_java_s"]
        m["build.cpu_python_s"] = build["cpu_python_s"]
        app = tr.named("index.build.update_index")[0]
        m["append.spark_jobs"] = float(app["spark_jobs"])
        m["append.cpu_s"] = app["cpu_java_s"] + app["cpu_python_s"]
        [delete] = tr.named("index.build.delete_docs")
        m["delete.spark_jobs"] = float(delete["spark_jobs"])

        with tr.span("functions.tokenize"):
            m["tokenize.ns_per_token"] = tokenize_ns_per_token(
                self.cache.corpus(self.tier, "base"))

        def terms(q):
            return list(dict.fromkeys(TOKEN_RE.findall(q.lower())))

        all_terms = {t for q in self.questions + self.batch_questions for t in terms(q)}
        with tr.span("index.codec"):
            blocks = TermBlocks(index, all_terms)
        self.check(blocks.roundtrip_ok, "codec round trip")
        m["codec.encode_ns_per_posting"] = blocks.encode_ns
        m["codec.decode_ns_per_posting"] = blocks.decode_ns
        m["codec.bytes_per_posting"] = blocks.codec_bytes_per_posting

        searches = tr.named("api.search")
        inner = {s["rid"]: s for s in tr.spans if s["name"] == "index.query.topk"
                 and s["parent"] is not None and tr.spans[s["parent"]]["name"] == "api.search"}
        direct = {s["rid"]: s for s in tr.named("index.query.collect")}
        m["query.probe_s"] = _median([tr.wall(s) for s in inner.values()])
        m["query.exec_s"] = _median([tr.wall(s) for s in direct.values()])
        m["api.post_s"] = _median([
            tr.wall(s) - tr.wall(inner[s["rid"]]) - tr.wall(direct[s["rid"]])
            for s in searches if s["rid"] in inner and s["rid"] in direct])
        m["query.spark_jobs_per_q"] = _mean([s["spark_jobs"] for s in searches])
        m["query.spark_tasks_per_q"] = _mean([s["spark_tasks"] for s in searches])
        m["query.cpu_python_s_per_q"] = _median([s["cpu_python_s"] for s in searches])
        m["query.cpu_java_s_per_q"] = _median([s["cpu_java_s"] for s in searches])
        m["query.postings_per_q"] = _mean([blocks.postings_of(terms(q)) for q in self.questions])
        m["query.blocks_per_q"] = _mean([blocks.blocks_of(terms(q)) for q in self.questions])
        m["query.posting_bytes_per_q"] = _mean(
            [blocks.bytes_of(terms(q)) for q in self.questions])
        seen = {t for q in self.warm_used for t in terms(q)}
        misses = []
        for q in self.questions:
            ts = terms(q)
            misses.append(len([t for t in ts if t not in seen]))
            seen.update(ts)
        m["query.probe_miss_terms_per_q"] = _mean(misses)

        [batch] = tr.named("index.query.topk_batch")
        m["batch.spark_tasks"] = float(batch["spark_tasks"])
        m["batch.cpu_python_s"] = batch["cpu_python_s"]
        m["batch.postings"] = float(blocks.postings_of(
            {t for q in self.batch_questions for t in terms(q)}))

        m["proc.peak_rss_mb"] = peak_rss_mb()
        m["proc.cpu_concurrency"] = cpu_s / (t1 - t0)
        m["trace.coverage_frac"] = tr.covered(t0, t1) / (t1 - t0)
        m["trace.overhead_frac"] = tr.overhead_s / (t1 - t0)

    def report(self) -> dict:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        if self.args.trace:
            names, values = spec["per_layer"], self.layer
        else:
            names, values = spec["end_to_end"], self.metrics
        metrics = {}
        for name, unit in ((m["name"], m["unit"]) for m in names):
            if name not in values:
                self.check(False, f"metric {name} not measured")
            metrics[name] = {"value": float(values.get(name, 0.0)), "unit": unit}
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import statschat_ke_spark.api  # noqa: F401
        import statschat_ke_spark.index.build  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench.cache import Cache, stop_jvm

    cache = Cache(ROOT, TIERS.values())
    run = Run(args, cache)
    try:
        run.start()
        result = run.run()
    finally:
        if run.spark is not None:
            stop_jvm(run.spark)
        cache.close()
        run.log("stopped")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
