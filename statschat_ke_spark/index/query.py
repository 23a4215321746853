"""BM25 top-k query evaluation over the partitioned inverted index.

Replaces the reference's FAISS ``similarity_search_with_score``
(/root/reference/statschat/generative/cloud_llm.py:126-160) with the
inverted-index analog of an index-nested-loop join (SURVEY.md §2.3 J5):

1. tokenize the query driver-side (tiny) → distinct term_ids
2. lexicon lookup → idf: ONE narrow job per query that misses the probe
   memo — a term_id-pushed-down scan of the snapshot handle's lexicon,
   collected to the driver (≤ |q| × n_segments rows) and summed per term
   there. The handle (``_snapshot``) opens each table once per commit and
   is shared by every query against that commit.
3. postings scan of the handle's postings filtered by term_id: the
   ``term_id IN (...)`` predicate is pushed into the parquet reader, which
   skips every row group whose term_id min/max admits none of the terms.
   Postings are written term_id-sorted within each file, in
   ``build.ROW_GROUP_BYTES`` row groups for a segment of at least
   ``build.ROW_GROUP_MIN_DOCS`` docs, so a question reads the row groups of
   its own terms, not whole files (every file spans the whole term_id hash
   range); a smaller segment's files are one row group each and are read
   whole. Rows inside a kept row group are filtered after the read
4. scoring: ONE plan (``_scored``) for topk and topk_batch — group blocks
   by (segment, doc-range slice group, query bucket); per group a vectorized
   block-max WAND skips blocks whose upper bound can't enter the top-k and
   emits each query's local top-k; topk then takes the global top-k
   (TakeOrderedAndProject), topk_batch a ranked window per query. Exact
   because a doc's postings for every term share its slice
   (slice = f(doc_id)).
5. tie-break: score desc, doc_id ascending in unsigned order — identical to
   the numpy oracle (index/oracle.py).

Thresholding (reference P5, cloud_llm.py:153) and the post-retrieval ports
(dedup/decay/highlight) operate on the ≤k collected rows (operators/postproc).
"""

from __future__ import annotations

import json
import math
import os
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from statschat_ke_spark.functions.tokenize import term_ids, tokenize
from statschat_ke_spark.index.codec import BLOCK, decode_doc_ids, decode_tfs, vbyte_decode
from statschat_ke_spark.operators.postproc import doc_u_asc

K1 = 1.2
B = 0.75

# Per-task cap on a slice group's shared decoded-block memo (docs_u +
# scores ≈ 16 B/posting). Sized so n_concurrent_tasks × cap fits a typical
# executor: 32 tasks × 256 MB = 8 GB. Past the cap blocks decode per use.
DECODE_CACHE_BYTES = 256 * 2**20

SCORED_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def read_commit(index_dir: str) -> dict:
    """The index's ``_SUCCESS.json`` record as written ({} when absent or
    torn). The record is the index's only snapshot state: ``format``,
    ``version`` (a uuid per commit), ``n_docs``, ``avgdl``, ``segments``,
    ``covered_chunks`` and ``tombstone_files``; its atomic rename (every
    writer's ``_commit``) is the only commit point. Writers read it raw only
    to keep the replaced record's segments on disk and to carry an index of
    another format's tombstones into its rebuild; everything else goes
    through check_index_format."""
    try:
        with open(os.path.join(index_dir, "_SUCCESS.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def check_index_format(index_dir: str, marker: dict | None = None) -> dict:
    """Fail fast, with a clear message, before reading an index that is not
    a committed snapshot of the format this engine reads. Returns the commit
    record so callers get their whole snapshot (format, segment list,
    scoring globals, tombstones) from ONE read.

    An absent or torn record (no ``version``) means the build never
    committed (crash before its first commit) — tables may be partially
    written. A format MISMATCH means the on-disk layout is not what this
    engine assumes: rebuild."""
    from statschat_ke_spark.index.build import INDEX_FORMAT

    if marker is None:
        marker = read_commit(index_dir)
    if "version" not in marker:
        raise RuntimeError(
            f"index at {index_dir!r} has no _SUCCESS.json commit record "
            "(absent or torn) — the build was interrupted before its first "
            "commit; finish it (rerun build_index, or merge_index) before "
            "querying"
        )
    fmt = marker.get("format")
    if fmt != INDEX_FORMAT:
        raise RuntimeError(
            f"index at {index_dir!r} is format {fmt!r} but this engine reads "
            f"format {INDEX_FORMAT} — rebuild the index (build_index) or "
            "query with the matching engine version"
        )
    return marker


def _index_version(index_dir: str, marker: dict | None = None) -> str:
    if marker is None:
        marker = read_commit(index_dir)
    return str(marker.get("version", "<absent>"))


def _prune_to_snapshot(df: DataFrame, marker: dict) -> DataFrame:
    """Restrict a segmented table scan (postings/lexicon/docs, partitioned by
    ``seg``) to the segments the commit record lists.

    A frame listed from a whole table dir holds every ``seg=N`` on disk, so
    WITHOUT this filter a reader racing a concurrent segment append would
    pick up a fully written ``seg=N`` whose commit (the _SUCCESS.json rename)
    hasn't landed — scoring uncommitted docs under the old global stats.
    ``seg`` is a partition column, so the isin() prunes at planning time (no
    extra job, no data read from uncommitted dirs) — the Iceberg
    snapshot-read analog. Snapshot handles list only their segments' dirs
    (``_read_snapshot_table``) and keep the filter in the plan as well."""
    return df.filter(F.col("seg").isin([int(s) for s in marker["segments"]]))


def _read_snapshot_table(
    spark: SparkSession, index_dir: str, table: str, marker: dict
) -> DataFrame:
    """``table`` of the commit ``marker``, listed from that commit's own
    ``seg=N`` dirs only (``basePath`` keeps ``seg`` a partition column;
    delete-delta segments hold only a lexicon). Listing the whole table dir
    would also list the dirs a concurrent ``_commit`` removes — segments
    superseded one commit ago, orphans of crashed writers — and a dir that
    vanishes mid-listing fails the open."""
    from statschat_ke_spark.index.build import DELETE_SEG_BASE

    root = os.path.join(index_dir, table)
    return spark.read.option("basePath", root).parquet(
        *(
            os.path.join(root, f"seg={s}")
            for s in marker["segments"]
            if table == "lexicon" or s < DELETE_SEG_BASE
        )
    )


class _Snapshot:
    """Reader handle for ONE committed snapshot: its three tables opened once
    (each open lists the snapshot's segment dirs of the table and infers
    the parquet schema — a Spark job apiece), the term_id → df probe memo
    (0 = probed and absent; bounded by the distinct QUERIED terms, not the
    lexicon) and the lazily loaded tombstone broadcast. A snapshot is immutable per commit uuid, so every
    query against that commit shares the handle — the engine analog of the
    reference's ``lru_cache`` on make_query (cloud_llm.py:235)."""

    def __init__(self, spark: SparkSession, index_dir: str, marker: dict):
        self.index_dir = index_dir
        self.marker = marker
        self.lexicon, self.postings, self.docs = (
            _prune_to_snapshot(
                _read_snapshot_table(spark, index_dir, t, marker), marker
            )
            for t in ("lexicon", "postings", "docs")
        )
        self.dfs: dict[int, int] = {}
        self._sc = spark.sparkContext
        self._dead_lock = threading.Lock()
        self._dead_loaded = False
        self._dead_bc = None

    def dead_bc(self):
        """Broadcast of the snapshot's tombstoned doc_ids (sorted uint64), or
        None when the snapshot has no deletes. Files are driver-read with
        pyarrow (commit metadata, like lineage) — 8 bytes per lifetime-deleted
        doc — and shipped to executors once per handle."""
        with self._dead_lock:
            if not self._dead_loaded:
                files = self.marker.get("tombstone_files") or []
                if files:
                    import pyarrow.parquet as pq

                    arrs = [
                        pq.read_table(
                            os.path.join(self.index_dir, "tombstones", f),
                            columns=["doc_id"],
                        )
                        .column("doc_id")
                        .to_numpy()
                        .astype(np.int64)
                        for f in files
                    ]
                    dead = np.unique(np.concatenate(arrs).view(np.uint64))
                    self._dead_bc = self._sc.broadcast(dead)  # sorted unsigned
                self._dead_loaded = True
            return self._dead_bc

    def close(self) -> None:
        """Release the tombstone broadcast's block-manager storage NOW — a
        long-lived ingest+serve driver opens a handle per commit, and
        unreferenced broadcasts otherwise linger until context teardown
        (non-blocking; in-flight tasks holding .value are unaffected)."""
        if self._dead_bc is not None:
            try:
                self._dead_bc.unpersist(blocking=False)
            except Exception:
                pass  # stopped context / already destroyed


# Open handles, keyed by (index_dir, commit version, id(SparkContext)). The
# version is the uuid in _SUCCESS.json — unique per commit — NOT mtime:
# back-to-back segment appends can land within one mtime granule on
# coarse-timestamp filesystems and would leave a stale handle in use. The
# handle holds its SparkContext, so that id cannot be reused while the key
# lives. Lookup, eviction and insert run under one lock, so concurrent
# queries on a new commit open it once.
_SNAPSHOTS: dict[tuple[str, str, int], _Snapshot] = {}
_SNAPSHOT_LOCK = threading.Lock()
_MAX_SNAPSHOTS = 8


def _snapshot(spark: SparkSession, index_dir: str, marker: dict) -> _Snapshot:
    """The reader handle for the commit ``marker`` (the caller's one record
    read, so everything the query reads describes that commit)."""
    key = (index_dir, _index_version(index_dir, marker), id(spark.sparkContext))
    with _SNAPSHOT_LOCK:
        snap = _SNAPSHOTS.get(key)
        if snap is None:
            # Drop superseded handles of THIS index_dir (a long-lived driver
            # running ingest_stream commits a new version per append, so
            # without eviction the cache grows one dead handle per append);
            # keep other dirs' live handles, with a global cap as a backstop.
            stale = [k for k in _SNAPSHOTS if k[0] == index_dir]
            if len(_SNAPSHOTS) - len(stale) >= _MAX_SNAPSHOTS:
                stale = list(_SNAPSHOTS)
            for k in stale:
                old = _SNAPSHOTS.pop(k, None)
                if old is not None:
                    old.close()
            snap = _SNAPSHOTS[key] = _Snapshot(spark, index_dir, marker)
    return snap


def _close_snapshots() -> None:
    """Drop every open handle; the next query re-opens its snapshot."""
    with _SNAPSHOT_LOCK:
        while _SNAPSHOTS:
            _SNAPSHOTS.popitem()[1].close()


def _mask_alive(docs_u: np.ndarray, dead: np.ndarray | None):
    """Boolean keep-mask over unsigned doc ids vs the sorted tombstone set,
    or None when nothing is masked (fast path)."""
    if dead is None or not len(docs_u):
        return None
    pos = np.searchsorted(dead, docs_u)
    hit = (pos < len(dead)) & (dead[np.minimum(pos, len(dead) - 1)] == docs_u)
    if not hit.any():
        return None
    return ~hit


def _probe_idf(snap: _Snapshot, ids: list[int]) -> dict[int, dict]:
    """Driver-side lexicon probe: term_id → {idf, df} for the ``ids`` present
    in the snapshot, in ``ids`` order, against the handle's commit (the same
    one its postings scan is pruned to).

    The lexicon is segmented (one subdir per incremental segment); global df
    is the SUM over segments. Terms not yet in the handle's memo are probed
    in ONE narrow job — a term_id-pushed-down scan of the cached lexicon
    returning ≤ |ids| × n_segments rows — and summed here."""
    missing = [i for i in ids if i not in snap.dfs]
    if missing:
        # Collect FIRST, commit to the memo only on success: pre-seeding
        # zeros before the Spark action would, on a transient probe failure,
        # leave df=0 cached for this snapshot and silently drop those terms
        # from every subsequent query's scoring.
        probed: dict[int, int] = {}
        for r in (
            snap.lexicon.filter(F.col("term_id").isin(missing))
            .select("term_id", "df")
            .collect()
        ):
            probed[int(r.term_id)] = probed.get(int(r.term_id), 0) + int(r.df)
        for i in missing:
            snap.dfs[i] = probed.get(i, 0)
    n_docs = int(snap.marker["n_docs"])
    out = {}
    for tid in ids:
        df = snap.dfs[tid]
        if df > 0:
            idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
            out[tid] = {"idf": idf, "df": df}
    return out


def _postings(snap: _Snapshot, ids: list[int], n_groups: int) -> DataFrame:
    """The snapshot's posting blocks for ``ids``, tagged with their WAND
    slice group ``wg``. The term_id filter is pushed into the parquet scan,
    which reads only the row groups whose term_id range can hold one of
    ``ids``: ~``build.ROW_GROUP_BYTES`` each in a segment of at least
    ``build.ROW_GROUP_MIN_DOCS`` docs, one per file in a smaller segment or
    an index written before the row-group size was set. Doc ranges of distinct slices are disjoint, so ANY slice
    partition keeps per-group local top-k + a global top-k exact."""
    return (
        snap.postings.filter(F.col("term_id").isin(ids))
        .select("seg", "term_id", "slice", "block_id", "n", "doc_ids", "tfs",
                "dls", "block_max_tf", "block_min_dl", "first_doc", "last_doc")
        .withColumn("wg", F.pmod(F.col("slice"), F.lit(n_groups)))
    )


def wand_group_count(total_df: int, parallelism: int) -> int:
    """Adaptive slice-coarsening group count: every WAND group pays ~k
    decoded blocks before its local θ converges, so 64 fine slices × k
    forfeit most pruning when posting volume is modest. Estimated block
    count (Σdf from the lexicon probe — no extra job) sizes the group
    count: few groups (global-ish θ, max pruning) for small volume, up to
    4×parallelism for big scans. Single source of truth for the grouping
    of the shared plan (``_scored``)."""
    return int(max(1, min(4 * parallelism, (total_df // BLOCK) // 512 + 1)))


def _scored(
    spark: SparkSession,
    snap: _Snapshot,
    queries: dict[int, str],
    k: int,
    *,
    n_qb: int | None = None,
    n_groups: int | None = None,
) -> DataFrame:
    """The one WAND scoring plan: every query's LOCAL top-k per (segment,
    slice group, query bucket) as (query_id, doc_id, score) rows, all read
    through the one snapshot handle ``snap``. Callers rank the union globally
    (local per-partition top-k, then one global merge — the REPOSE shape);
    the result is exact because slice groups are doc-disjoint.

    Postings are scanned once with the UNION of all query term_ids pushed
    down; each group runs WAND once per query that has a term there."""
    # ONE lexicon probe for the union of every query's terms
    ids_by_q = {qid: term_ids(tokenize(qtext)) for qid, qtext in queries.items()}
    union_ids = sorted({t for ids in ids_by_q.values() for t in ids})
    lex = _probe_idf(snap, union_ids)
    if not lex:
        # an RDD with no partition runs no task; a local list would start a
        # Python stage
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), SCORED_SCHEMA)
    idf_by_q = {
        qid: {t: lex[t]["idf"] for t in ids if t in lex}
        for qid, ids in ids_by_q.items()
    }

    # Adaptive coarsening (see wand_group_count): group count sized from the
    # union Σdf so per-group θ converges with little decode overhead.
    # ``n_groups`` pins the count explicitly — the adaptive default couples
    # the JOB SHAPE to defaultParallelism (more groups = more per-group θ
    # warm-up decode); pinning it runs the identical job at any parallelism,
    # and the tests use it to check scores are invariant to the grouping.
    total_df = sum(v["df"] for v in lex.values())
    par = spark.sparkContext.defaultParallelism
    if n_groups is None:
        n_groups = wand_group_count(total_df, par)
    else:
        n_groups = int(max(1, n_groups))
    # Query-dimension parallelism: slice groups alone bound the task count
    # at n_seg * n_groups, so a 10^4-question golden set would run its WAND
    # invocations sequentially inside each group. Split queries into n_qb
    # buckets and replicate each postings row ONLY to buckets whose queries
    # reference its term (broadcast join on a (term_id, qb) relation of Σ|q|
    # rows): per-term duplication is min(n_qb, #queries containing it), and
    # hot shared terms — the expensive rows — are exactly the ones worth
    # replicating. n_qb is sized so seg*wg*qb tasks roughly fill the cluster
    # and is 1 for a single query (no join, no extra shuffle bytes).
    # ``n_qb`` may be forced by the caller (rank-identity tests exercise
    # bucket counts > 1 regardless of parallelism).
    if n_qb is None:
        n_qb = int(max(1, min(len(idf_by_q), -(-par // n_groups))))
    else:
        n_qb = int(max(1, min(len(idf_by_q), n_qb)))

    idf_all = {t: v["idf"] for t, v in lex.items()}
    grouped = _postings(snap, sorted(lex), n_groups)
    if n_qb > 1:
        import pyarrow as pa

        terms, qbs = zip(
            *sorted(
                {
                    (t, qid % n_qb)
                    for qid, ids in ids_by_q.items()
                    for t in ids
                    if t in lex
                }
            )
        )
        # an Arrow table is parallelized by the JVM: no Python stage
        term_buckets = spark.createDataFrame(
            pa.table(
                {"term_id": pa.array(terms, pa.int64()), "qb": pa.array(qbs, pa.int32())}
            )
        )
        grouped = grouped.join(F.broadcast(term_buckets), "term_id")
    else:
        grouped = grouped.withColumn("qb", F.lit(0))
    return grouped.groupBy("seg", "wg", "qb").applyInPandas(
        _wand_groups(
            idf_by_q, idf_all, float(snap.marker["avgdl"]), k, snap.dead_bc(), n_qb
        ),
        SCORED_SCHEMA,
    )


def topk(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    k: int = 10,
    *,
    with_url: bool = False,
) -> DataFrame:
    """Top-k (doc_id, score[, url]) for a free-text query: the shared WAND
    plan (``_scored``) for one query, then a global top-k."""
    # ONE snapshot read serves the whole query: format check, segment
    # pruning, n_docs (idf) and avgdl all come from the same commit marker,
    # and every table is read through that commit's handle, so an append
    # landing mid-query can't mix one snapshot's postings with another's
    # scoring globals.
    snap = _snapshot(spark, index_dir, check_index_format(index_dir))
    ranked = (
        _scored(spark, snap, {0: query_text}, k)
        .orderBy(F.desc("score"), doc_u_asc())
        .limit(k)
        .select("doc_id", "score")
    )
    if with_url:
        # ≤k result rows: broadcast them as the build side of an inner join
        # against the big docs table (every result id exists in docs)
        ranked = (
            snap.docs.select("doc_id", "url")
            .join(F.broadcast(ranked), "doc_id", "inner")
            .select("doc_id", "score", "url")
            .orderBy(F.desc("score"), doc_u_asc())
        )
    return ranked


def topk_batch(
    spark: SparkSession,
    index_dir: str,
    queries: dict[int, str],
    k: int = 10,
    *,
    n_qb: int | None = None,
    n_groups: int | None = None,
) -> DataFrame:
    """Top-k for MANY queries in ONE job: (query_id, rank, doc_id, score).

    The distributed analog of the reference's sequential eval loop
    (evaluation.py:13-39 runs make_query per question): the shared WAND plan
    (``_scored``) scores every query in one postings scan; a ranked window
    per query yields the global top-k. Latency amortizes to ~one query's
    cost for a whole golden set; at 10^5 golden questions this is the only
    workable shape.
    """
    from pyspark.sql import Window as W

    # ONE snapshot read for the whole batch (see topk)
    snap = _snapshot(spark, index_dir, check_index_format(index_dir))
    scored = _scored(spark, snap, queries, k, n_qb=n_qb, n_groups=n_groups)
    w = W.partitionBy("query_id").orderBy(F.desc("score"), doc_u_asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    )


class _TermBlocks:
    """One query term's blocks within a slice: block-range metadata as numpy
    arrays (first/last doc in unsigned order, block-max score) plus lazy
    memoized decode+score of whole blocks — never per-doc Python.

    ``budget`` (SHARED across all of a group's terms): a mutable
    ``{"left": bytes}`` cap on total memoized decode output. ``_wand_groups``
    keeps every term's structure alive for the whole group, so without a cap
    peak task memory is the union of every query's decoded blocks (~16
    B/posting) instead of one query's. Once the budget is spent, further
    blocks are decoded per use but NOT retained — the hot blocks (touched
    first, by the highest-upper-bound intervals, and shared across queries)
    occupy the cache; cold-tail blocks cost a re-decode, never memory."""

    __slots__ = (
        "idf", "firsts_u", "lasts_u", "bms", "_raw", "_avgdl", "_cache", "_budget"
    )

    def __init__(self, idf: float, g: pd.DataFrame, avgdl: float, budget: dict):
        self.idf = idf
        # a group may span several slices; slices are doc-range-contiguous
        # (slice = top bits of doc_u), so (slice, block_id) order IS global
        # doc order for this term
        g = g.sort_values(["slice", "block_id"])
        self.firsts_u = g["first_doc"].to_numpy(dtype=np.int64).view(np.uint64)
        self.lasts_u = g["last_doc"].to_numpy(dtype=np.int64).view(np.uint64)
        # avgdl-free stored bounds → block-max score under the CURRENT
        # global avgdl: tfn is increasing in tf, decreasing in dl, so
        # tfn(max_tf, min_dl) dominates every doc in the block
        btf = g["block_max_tf"].to_numpy(dtype=np.float64)
        bdl = g["block_min_dl"].to_numpy(dtype=np.float64)
        self.bms = idf * btf * (K1 + 1.0) / (
            btf + K1 * (1.0 - B + B * bdl / avgdl)
        )
        self._raw = list(zip(g["doc_ids"].tolist(), g["tfs"].tolist(), g["dls"].tolist()))
        self._avgdl = avgdl
        self._cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._budget = budget

    def partials(self, j: int) -> tuple[np.ndarray, np.ndarray]:
        """(docs_u, bm25_partial) for block j — vectorized, decoded once."""
        hit = self._cache.get(j)
        if hit is not None:
            return hit
        raw_ids, raw_tfs, raw_dls = self._raw[j]
        docs_u = decode_doc_ids(raw_ids)
        tfs = decode_tfs(raw_tfs).astype(np.float64)
        dls = vbyte_decode(raw_dls).astype(np.float64)
        scores = self.idf * tfs * (K1 + 1.0) / (
            tfs + K1 * (1.0 - B + B * dls / self._avgdl)
        )
        nbytes = docs_u.nbytes + scores.nbytes
        if self._budget["left"] >= nbytes:
            self._budget["left"] -= nbytes
            self._cache[j] = (docs_u, scores)
        return docs_u, scores

    def covering_block(self, lo_u: np.uint64) -> int:
        """Index of the block whose range contains lo_u, or -1."""
        j = int(np.searchsorted(self.firsts_u, lo_u, side="right")) - 1
        if j >= 0 and self.lasts_u[j] >= lo_u:
            return j
        return -1


def _wand_groups(
    idf_by_q: dict[int, dict[int, float]],
    idf_all: dict[int, float],
    avgdl: float,
    k: int,
    dead_bc,
    n_qb: int,
):
    """Per-(segment, slice group, query bucket) block-max WAND, vectorized
    block-at-a-time: the grouped-map function of the shared plan. The
    group with key ``(seg, wg, qb)`` scores every query ``qid`` with
    ``qid % n_qb == qb`` and returns its local top-k rows
    (query_id, doc_id, score).

    Two-level evaluation (the SURVEY §2.9 design): level 1 works ONLY on
    block metadata — the union of all terms' block boundaries partitions the
    slice's doc range into intervals, and one vectorized sweep (add.at +
    cumsum) yields each interval's upper bound Σ_t blockmax_t. Level 2
    decodes and scores whole surviving blocks vectorized (BM25 over the full
    block in one numpy expression, memoized), gathers the interval's rows
    from each covering block by searchsorted, and aggregates per-doc scores
    with sort+reduceat. Intervals whose upper bound is strictly below the
    running top-k threshold are skipped without decoding — block-max WAND's
    pruning with no per-document Python anywhere.

    Exactness: θ only grows, so a skipped doc has true score ≤ UB < θ ≤ final
    θ and can never displace the kth result even via the doc_id tie-break
    (strict inequality); intervals with UB == θ are processed. Because the
    interval bounds come out of a float sweep+cumsum, every θ-comparison
    uses a conservative error margin (``eps`` below) so rounding can never
    turn that exact-arithmetic argument into a false skip — found the hard
    way by an exact-tie at rank k whose interval bound landed 1 ulp low.

    Bit-reproducibility: every emitted per-doc score is the sum of its
    per-term partials in CANONICAL order — the query's distinct-term
    appearance order (``idf_by_q[qid]`` insertion order, the same order the
    numpy oracle accumulates) as a strict left-to-right fold — NEVER the
    essential/non-essential split order (varies with θ and therefore with
    slice grouping) and never ``np.add.reduceat`` (numpy reduce associates
    pairwise, so even a correctly-ordered array sums to a different last
    ulp than the sequential fold). Float addition is not associative in
    the last ulp, so without a canonical order two near-tied docs could
    swap ranks when ``n_groups`` (or the cluster size driving the adaptive
    default) changes — caught by exactly such a swap at a pinned group
    count. The split still drives candidate generation and pruning; only
    the final summation is order-pinned.
    """

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        qb = int(key[2])
        dead = dead_bc.value if dead_bc is not None else None
        outs = []
        # Build each term's block structure ONCE per group and share it —
        # including its memoized decoded blocks — across every query in the
        # bucket (idf is per-term global, so the structure is query-
        # independent). Batch queries overlap heavily in vocabulary; a
        # per-query rebuild re-sliced the metadata frame and re-decoded the
        # same hot blocks B times per group (~6x of the batch stage's wall
        # at 64 queries). Per query, terms are picked from the cache in the
        # query's canonical term order — NOT Spark's nondeterministic
        # partition read order and NOT term_id order.
        #
        # The shared decode memo is budget-capped: structures live for the
        # WHOLE group, so an uncapped memo's peak would be the union of
        # every query's decoded blocks — an executor-OOM risk on large
        # slice groups. Hot cross-query blocks fill the cap first; past it,
        # blocks decode per use.
        budget = {"left": DECODE_CACHE_BYTES}
        tb_cache = {
            int(t): _TermBlocks(idf_all[int(t)], g, avgdl, budget)
            for t, g in pdf.groupby("term_id", sort=False)
        }
        for qid, idf_map in idf_by_q.items():
            if qid % n_qb != qb:
                continue
            terms = [tb_cache[t] for t in idf_map if t in tb_cache]
            if not terms:
                continue
            res = _wand_terms_topk(terms, k, dead)
            if len(res):
                res.insert(0, "query_id", np.int64(qid))
                outs.append(res)
        if not outs:
            return pd.DataFrame({"query_id": [], "doc_id": [], "score": []}).astype(
                {"query_id": "int64", "doc_id": "int64", "score": "float64"}
            )
        return pd.concat(outs, ignore_index=True)

    return run


def _wand_terms_topk(
    terms: list["_TermBlocks"], k: int, dead: "np.ndarray | None" = None
) -> pd.DataFrame:
    """Block-max WAND top-k over prebuilt per-term block structures.

    Takes prebuilt structures so ``_wand_groups`` can build each term's
    ``_TermBlocks`` ONCE per slice group and share it (with its memoized
    decoded blocks) across every query in the group that references the
    term. ``terms`` must be in the query's canonical term order.
    """
    if not terms or k <= 0:
        return pd.DataFrame(
            {"doc_id": np.empty(0, dtype=np.int64),
             "score": np.empty(0, dtype=np.float64)}
        )
    # ---- level 1: interval upper bounds from block metadata only ----
    all_firsts = np.concatenate([t.firsts_u for t in terms])
    all_lasts = np.concatenate([t.lasts_u for t in terms])
    all_bms = np.concatenate([t.bms for t in terms])
    open_end = all_lasts == np.uint64(0xFFFFFFFFFFFFFFFF)  # +1 would wrap
    bounds = np.unique(np.concatenate([all_firsts, all_lasts[~open_end] + np.uint64(1)]))
    ub = np.zeros(len(bounds), dtype=np.float64)
    np.add.at(ub, np.searchsorted(bounds, all_firsts), all_bms)
    closes = np.searchsorted(bounds, all_lasts[~open_end] + np.uint64(1))
    np.subtract.at(ub, closes[closes < len(bounds)], all_bms[~open_end][closes < len(bounds)])
    ub = np.cumsum(ub)
    # Float-safety margin for every θ-comparison below. The sweep +
    # cumsum accumulates rounding error ∝ len(bounds)·eps·max|prefix|,
    # which can push an interval's bound a few ulp BELOW the true
    # Σ block-max; a doc whose true score EQUALS θ must still be decoded
    # (it can win the kth slot via the unsigned-doc_id tie-break), so a
    # bound-vs-θ skip that is exact-arithmetic-safe needs headroom for
    # that error. False keeps only cost a few extra block decodes.
    eps = (len(bounds) + len(all_bms)) * np.finfo(np.float64).eps * (
        float(np.max(np.abs(ub))) if len(ub) else 0.0
    )

    # ---- level 2: decode + score surviving intervals, vectorized ----
    top_docs = np.empty(0, dtype=np.uint64)
    top_scores = np.empty(0, dtype=np.float64)
    theta = -math.inf

    # Process intervals in DESCENDING upper-bound order: θ reaches its
    # final value after ~k high-bound intervals, and the first interval
    # with ub < θ ends the loop (argsort is desc, so every later one is
    # smaller too). Exactness is order-independent — a skipped interval
    # has every true score ≤ ub < θ ≤ θ_final, strictly below the kth
    # result even under the doc_id tie-break.
    #
    # Inside a surviving interval, the WAND essential/non-essential
    # split: sort covering blocks by block-max ascending and cut off the
    # largest prefix N with Σ_N bm < θ — a doc containing ONLY N-terms
    # cannot reach θ, so candidates are gathered (and decoded) from the
    # essential terms alone. Non-essential blocks are decoded lazily,
    # only when a candidate's optimistic bound (essential partials +
    # Σ_N bm) still clears θ. A sparse term's block spanning a huge doc
    # range therefore no longer forces decoding every dense block it
    # overlaps — dense-term decode cost is ∝ candidates, not range.
    for i in np.argsort(-ub, kind="stable"):
        if ub[i] < theta - eps:
            break
        lo = bounds[i]
        hi = bounds[i + 1] if i + 1 < len(bounds) else None  # None = +inf
        # cov stays in canonical (terms-list) order; the essential/
        # non-essential split is computed over a bm-sorted VIEW so the
        # summation order below never depends on θ
        cov: list[tuple[_TermBlocks, int, float]] = []
        for t in terms:
            j = t.covering_block(lo)
            if j >= 0:
                cov.append((t, j, float(t.bms[j])))
        if not cov:
            continue
        if theta == -math.inf or len(cov) == 1:
            ness_i: set[int] = set()
            nbm = 0.0
        else:
            by_bm = sorted(range(len(cov)), key=lambda i: cov[i][2])
            acc = 0.0
            ness_i = set()
            for i_c in by_bm:
                bm_c = cov[i_c][2]
                if acc + bm_c < theta - eps:
                    acc += bm_c
                    ness_i.add(i_c)
                else:
                    break
            nbm = acc
        ess = [cov[i_c] for i_c in range(len(cov)) if i_c not in ness_i]
        cand_docs, cand_scores = [], []
        for t, j, _bm in ess:
            docs_u, scores = t.partials(j)
            a = int(np.searchsorted(docs_u, lo))
            b = int(np.searchsorted(docs_u, hi)) if hi is not None else len(docs_u)
            if a < b:
                cand_docs.append(docs_u[a:b])
                cand_scores.append(scores[a:b])
        if not cand_docs:
            continue
        d = np.concatenate(cand_docs)
        s_est = np.concatenate(cand_scores)
        if len(cand_docs) > 1:
            order = np.argsort(d, kind="stable")
            d, s_est = d[order], s_est[order]
            starts = np.flatnonzero(np.concatenate([[True], d[1:] != d[:-1]]))
            d = d[starts]
            # reduceat is an ESTIMATE only: numpy reduce uses pairwise
            # association, so its float result depends on how partials
            # happen to group — never emit it as a score
            s_est = np.add.reduceat(s_est, starts)
        # tombstoned docs leave candidacy HERE, before the θ filter and the
        # canonical scoring: θ is then built from live docs only, so a dead
        # doc can neither rank nor displace — exactly the index built
        # without it (block-max bounds still include dead docs, which only
        # makes pruning conservative, never wrong)
        alive = _mask_alive(d, dead)
        if alive is not None:
            d, s_est = d[alive], s_est[alive]
            if not len(d):
                continue
        if ness_i:
            # keep candidates whose optimistic bound clears θ. Margin:
            # eps (metadata-sweep error) + a reorder term — the estimate
            # sums in pairwise order while the final score sums
            # sequentially, and reorder error is ≤ n·ulp·Σ|partials|.
            opt = s_est + nbm
            keep = opt >= theta - eps - len(cov) * np.finfo(np.float64).eps * np.abs(opt)
            if not keep.any():
                continue
            d = d[keep]
        # canonical score: strict left-to-right fold over ALL covering
        # terms in terms-list (query appearance) order — the oracle's
        # accumulation order. Adding 0.0 for a term not containing the
        # doc is exact, so this equals the oracle's skip-absent-terms
        # accumulation; non-essential blocks decode lazily, only here.
        s = np.zeros(len(d), dtype=np.float64)
        for t, j, _bm in cov:
            docs_u, scores = t.partials(j)
            pos = np.minimum(np.searchsorted(docs_u, d), len(docs_u) - 1)
            s = s + np.where(docs_u[pos] == d, scores[pos], 0.0)
        # merge into running top-k: (-score, doc_u) lexicographic
        md = np.concatenate([top_docs, d])
        ms = np.concatenate([top_scores, s])
        sel = np.lexsort((md, -ms))[:k]
        top_docs, top_scores = md[sel], ms[sel]
        if len(top_docs) >= k:
            theta = top_scores[-1]

    order = np.lexsort((top_docs, -top_scores))
    return pd.DataFrame(
        {
            "doc_id": top_docs[order].view(np.int64),
            "score": top_scores[order],
        }
    )

