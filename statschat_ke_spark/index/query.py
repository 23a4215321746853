"""BM25 top-k query evaluation over the partitioned inverted index.

Replaces the reference's FAISS ``similarity_search_with_score``
(/root/reference/statschat/generative/cloud_llm.py:126-160) with the
inverted-index analog of an index-nested-loop join (SURVEY.md §2.3 J5):

1. tokenize the query driver-side (tiny) → distinct term_ids
2. lexicon lookup → idf: a driver-side pyarrow read of the question's
   term_ids from each committed segment's lexicon (delete deltas included),
   df summed per term there — no Spark job. Lexicons are key-bucketed
   (``build._write_keyed``): a term opens the one bucket file per segment
   its id falls in and reads only the row groups whose term_id range admits
   it. The snapshot handle (``_snapshot``) opens the postings and lists the
   bucket dirs once per commit, and is shared by every query against it.
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
   by (segment, doc-range slice group, query bucket); per group a bulk
   block-max WAND (``_wand_groups``) scores doc intervals in rounds of
   1, 2, 4, … in descending upper-bound order, one joined decode per term
   and column per round, skips every interval whose bound can't enter the
   top-k and emits each query's local top-k; topk then takes the global
   top-k (TakeOrderedAndProject), topk_batch a ranked window per query.
   Exact because a doc's postings for every term share its slice
   (slice = f(doc_id)). Blocks hold each doc's ordinal in its segment's
   docs table (``_DocOrdinals``), whose order is unsigned doc_id order; a
   group maps its ≤ k winners to doc_ids by a positional read of that
   table before the global top-k.
5. tie-break: score desc, doc_id ascending in unsigned order — identical to
   the numpy oracle (index/oracle.py).
6. urls (``topk(with_url=True)``): the ≤ k ranked rows are collected and
   their urls read on the driver from the data segments' docs, key-bucketed
   by doc_id like the lexicon; the result is a local frame.

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
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from statschat_ke_spark.functions.tokenize import term_ids, tokenize
from statschat_ke_spark.index.codec import BLOCK, decode_doc_id_blocks, decode_tfs, vbyte_decode
from statschat_ke_spark.operators.postproc import doc_u_asc

K1 = 1.2
B = 0.75

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
    ``covered_chunks``, ``tombstone_files`` and ``doc_rows`` (each data
    segment's docs row count); its atomic rename (every
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
    (``_Snapshot``) and keep the filter in the plan as well."""
    return df.filter(F.col("seg").isin([int(s) for s in marker["segments"]]))


class _KeyedTable:
    """One key-bucketed table of a snapshot (``build._write_keyed``: docs by
    doc_id, lexicons by term_id), looked up on the driver. Per listed
    segment it holds the bucket dirs' first keys (unsigned, ascending) and
    each dir's files, listed once when the handle opens. Only the segments
    passed in are listed, so a ``seg=N`` dir outside the commit (one being
    written, or one a concurrent ``_commit`` removes) is never opened."""

    def __init__(self, root: str, key: str, segments):
        self.key = key
        self.segments = []
        for s in segments:
            seg_dir = os.path.join(root, f"seg={s}")
            names = [n for n in os.listdir(seg_dir) if n.startswith("bucket=")]
            firsts = np.array(
                [int(n.split("=", 1)[1]) for n in names], dtype=np.int64
            ).view(np.uint64)
            order = np.argsort(firsts)
            self.segments.append((
                firsts[order],
                [
                    sorted(
                        os.path.join(seg_dir, names[i], f)
                        for f in os.listdir(os.path.join(seg_dir, names[i]))
                        if f.endswith(".parquet")
                    )
                    for i in order
                ],
            ))

    def files(self, keys) -> dict[str, list[int]]:
        """Each file whose bucket can hold one of ``keys`` (signed int64),
        mapped to those keys: at most one bucket dir per key and segment."""
        keys = np.unique(np.asarray(keys, dtype=np.int64))
        out: dict[str, list[int]] = {}
        for firsts, files in self.segments:
            # the last bucket starting at or below the key holds it; a key
            # below the first listed bucket has no bucket in this segment
            b = np.searchsorted(firsts, keys.view(np.uint64), side="right") - 1
            for i in np.unique(b[b >= 0]):
                for f in files[i]:
                    out[f] = keys[b == i].tolist()
        return out

    def read(self, keys, columns: list[str]):
        """Yield, per file of ``files(keys)``, its rows of those keys as a
        pyarrow table: row groups whose key min/max admit none are skipped."""
        for f, ks in self.files(keys).items():
            yield pq.read_table(f, columns=columns, filters=[(self.key, "in", ks)])


def _row_counts(md) -> tuple:
    return tuple(md.row_group(r).num_rows for r in range(md.num_row_groups))


class _DocOrdinals:
    """One data segment's docs rows in ordinal order: its key-bucketed docs
    files (``build._write_keyed``) in ascending unsigned bucket order, which
    is unsigned doc_id order. A doc's ordinal is its row position in that
    sequence, and posting blocks store ordinals, not doc_ids. Holds each row
    group's file, first ordinal and signed doc_id min/max from the footers,
    read once (by the segment writer, and by each snapshot handle), so the
    executors that map ordinals read only row groups, never a listing."""

    def __init__(self, bucket_files: list[list[str]], n_rows: int):
        """``bucket_files``: a segment's docs files per bucket dir, in
        ascending unsigned bucket order (``_KeyedTable.segments``);
        ``n_rows``: the segment's docs row count as committed (its
        ``doc_rows`` entry), which the footers must add up to."""
        self.files = files = [f for fs in bucket_files for f in fs]
        meta = []  # (file, row group, rows, signed min, signed max)
        self.file_rows = []  # each file's row-group row counts
        for i, f in enumerate(files):
            md = pq.read_metadata(f)
            self.file_rows.append(_row_counts(md))
            col = md.schema.names.index("doc_id")
            for r in range(md.num_row_groups):
                g = md.row_group(r)
                st = g.column(col).statistics
                known = st is not None and st.has_min_max
                meta.append((i, r, g.num_rows,
                             st.min if known else -(2**63), st.max if known else 2**63 - 1))
        m = np.array(meta, dtype=np.int64).reshape(-1, 5)
        self.rg_file, self.rg_local = m[:, 0], m[:, 1]
        self.lo, self.hi = m[:, 3], m[:, 4]
        # ordinal of each row group's first row, plus the segment's row count
        self.start = np.concatenate([[0], np.cumsum(m[:, 2])]).astype(np.int64)
        if self.start[-1] != n_rows:
            seg_dir = os.path.dirname(os.path.dirname(files[0])) if files else "a segment"
            raise RuntimeError(
                f"docs of {seg_dir!r} hold {self.start[-1]} rows where the "
                f"commit record lists {n_rows}, so doc ordinals would map to "
                "other docs — the docs table is damaged; rebuild the index "
                "(merge_index)"
            )

    def _read(self, rgs: np.ndarray) -> np.ndarray:
        """The doc_id column (int64) of the row groups ``rgs`` (ascending),
        concatenated in that order. A file whose row groups no longer hold
        the rows its footer held when this was built (a damaged docs table)
        would shift every later ordinal onto another doc, so it raises."""
        parts = [np.empty(0, np.int64)]
        for i in np.unique(self.rg_file[rgs]):
            f = pq.ParquetFile(self.files[i])
            if _row_counts(f.metadata) != self.file_rows[i]:
                raise RuntimeError(
                    f"docs file {self.files[i]!r} changed since its snapshot "
                    "was opened, so doc ordinals no longer map to their docs — "
                    "the docs table is damaged; rebuild the index (merge_index)"
                )
            local = self.rg_local[rgs[self.rg_file[rgs] == i]].tolist()
            parts.append(f.read_row_groups(local, columns=["doc_id"]).column(0).to_numpy())
        return np.concatenate(parts)

    def rows(self, lo, hi) -> tuple[np.ndarray, np.ndarray]:
        """(doc_id as uint64, ordinal) of every row of the row groups whose
        signed doc_id range meets one of the sorted, disjoint signed
        intervals [lo[j], hi[j]], in ordinal (= unsigned doc_id) order. A
        caller looks its docs up in it with a searchsorted."""
        lo = np.atleast_1d(np.asarray(lo, np.int64))
        hi = np.atleast_1d(np.asarray(hi, np.int64))
        j = np.searchsorted(hi, self.lo)  # first interval ending at or past it
        rgs = np.flatnonzero((j < len(hi)) & (lo[np.minimum(j, len(lo) - 1)] <= self.hi))
        lens = self.start[rgs + 1] - self.start[rgs]
        ords = np.repeat(self.start[rgs] - (np.cumsum(lens) - lens), lens)
        return self._read(rgs).view(np.uint64), ords + np.arange(len(ords))

    def doc_ids(self, ords) -> np.ndarray:
        """The doc_id (int64) of each ordinal: a positional read of the row
        groups that hold them."""
        ords = np.asarray(ords, np.int64)
        rg = np.searchsorted(self.start, ords, side="right") - 1
        rgs = np.unique(rg)
        lens = self.start[rgs + 1] - self.start[rgs]
        at = (np.cumsum(lens) - lens)[np.searchsorted(rgs, rg)]  # offset in the read
        return self._read(rgs)[at + ords - self.start[rg]]


class _Snapshot:
    """Reader handle for ONE committed snapshot: its postings opened once
    (the open lists the snapshot's postings dirs; the schema is the known
    ``build.POSTINGS_SCHEMA``, so no footer-inference job), the bucket
    listings of its driver-read tables (every segment's lexicon, delete
    deltas included, and the data segments' docs), each data segment's
    ``_DocOrdinals`` (its docs footers, read once) and the lazily loaded
    tombstone broadcast. A snapshot is immutable per commit uuid, so every
    query against that commit shares the handle — the engine analog of the
    reference's ``lru_cache`` on make_query (cloud_llm.py:235)."""

    def __init__(self, spark: SparkSession, index_dir: str, marker: dict):
        from statschat_ke_spark.index.build import DELETE_SEG_BASE, POSTINGS_SCHEMA

        self.index_dir = index_dir
        self.marker = marker
        data = [s for s in marker["segments"] if s < DELETE_SEG_BASE]
        # listed from the commit's own seg=N dirs only (``basePath`` keeps
        # ``seg`` a partition column): listing the whole table dir would
        # also list the dirs a concurrent ``_commit`` removes — segments
        # superseded one commit ago, orphans of crashed writers — and a dir
        # that vanishes mid-listing fails the open
        root = os.path.join(index_dir, "postings")
        self.postings = _prune_to_snapshot(
            spark.read.schema(POSTINGS_SCHEMA).option("basePath", root).parquet(
                *(os.path.join(root, f"seg={s}") for s in data)
            ),
            marker,
        )
        self.lexicon_files = _KeyedTable(
            os.path.join(index_dir, "lexicon"), "term_id", marker["segments"]
        )
        self.docs_files = _KeyedTable(os.path.join(index_dir, "docs"), "doc_id", data)
        self.doc_ordinals = {
            s: _DocOrdinals(files, marker["doc_rows"][str(s)])
            for s, (_firsts, files) in zip(data, self.docs_files.segments)
        }
        self._sc = spark.sparkContext
        self._bc_lock = threading.Lock()
        self._dead_loaded = False
        self._dead_bc = None
        self._docs_bc = None

    def dead_bc(self):
        """Broadcast of the snapshot's tombstones as {data segment: sorted
        uint64 ordinals}, or None when no committed doc is tombstoned. The
        delete files (commit metadata, like lineage: 8 bytes per
        lifetime-deleted doc_id) are driver-read with pyarrow, each
        segment's ordinals found by a read of the docs row groups whose
        doc_id range admits a tombstoned id, and shipped to executors once
        per handle."""
        with self._bc_lock:
            if not self._dead_loaded:
                files = self.marker.get("tombstone_files") or []
                if files:
                    tomb = np.unique(np.concatenate([
                        pq.read_table(
                            os.path.join(self.index_dir, "tombstones", f),
                            columns=["doc_id"],
                        ).column("doc_id").to_numpy().astype(np.int64)
                        for f in files
                    ]))
                    dead = {}
                    for s, docs in self.doc_ordinals.items():
                        ids, ords = docs.rows(tomb, tomb)
                        hit = ords[np.isin(ids.view(np.int64), tomb)]
                        if len(hit):
                            dead[s] = hit.astype(np.uint64)  # ordinal order
                    if dead:
                        self._dead_bc = self._sc.broadcast(dead)
                self._dead_loaded = True
            return self._dead_bc

    def docs_bc(self):
        """Broadcast of ``doc_ordinals``, shipped to executors once per
        handle: a scoring group reads only its own segment's entry, and
        every segment's row-group tables in each task's closure would grow
        with the index (about 2.7 GB at 10^12 docs)."""
        with self._bc_lock:
            if self._docs_bc is None:
                self._docs_bc = self._sc.broadcast(self.doc_ordinals)
            return self._docs_bc

    def close(self) -> None:
        """Release the broadcasts' block-manager storage NOW — a
        long-lived ingest+serve driver opens a handle per commit, and
        unreferenced broadcasts otherwise linger until context teardown
        (non-blocking; in-flight tasks holding .value are unaffected)."""
        for bc in (self._dead_bc, self._docs_bc):
            if bc is not None:
                try:
                    bc.unpersist(blocking=False)
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
    """Boolean keep-mask over a segment's ordinals (uint64) vs its sorted
    tombstoned ordinals, or None when nothing is masked (fast path)."""
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

    The lexicon is segmented (one per data segment, plus the delete delta's
    negated df); global df is the SUM over segments. The probe reads
    ``(term_id, df)`` with pyarrow from the bucket files that can hold
    ``ids`` — at most |ids| per segment, each read pruned to the row groups
    whose term_id range admits them — and sums it here: no Spark job, and no
    memo (a probe costs about a millisecond)."""
    dfs: dict[int, int] = {}
    for t in snap.lexicon_files.read(ids, ["term_id", "df"]):
        for tid, df in zip(t.column("term_id").to_pylist(), t.column("df").to_pylist()):
            dfs[tid] = dfs.get(tid, 0) + df
    n_docs = int(snap.marker["n_docs"])
    out = {}
    for tid in ids:
        df = dfs.get(tid, 0)
        if df > 0:
            idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
            out[tid] = {"idf": idf, "df": df}
    return out


def _with_urls(snap: _Snapshot, rows: list) -> pa.Table:
    """The ranked ``rows`` (doc_id, score) with their urls, in rank order,
    read with pyarrow from the data segments' docs: at most |rows| bucket
    files per segment. Every ranked doc has a docs row; a missing one means
    a damaged docs table, which fails loudly rather than returning fewer
    than k rows."""
    ids = [int(r.doc_id) for r in rows]
    urls: dict[int, str] = {}
    for t in snap.docs_files.read(ids, ["doc_id", "url"]):
        urls.update(zip(t.column("doc_id").to_pylist(), t.column("url").to_pylist()))
    missing = [d for d in ids if d not in urls]
    if missing:
        raise RuntimeError(
            f"index at {snap.index_dir!r}: ranked doc_id(s) {missing} have no "
            "docs row in the committed segments — the docs table is damaged; "
            "rebuild the index (merge_index)"
        )
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "score": pa.array([float(r.score) for r in rows], pa.float64()),
        "url": pa.array([urls[d] for d in ids], pa.string()),
    })


def _postings(snap: _Snapshot, ids: list[int], n_groups: int) -> DataFrame:
    """The snapshot's posting blocks for ``ids``, tagged with their WAND
    slice group ``wg``. The term_id filter is pushed into the parquet scan,
    which reads only the row groups whose term_id range can hold one of
    ``ids``: ~``build.ROW_GROUP_BYTES`` each in a segment of at least
    ``build.ROW_GROUP_MIN_DOCS`` docs, one per file in a smaller segment.
    Doc ranges of distinct slices are disjoint, so ANY slice partition
    keeps per-group local top-k + a global top-k exact."""
    return (
        snap.postings.filter(F.col("term_id").isin(ids))
        .select("seg", "term_id", "slice", "block_id", "n", "doc_ids", "tfs",
                "dls", "block_max_tf", "block_min_dl", "first_doc", "last_doc")
        .withColumn("wg", F.pmod(F.col("slice"), F.lit(n_groups)))
    )


def wand_group_count(total_df: int, parallelism: int) -> int:
    """Adaptive slice-coarsening group count: every WAND group pays ~k
    decoded blocks before its local θ converges, so a segment's fine slices
    (2^``build.derive_slice_bits``, at least 64) × k forfeit most pruning
    when posting volume is modest. Estimated block
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
    # the group shuffle's partition count is explicit, so AQE never
    # coalesces it by bytes: ordinal blocks shrank a question's shuffle
    # enough that its WAND groups ran in one Python task (the 180k index's
    # long questions ran ~25% slower), and the groupBy reuses this
    # partitioning (no second exchange)
    grouped = grouped.repartition(par, "seg", "wg", "qb")
    return grouped.groupBy("seg", "wg", "qb").applyInPandas(
        _wand_groups(
            idf_by_q, idf_all, float(snap.marker["avgdl"]), k, snap.dead_bc(), n_qb,
            snap.docs_bc(),
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
    plan (``_scored``) for one query, then a global top-k. With ``with_url``
    the ≤ k rows are collected here and the result is a local frame with
    their urls (``_with_urls``)."""
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
        # a local frame over an Arrow table: collecting it runs no job
        return spark.createDataFrame(_with_urls(snap, ranked.collect()))
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


def _term_blocks(g: pd.DataFrame, idf: float, avgdl: float) -> tuple:
    """One term's blocks in a group as arrays in ordinal order: (first
    ordinal, last ordinal, block-max score, n, doc_ids, tfs, dls, idf).
    block_id alone does not give that order: each pack task (a doc range)
    numbers its blocks of a (term_id, slice) from 0, and a large segment
    has more doc ranges than slices, so one slice's blocks can come from
    several tasks. first_doc does: a term's blocks cover ascending ordinal
    runs, and only one task's consecutive blocks can share a first_doc (a
    url staged twice has one ordinal), which its block_id orders. Keys sort
    unsigned, as ``_wand_topk`` compares them."""
    first = g["first_doc"].to_numpy(dtype=np.int64).view(np.uint64)
    g = g.iloc[np.lexsort((g["block_id"].to_numpy(), first))]
    # avgdl-free stored bounds → block-max score under the current global
    # avgdl: tfn rises with tf and falls with dl, so tfn(max_tf, min_dl)
    # dominates every doc in the block
    btf = g["block_max_tf"].to_numpy(dtype=np.float64)
    bdl = g["block_min_dl"].to_numpy(dtype=np.float64)
    return (
        g["first_doc"].to_numpy(dtype=np.int64).view(np.uint64),
        g["last_doc"].to_numpy(dtype=np.int64).view(np.uint64),
        idf * btf * (K1 + 1.0) / (btf + K1 * (1.0 - B + B * bdl / avgdl)),
        g["n"].to_numpy(dtype=np.int64),
        g["doc_ids"].to_numpy(),
        g["tfs"].to_numpy(),
        g["dls"].to_numpy(),
        idf,
    )


def _wand_groups(
    idf_by_q: dict[int, dict[int, float]],
    idf_all: dict[int, float],
    avgdl: float,
    k: int,
    dead_bc,
    n_qb: int,
    docs_bc,
):
    """Per-(segment, slice group, query bucket) block-max WAND: the
    grouped-map function of the shared plan. The group with key
    ``(seg, wg, qb)`` scores every query ``qid`` with ``qid % n_qb == qb``
    and returns its local top-k rows (query_id, doc_id, score). Each term's
    block arrays are built once per group and shared by the bucket's
    queries (idf is global per term).

    The kernel runs on the segment's doc ordinals, whose order is unsigned
    doc_id order, so the local top-k and its tie-break are those of the
    doc_ids; the group then maps its ≤ k winners per query to doc_ids with
    one positional read (``docs_bc.value[seg]``, a ``_DocOrdinals``), before the
    global top-k compares them across segments. ``dead_bc`` holds the
    tombstones as {seg: sorted ordinals}.

    Level 1 works only on block metadata: the union of all terms' block
    boundaries partitions the slice's doc range into intervals, and one
    sweep (add.at + cumsum) gives each interval's upper bound UB = Σ_t
    blockmax_t. Level 2 takes intervals in descending-UB order, in rounds of
    1, 2, 4, … intervals; a round ends at the first interval with
    UB < θ − eps. Per round and term, one ``vbyte_decode`` per column
    decodes the joined bytes of every block covering one of the round's
    intervals; the decoded docs inside those intervals, minus tombstones,
    are scored and merged into the running top-k, and θ rises.

    Exactness: θ only grows, so a skipped doc has true score ≤ UB < θ ≤
    final θ and cannot displace the kth result even via the doc_id
    tie-break; intervals with UB == θ are scored. The bounds come out of a
    float sweep + cumsum, so every θ-comparison keeps an error margin
    (``eps``) so that rounding cannot turn that argument into a false skip
    — found by an exact tie at rank k whose interval bound landed 1 ulp
    low. Tombstoned docs leave candidacy before scoring, so θ is built from
    live docs only (block bounds still count dead docs, which only makes
    pruning conservative).

    Bit-reproducibility: every emitted score is a strict left-to-right fold
    of the doc's per-term partials in CANONICAL order — the query's
    distinct-term appearance order (``idf_by_q[qid]`` insertion order, the
    order the numpy oracle accumulates; adding 0.0 for an absent term is
    exact) — never ``np.add.reduceat``, whose pairwise association sums to
    a different last ulp. Without it two near-tied docs could swap ranks
    when ``n_groups`` (or the cluster size behind the adaptive default)
    changes the rounds a doc is scored in.
    """

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        seg, qb = int(key[0]), int(key[2])
        dead = dead_bc.value.get(seg) if dead_bc is not None else None
        blocks = {
            int(t): _term_blocks(g, idf_all[int(t)], avgdl)
            for t, g in pdf.groupby("term_id", sort=False)
        }
        qids, ords, scores = [np.empty(0, np.int64)], [np.empty(0, np.uint64)], [np.empty(0)]
        for qid, idf_map in idf_by_q.items():
            if qid % n_qb == qb:
                # terms in the query's canonical order, not Spark's read order
                d, sc = _wand_topk([blocks[t] for t in idf_map if t in blocks], k, avgdl, dead)
                qids.append(np.full(len(d), qid, dtype=np.int64))
                ords.append(d)
                scores.append(sc)
        return pd.DataFrame({
            "query_id": np.concatenate(qids),
            "doc_id": docs_bc.value[seg].doc_ids(np.concatenate(ords)),
            "score": np.concatenate(scores),
        })

    return run


def _wand_topk(
    terms: list[tuple], k: int, avgdl: float, dead: "np.ndarray | None"
) -> tuple[np.ndarray, np.ndarray]:
    """One query's top-k (key, score), ranked, over its ``_term_blocks``
    in canonical term order (see ``_wand_groups``). Keys are any uint64
    doc keys below 2^64 - 1 (the engine passes segment ordinals), compared
    only for order and equality."""
    top_docs = np.empty(0, dtype=np.uint64)
    top_scores = np.empty(0, dtype=np.float64)
    if not terms or k <= 0:
        return top_docs, top_scores
    # ---- level 1: interval upper bounds from block metadata only ----
    all_firsts = np.concatenate([t[0] for t in terms])
    all_lasts = np.concatenate([t[1] for t in terms])
    all_bms = np.concatenate([t[2] for t in terms])
    bounds = np.unique(np.concatenate([all_firsts, all_lasts + np.uint64(1)]))
    ub = np.zeros(len(bounds), dtype=np.float64)
    np.add.at(ub, np.searchsorted(bounds, all_firsts), all_bms)
    np.subtract.at(ub, np.searchsorted(bounds, all_lasts + np.uint64(1)), all_bms)
    ub = np.cumsum(ub)
    # The sweep + cumsum accumulates rounding error ∝ len(bounds)·eps·
    # max|prefix|, which can push a bound a few ulp below the true Σ
    # block-max; a doc whose true score equals θ must still be scored (it
    # can win the kth slot via the doc_id tie-break).
    eps = (len(bounds) + len(all_bms)) * np.finfo(np.float64).eps * float(np.max(np.abs(ub)))

    # ---- level 2: rounds of 1, 2, 4, … intervals in descending-UB order ----
    order = np.argsort(-ub, kind="stable")
    theta, start, size = -math.inf, 0, 1
    while start < len(order):
        batch = order[start : start + size]
        batch = batch[ub[batch] >= theta - eps]  # a prefix: UB descends
        if not len(batch):
            break
        start, size = start + size, 2 * size
        in_round = np.zeros(len(bounds), dtype=bool)
        in_round[batch] = True
        lo = bounds[batch]
        parts = []
        for firsts, lasts, _bms, n, ids, tfs, dls, idf in terms:
            # an interval lies inside a block or outside it, so the block
            # covering its start covers all of it
            j = np.searchsorted(firsts, lo, side="right") - 1
            j = np.unique(j[(j >= 0) & (lasts[j] >= lo)])
            docs = decode_doc_id_blocks(b"".join(ids[j]), n[j])
            tf = decode_tfs(b"".join(tfs[j])).astype(np.float64)
            dl = vbyte_decode(b"".join(dls[j])).astype(np.float64)
            parts.append((docs, idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))))
        cand = np.unique(np.concatenate(
            [d[in_round[np.searchsorted(bounds, d, side="right") - 1]] for d, _ in parts]
        ))
        alive = _mask_alive(cand, dead)
        if alive is not None:
            cand = cand[alive]
        # canonical fold over the query's terms (see _wand_groups)
        s = np.zeros(len(cand), dtype=np.float64)
        for docs, part in parts:
            if len(docs):
                pos = np.minimum(np.searchsorted(docs, cand), len(docs) - 1)
                s = s + np.where(docs[pos] == cand, part[pos], 0.0)
        # merge into the running top-k: (-score, doc_u) lexicographic
        md = np.concatenate([top_docs, cand])
        ms = np.concatenate([top_scores, s])
        sel = np.lexsort((md, -ms))[:k]
        top_docs, top_scores = md[sel], ms[sel]
        if len(top_docs) >= k:
            theta = top_scores[-1]
    return top_docs, top_scores
