"""Distributed inverted-index build — sort-based, term-range-merged, resumable.

Replaces the reference's vector-store construction
(/root/reference/statschat/preprocess.py:90-288: json split → load → chunk →
embed → FAISS.from_documents → merge) with the Spark-first design of
SURVEY.md §2.9/§7:

Phase A (stage per input chunk, checkpoint-resumable):
    documents --filter lang--> extract text (pandas UDF, byte-identical
    contract) --tokenize+tf (single Arrow UDF pass)--> staged table
    (doc_id, url, doclen, tfs), one parquet subdir per chunk, a lineage row
    appended after each chunk commits. Every writer (build_index,
    update_index, ingest_stream) stages through _stage_unseen, a url
    anti-join against the lineage-committed chunks into the next chunk id,
    so no url is staged twice (the Spark analog of the reference's UPDATE
    anti-joins, pdf_downloader.py:133-152). Resume is a rerun: the slices a
    crashed build finished anti-join to nothing, and a chunk that stages no
    row leaves no dir and no lineage row.

Phase B (global merge) — ONE heavy pass over the (doc, term) pairs:
    staged --> docs (doc_id, url, doclen), key-bucketed and sorted by
          unsigned doc_id: a doc's ordinal is its row position there
    staged --explode--> pairs
          --repartitionById(doc range = top bits of the unsigned doc_id)-->
          --sortWithinPartitions(term_id, doc_sort_key)-->
          --mapInArrow pack--> postings blocks (delta-gap + vbyte over
            ordinals, ≤128 docs, per-block max tf / min doclen)
    staged --explode--> groupBy(term) [|vocab| rows]--> lexicon (df, cf)
    postings --groupBy(pid) collect [≤ P rows]--> stats.json metrics.
The docs write comes first (the pack reads ordinals from it); the lexicon
is an independent DAG and runs concurrently with both.

Partitioning note: the pair shuffle is a STATIC doc-range partition (the
top bits of the unsigned doc_id, ``repartitionById``) rather than
``repartitionByRange``, whose range partitioner samples its child and would
execute the full explode twice per build. doc_id is a uniform hash of the
url, so each of the P_pack tasks gets about 1/P_pack of the docs, and so of
every term's postings: a hot term ("the" at web scale) is spread over every
pack task, and each task maps its docs to ordinals from the docs rows of
its own range only.

Scan pruning: within each file postings rows are sorted by (term_id, slice,
doc), in row groups of ROW_GROUP_BYTES from ROW_GROUP_MIN_DOCS docs per
segment up, so each row group covers a narrow term_id range. The query's
pushed-down ``term_id IN (...)`` filter skips every row group whose min/max
stats admit none of its terms: pruning happens per row group, never per file
(every pack file, a doc range, spans the whole term range) and never per
row.

Keyed tables: docs (keyed by doc_id) and every lexicon (by term_id, a delete
delta's too) are looked up by key, so ``_write_keyed`` lays them out as hive
bucket dirs: bucket = the top bits of the unsigned key, one key-sorted file
per bucket in ROW_GROUP_BYTES row groups. A lookup opens the bucket dir its
key falls in and reads the row groups whose min/max admit it.

Slices: every posting row is keyed by (term_id, slice) where slice = the
top slice_bits bits of the unsigned doc_id (derive_slice_bits), the unit of
a WAND group. Slices are disjoint doc ranges, and ordinals follow unsigned
doc_id order, so a slice is an ordinal range; every doc's postings for all
terms share a slice, so per-slice top-k is exact. block_id numbers a
(term_id, slice)'s blocks within one pack task, and a segment with more
doc ranges than slices packs a slice in several tasks, so readers order a
term's blocks by first_doc (``query._term_blocks``).

Impact upper bounds are stored idf-free (max of the tf/doclen factor);
idf multiplies in at query time, so posting blocks never need rebuilding
when N/df drift — only the lexicon does.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from statschat_ke_spark.functions.extract import extract_text_udf
from statschat_ke_spark.functions.tokenize import TOKEN_RE
from statschat_ke_spark.index.codec import BLOCK, vbyte_encode_chunks
from statschat_ke_spark.index.query import (
    _DocOrdinals,
    _KeyedTable,
    check_index_format,
    read_commit,
)

# FLOOR for the per-segment doc-range slice count (2^SLICE_BITS slices).
# The actual slice_bits of a segment is derived from its own doc count at
# build time (derive_slice_bits below) so a web-scale build never ships the
# sandbox default: slices bound a hot term's per-slice sub-list — the unit
# one WAND group scans — so the count must grow with the corpus. Queries
# treat `slice` as opaque data (grouped by pmod), so segments with different
# slice_bits coexist exactly; the value used is reported in the build's
# stats.json metrics.
SLICE_BITS = 6
# Target upper bound on docs per slice: a term occurring in EVERY doc still
# has at most this many postings per (term_id, slice). (The sweep below was
# measured when (term_id, slice) was also the pack shuffle key.)
# Refit from BENCH_SKEW.json (9.0M docs / 1.1B postings, same corpus + P_pack,
# only slice_bits varied): the old 2^20 target derived 6 bits there, the worst
# measured level (skew 1.468, build 1116 s); 8 bits was the sweep's optimum
# (skew 1.321, build 829 s, fastest query) and 10 bits cut skew to 1.122 with
# no further build gain. 2^16 derives exactly 8 bits at 9M docs, keeps every
# corpus <= 4.2M docs at the floor of 6 (all prior rank-identity/cluster
# evidence unchanged), and yields 24 bits / 16.7M slices at 10^12 docs
# (hottest term <= ~60k postings per slice). Result shas were byte-identical
# across all three levels, so the knob is pure layout, never semantics.
DOCS_PER_SLICE_TARGET = 1 << 16


def derive_slice_bits(n_docs: int) -> int:
    """ceil(log2(n_docs / DOCS_PER_SLICE_TARGET)), floored at SLICE_BITS,
    capped at 24 (`slice` is int32). At the 10^12-doc design point this
    yields 24 bits / ~16.7M slices: the hottest possible term fans out over
    ~16.7M reducers at <= ~60k postings (~470 blocks) each, where the old
    compile-time 6 left ~10^10-posting sub-lists. The target itself is fit
    to measurement, not chosen: see the BENCH_SKEW.json note on
    DOCS_PER_SLICE_TARGET above."""
    n_slices = -(-max(1, n_docs) // DOCS_PER_SLICE_TARGET)  # ceil division
    return min(24, max(SLICE_BITS, (n_slices - 1).bit_length()))
# Bump when the on-disk layout or the commit record changes; recorded in
# _SUCCESS.json so stale caches rebuild instead of misreading. 3: the
# _SUCCESS.json record is the only snapshot state (stats.json is metrics).
# 4: no url is staged in two chunks (_stage_unseen), which phase B relies
# on — format-3 streaming drains could re-stage a url already indexed.
# 5: every data segment takes a fresh id (_next_seg_id); a format-4
# compaction wrote segment 0, which a chunk-0 append would overwrite.
# 6: docs and lexicon segments are key-bucketed dirs (_write_keyed), which
# the driver-side lookups list; a format-5 segment has no bucket dir.
# 7: posting blocks gap-code each doc's ordinal in its segment's docs table
# (query._DocOrdinals), not its doc_id; a format-6 block holds doc_ids.
INDEX_FORMAT = 7
LONG_MIN = -(2**63)
# Arrow batch rows for the pack stage. Pack input rows are 28 fixed-width
# bytes, so 128k rows ≈ 3.6 MB per batch; the 10k default caused a
# batch-ping-pong collapse under high task concurrency (measured 12× slower
# at 32 threads). Set per-stage, restored after.
PACK_ARROW_BATCH = 131072
# Segment-lifecycle policy threshold. Each appended segment adds one more
# per-segment lexicon partition to every query-time df probe and one more
# (segment, slice) local top-k to the WAND merge, so probe latency and
# query fan-out grow linearly with segment count while per-append cost
# stays delta-proportional — the classic LSM trade. Compacting when the
# count exceeds this bound keeps query-side overhead O(1) amortized:
# with delta ≈ d docs per append, compaction (∝ corpus) runs every
# MAX_SEGMENTS appends, so amortized update cost stays ∝ corpus/MAX + d.
# The reference re-merges its whole FAISS store on EVERY update
# (/root/reference/statschat/preprocess.py:250-288) — this policy is that
# behavior with the rebuild amortized 8× and bounded probe fan-out.
# _publish_pending reads it at call time, so a test can patch it.
MAX_SEGMENTS = 8
# Parquet row-group size (``parquet.block.size``) of the keyed writes (docs,
# lexicon) and of the postings writes of segments of at least
# ROW_GROUP_MIN_DOCS docs. Every file of these tables is key-sorted, so a
# row group covers a narrow key range and a lookup or the query's
# pushed-down ``term_id IN`` filter skips the row groups that hold none of
# its keys. With one row group per
# file (the writer default, 128 MB, above any pack file) every question read
# whole files: on the 180k-doc perfbench index (14 pack files) the median
# selective question read 754,137 posting rows and a 12-term one all
# 1,880,673; at 1 MB (~25 row groups per file, +0.05% postings bytes) they
# read 211,620 and 737,917. The writers read it at call time, so a test can
# patch it.
ROW_GROUP_BYTES = 1 << 20
# Postings of a segment with fewer docs keep one row group per file. Below
# it the doc columns (first_doc, last_doc, doc_ids: a doc's ordinal repeats
# in the one-doc blocks of its rare terms) stay dictionary-encoded, and
# since every row group holds some term of nearly every doc, each row group
# repeats a dictionary of the segment's ordinals. Postings bytes at 1 MB row
# groups vs one per file, same rows, ordinal blocks (INDEX_FORMAT 7): +9.4%
# at 11k docs (10.39 vs 9.50 MB) and +13.4% at 40k (32.76 vs 28.89 MB),
# most of it first_doc/last_doc; with doc_id blocks (format 6) it was +20%
# at 11k, +16% at 40k, +14% at 55k, +0.4% at 70k, +0.3% at 90k and +0.05%
# at 180k, where the dictionary outgrew parquet's 1 MB dictionary page and
# the writer fell back to plain encoding. Read at call time, so a test can
# patch it.
ROW_GROUP_MIN_DOCS = 70_000
# Data segments take ids below DELETE_SEG_BASE, lexicon-delta segments
# (delete_docs) from it up; a new id is 1 + the largest of its kind on disk
# (_next_seg_id).
DELETE_SEG_BASE = 1_500_000_000

TOKENIZED_SCHEMA = T.StructType(
    [
        T.StructField("doclen", T.IntegerType(), False),
        T.StructField("terms", T.ArrayType(T.StringType()), False),
        T.StructField("tfs", T.ArrayType(T.IntegerType()), False),
    ]
)


@F.pandas_udf(TOKENIZED_SCHEMA)
def tokenize_doc_udf(text: pd.Series) -> pd.DataFrame:
    """One Arrow pass producing doclen + per-doc term frequencies as two
    PARALLEL PRIMITIVE ARRAYS (terms, tfs) — an array<struct> here would cost
    one Python dict per (doc, term) pair, which measurably dominated phase A.

    Map-side tf aggregation: downstream row count is bounded by Σ df
    (distinct terms per doc), not token positions — the sort-based analog of
    a map-side combine.

    The per-doc loop is deliberate, not an oversight — MEASURED (20k docs /
    4.5M Zipf tokens, interleaved best-of-3): this loop's work is C code
    (sre findall ~70%, Counter's _count_elements ~30%); a fully-vectorized
    rewrite (flat token stream → pd.factorize → composite-key stable
    argsort → reduceat counts → lexsort back to first-occurrence order,
    byte-identical output) ran 10× SLOWER end-to-end — the global sort over
    token instances plus object-array gathers cost multiple memory passes
    that the per-doc C loop never pays. A single batch-wide findall over
    sentinel-joined text was 1.5× slower (flat-list re-splitting), and
    len/total micro-variants were within noise. ~13k docs/s/core here;
    linear, Arrow-batched, embarrassingly parallel across executors.
    """
    from collections import Counter

    lowered = text.fillna("").str.lower()
    doclens: list[int] = []
    term_lists: list[list[str]] = []
    tf_lists: list[list[int]] = []
    for s in lowered:
        c = Counter(TOKEN_RE.findall(s))
        doclens.append(sum(c.values()))
        term_lists.append(list(c.keys()))
        tf_lists.append(list(c.values()))
    return pd.DataFrame(
        {
            "doclen": pd.Series(doclens, dtype="int32"),
            "terms": term_lists,
            "tfs": tf_lists,
        }
    )


# The staged table as _stage_chunk writes it, plus its ``chunk`` partition
# column. Readers pass it so an empty chunk list reads as an empty table.
STAGED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        *TOKENIZED_SCHEMA.fields,
        T.StructField("chunk", T.IntegerType()),
    ]
)


POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("slice", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("doc_ids", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
        # avgdl-FREE block bounds: tfn(tf, dl; avgdl) is increasing in tf and
        # decreasing in dl, so tfn(max_tf, min_dl; avgdl) upper-bounds every
        # doc in the block for WHATEVER avgdl holds at query time. Baking
        # avgdl-dependent tfn into blocks (v1) would make WAND pruning unsafe
        # the moment an incremental segment shifts avgdl.
        T.StructField("block_max_tf", T.LongType(), False),
        T.StructField("block_min_dl", T.LongType(), False),
        T.StructField("pid", T.IntegerType(), False),
    ]
)


_PACK_COLS = ("term_id", "doc_id", "ord", "tf", "doclen")


def _pack_body(cols: dict, pid: int, bits: int):
    """Fully-vectorized block packer: sorted (term_id, doc_sort) rows, each
    with its doc's ordinal ``ord`` → posting-block arrays. One numpy pass —
    group/block boundaries via flatnonzero/reduceat, codec via a single
    chunked vbyte encode per column.
    ``cols`` holds plain numpy arrays; returns a pyarrow RecordBatch. No
    pandas and no per-row Python objects anywhere (the pandas per-group
    version was ~50× slower; even batchwise pandas cost an Arrow→object
    conversion that throttled concurrent workers).

    ``slice`` never travels through the shuffle: it is the top ``bits`` (the
    segment's slice bit count) of the unsigned doc id, so it is recomputed
    here (4 fewer bytes per pair row), and sorting by unsigned doc within a
    term already IS slice-sorted order (slices are doc-range prefixes)."""
    import pyarrow as pa

    term = cols["term_id"]
    ords = cols["ord"]
    ords_u = ords.view(np.uint64)
    slc = (cols["doc_id"].view(np.uint64) >> np.uint64(64 - bits)).astype(np.int64)
    tf = cols["tf"].astype(np.int64)
    dl = cols["doclen"].astype(np.int64)
    n = len(term)

    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    new_group[1:] = (term[1:] != term[:-1]) | (slc[1:] != slc[:-1])
    gidx = np.cumsum(new_group) - 1
    gstart = np.flatnonzero(new_group)
    pos_in_group = np.arange(n, dtype=np.int64) - gstart[gidx]
    is_block_start = new_group | (pos_in_group % BLOCK == 0)
    bstart = np.flatnonzero(is_block_start)
    bend = np.append(bstart[1:], n)

    block_max_tf = np.maximum.reduceat(tf, bstart)
    block_min_dl = np.minimum.reduceat(dl, bstart)

    # delta-gap ordinals: absolute at each block start, gap within a block
    # (ordinal order is unsigned doc order, so gaps are >= 0; a url staged
    # twice has one ordinal, gap 0, as its doc_id had)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = ords_u[0]
    gaps[1:] = ords_u[1:] - ords_u[:-1]
    gaps[bstart] = ords_u[bstart]

    enc_ids = vbyte_encode_chunks(gaps, bstart)
    enc_tfs = vbyte_encode_chunks(tf.astype(np.uint64) - np.uint64(1), bstart)
    enc_dls = vbyte_encode_chunks(dl.astype(np.uint64), bstart)

    return pa.RecordBatch.from_arrays(
        [
            pa.array(term[bstart], type=pa.int64()),
            pa.array(slc[bstart].astype(np.int32), type=pa.int32()),
            pa.array((pos_in_group[bstart] // BLOCK).astype(np.int32), type=pa.int32()),
            pa.array((bend - bstart).astype(np.int32), type=pa.int32()),
            pa.array(ords[bstart], type=pa.int64()),
            pa.array(ords[bend - 1], type=pa.int64()),
            pa.array(enc_ids, type=pa.binary()),
            pa.array(enc_tfs, type=pa.binary()),
            pa.array(enc_dls, type=pa.binary()),
            pa.array(block_max_tf.astype(np.int64), type=pa.int64()),
            pa.array(block_min_dl.astype(np.int64), type=pa.int64()),
            pa.array(np.full(len(bstart), pid, dtype=np.int32), type=pa.int32()),
        ],
        names=POSTINGS_SCHEMA.names,
    )


def _pack_groups(bits: int, range_bits: int, doc_ords: _DocOrdinals):
    """mapInArrow packer: rows sorted by (term_id, unsigned doc) → blocks.

    Arrow-native: input RecordBatch columns view as numpy zero-copy (all
    fixed-width numerics — the term string never travels through this path).
    Handles Arrow batch boundaries splitting a (term_id, slice) group by
    carrying the trailing group's arrays between batches.

    A task's rows are one doc range, the top ``range_bits`` bits of the
    unsigned doc_id, and that range is its partition id (the pack shuffle
    is ``repartitionById`` on it). Its docs' ordinals come from the docs
    rows of that range alone (``doc_ords``, the segment's
    ``query._DocOrdinals``: only the row groups whose doc_id range meets
    it), read once per task: a searchsorted-left, so a url staged twice
    maps to its first row, and a doc_id with no docs row raises.
    """

    def pack(batches):
        pid = TaskContext.get().partitionId()
        leftover: dict | None = None
        ids = None

        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = {
                name: rb.column(i).to_numpy(zero_copy_only=False)
                for i, name in enumerate(rb.schema.names)
            }
            if ids is None:
                lo = pid << (64 - range_bits)
                hi = lo + (1 << (64 - range_bits)) - 1
                # as signed int64: the range keeps one sign bit (range_bits >= 1)
                ids, ords = doc_ords.rows(*(x - (1 << 64) if x >> 63 else x for x in (lo, hi)))
            doc_u = cols["doc_id"].view(np.uint64)
            pos = np.minimum(np.searchsorted(ids, doc_u), max(len(ids) - 1, 0))
            if not len(ids) or not np.array_equal(ids[pos], doc_u):
                raise RuntimeError(
                    "segment build: a posting's doc_id has no row in the "
                    "segment's docs table — the docs write is incomplete"
                )
            cols["ord"] = ords[pos]
            if leftover is not None:
                cols = {
                    k: np.concatenate([leftover[k], cols[k]]) for k in _PACK_COLS
                }
            # split off the trailing (possibly incomplete) group — groups are
            # contiguous because input is sorted by (term_id, unsigned doc),
            # and slice boundaries are doc-order prefixes
            keys = cols["term_id"]
            slcs = cols["doc_id"].view(np.uint64) >> np.uint64(64 - bits)
            mask_tail = (keys == keys[-1]) & (slcs == slcs[-1])
            first_tail = int(np.argmax(mask_tail)) if mask_tail.any() else len(keys)
            if first_tail > 0:
                body = {k: cols[k][:first_tail] for k in _PACK_COLS}
                yield _pack_body(body, pid, bits)
            leftover = {k: cols[k][first_tail:] for k in _PACK_COLS}
        if leftover is not None and len(leftover["term_id"]):
            yield _pack_body(leftover, pid, bits)

    return pack


@dataclass
class BuildResult:
    index_dir: str
    n_docs: int
    avgdl: float
    wall_s: float
    chunks_processed: int
    chunks_skipped: int
    # set when the segment-lifecycle policy folded all segments into one
    # compacted segment during this call (see _publish_pending)
    compacted: bool = False


def _prepare_base(docs: DataFrame, lang: str | None) -> DataFrame:
    """Normalize the input to (doc_id, url, text): language filter, HTML
    extraction when no text column, deterministic doc ids."""
    cols = set(docs.columns)
    out = docs
    if lang is not None and "lang" in cols:
        out = out.filter(F.col("lang") == lang)  # SURVEY §2.2 P12
    if "text" not in cols:
        out = out.withColumn("text", extract_text_udf(F.col("html")))
    if "doc_id" not in cols:
        # deterministic id replacing the reference's random id (F12)
        out = out.withColumn("doc_id", F.xxhash64(F.col("url")))
    if "url" not in cols:
        out = out.withColumn("url", F.col("doc_id").cast("string"))
    return out.select("doc_id", "url", "text")


def _stage_chunk(
    spark: SparkSession, cdf: DataFrame, index_dir: str, chunk: int, n_files: int = -1
) -> int:
    """Phase-A unit of work: tokenize one chunk into ONE staged table
    (doc_id, url, doclen, tfs) — a single action, no persist — and append the
    lineage row only after the write commits (crash before the lineage append
    ⇒ the rerun stages those docs again under the same id; writes are
    per-chunk subdirs so a partial rewrite is idempotent). A chunk that
    stages no row (a re-sent update, a replayed epoch, a finished slice of a
    resumed build) is removed and gets no lineage row, so it costs later
    writers no listing. Returns the row count. The pair explosion is
    deferred to phase B where it streams out of columnar parquet instead of
    costing a second materialization here."""
    from pyspark.sql import Observation

    ts = time.time()
    tok = cdf.withColumn("tok", tokenize_doc_udf(F.col("text"))).select(
        "doc_id",
        "url",
        F.col("tok.doclen").alias("doclen"),
        F.col("tok.terms").alias("terms"),
        F.col("tok.tfs").alias("tfs"),
    )
    path = os.path.join(index_dir, "staged", f"chunk={chunk}")
    # row count observed DURING the write — no read-back job, and at scale no
    # second listing+footer pass over the chunk just staged
    obs = Observation()
    tok.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(path)
    n_rows = int(obs.get["rows"])
    if not n_rows:
        _clear_dir(path)
        return 0
    # n_files records the listing-level slice size (bytes-read evidence that
    # file-chunked builds scan the input once total); -1 = not file-chunked
    _append_lineage_row(
        os.path.join(index_dir, "_lineage"),
        chunk=chunk,
        rows_in=int(n_rows),
        wall_s=float(time.time() - ts),
        committed_at=time.time(),
        n_files=int(n_files),
    )
    return n_rows


def _stage_unseen(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    lang: str | None,
    seen: set[int] | None = None,
    n_files: int = -1,
) -> int:
    """The one staging step of every writer (build_index, update_index,
    ingest_stream): stage ``docs`` as a new chunk, 1 + the largest
    lineage-committed one, minus every url that a chunk of ``seen`` (default:
    every lineage-committed chunk) already holds — the Spark analog of the
    reference's UPDATE-mode anti-join (pdf_downloader.py:133-152).

    This keeps "no url in two staged chunks", which phase B relies on
    (INDEX_FORMAT 4): a re-sent or re-crawled url adds nothing, a replayed
    stream epoch stages no chunk, a tombstoned url, whose row stays in its
    immutable staged chunk, is never re-admitted, and a rerun of a crashed
    build stages only the slices it had not finished. A chunk dir a crash
    left before its lineage row is the next id, so the retry overwrites it.
    Returns the staged row count (0: no chunk was staged). A url given
    twice inside ``docs`` is not deduplicated. build_index passes the chunks committed when it took the lock as
    ``seen``: its slices are parts of one input, which is not deduplicated
    either, so a slice never joins against the chunks the same call staged,
    and a build into an empty dir reads no staged table. The caller holds the
    writer lock, so no other writer stages meanwhile."""
    committed = staged_chunks(index_dir)
    seen = committed if seen is None else seen
    base = _prepare_base(docs, lang)
    if seen:
        staged_urls = _read_staged(spark, index_dir, sorted(seen)).select("url")
        base = base.join(staged_urls, "url", "left_anti")
    return _stage_chunk(
        spark, base, index_dir, 1 + max(committed, default=-1), n_files=n_files
    )


def _read_staged(spark: SparkSession, index_dir: str, chunks) -> DataFrame:
    """The staged rows of ``chunks``, listed from their own ``chunk=N`` dirs
    only (``basePath`` keeps ``chunk`` a column) — the twin of
    ``query._Snapshot``'s postings open. A chunk dir without a lineage row is
    never read; no chunks (every input staged nothing) read as no rows."""
    root = os.path.join(index_dir, "staged")
    return spark.read.schema(STAGED_SCHEMA).option("basePath", root).parquet(
        *(os.path.join(root, f"chunk={c}") for c in chunks)
    )


def _append_lineage_row(
    lineage_dir: str, *, chunk: int, rows_in: int, wall_s: float,
    committed_at: float, n_files: int
) -> None:
    """Driver-side lineage commit: one parquet file per chunk commit
    (append semantics without a Spark job — a one-row cluster job per chunk
    is pure scheduler overhead). Types mirror the Spark schema ``chunk int,
    rows_in long, wall_s double, committed_at double, n_files int`` so files
    from either writer read back as one table."""
    import pyarrow as pa

    _write_commit_file(
        lineage_dir,
        "commit",
        pa.table(
            {
                "chunk": pa.array([chunk], type=pa.int32()),
                "rows_in": pa.array([rows_in], type=pa.int64()),
                "wall_s": pa.array([wall_s], type=pa.float64()),
                "committed_at": pa.array([committed_at], type=pa.float64()),
                "n_files": pa.array([n_files], type=pa.int32()),
            }
        ),
    )


def _write_commit_file(directory: str, prefix: str, table) -> str:
    """Write one driver-side commit-metadata file (a lineage row, a
    tombstone file) with pyarrow, exactly as Iceberg writes its commit
    metadata: to a temp name first, then renamed to a unique
    ``{prefix}-{uuid}.parquet`` (atomic on posix, so a reader never sees a
    partial file). Returns the file name."""
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f"_tmp-{uuid.uuid4().hex}.parquet")
    pq.write_table(table, tmp)
    name = f"{prefix}-{uuid.uuid4().hex}.parquet"
    os.replace(tmp, os.path.join(directory, name))
    return name


class WriterConflict(RuntimeError):
    """A second writer targeted the same index concurrently."""


class _writer_lock:
    """Advisory single-writer lock, held by every write call (build,
    update, stream drain, delete, compaction) from its first read to its
    commit. Two concurrent writers would pick the same chunk id, stage into
    one chunk dir and interleave their commits; Iceberg lets both write and
    rejects the second committer (optimistic concurrency) — here the second
    writer is refused before it stages anything.

    Acquisition is ``os.link`` of a fully-written temp file onto
    ``_WRITER_LOCK`` — atomic create-WITH-content, so a contender can never
    observe an empty lock file (an O_EXCL-create-then-write would have a
    window where a racing reader parses pid 0, "breaks" a live writer's
    lock, and two writers proceed). A lock whose pid is dead
    (crashed writer) is broken and retaken; losing the retake race to
    another breaker raises WriterConflict rather than corrupting.
    Reentrant per (thread, index_dir) so build_index or _publish_pending →
    merge_index nest under one hold; a SECOND THREAD of the same process
    is a conflict, not a reentry (the pid file can't arbitrate in-process
    writers — the threaded WSGI server + background-ingest topology needs
    the map-based check)."""

    _guard = threading.Lock()
    _held: dict = {}  # index_dir -> owning thread ident, THIS process

    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.path = os.path.join(index_dir, "_WRITER_LOCK")
        self.owner = False

    def _try_link(self) -> bool:
        """Atomically publish a pid-bearing lock file; False if held."""
        tmp = f"{self.path}.tmp-{os.getpid()}-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(os.getpid()))
        try:
            os.link(tmp, self.path)
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)

    def __enter__(self):
        me = threading.get_ident()
        with _writer_lock._guard:
            holder = _writer_lock._held.get(self.index_dir)
            if holder == me:
                return self  # reentrant: outermost holder owns the file
            if holder is not None:
                raise WriterConflict(
                    f"index at {self.index_dir!r} has a live writer in this "
                    f"process (thread {holder}); concurrent writers would "
                    "interleave — serialize writers onto one thread"
                )
            # reserve in-process BEFORE touching the filesystem so a second
            # thread can't race between our link and the _held insert
            _writer_lock._held[self.index_dir] = me
        try:
            os.makedirs(self.index_dir, exist_ok=True)
            if not self._try_link():
                try:
                    with open(self.path) as f:
                        pid = int(f.read().strip() or "0")
                except (OSError, ValueError):
                    pid = 0
                if pid and _pid_alive(pid):
                    raise WriterConflict(
                        f"index at {self.index_dir!r} has a live writer "
                        f"(pid {pid}, {self.path}); concurrent writers "
                        "would interleave — wait for it or remove the lock "
                        "if it is stale"
                    ) from None
                # dead owner: break the stale lock and retake it; losing
                # the retake race to another breaker is a conflict
                try:
                    os.remove(self.path)
                except OSError:
                    pass
                if not self._try_link():
                    raise WriterConflict(
                        f"index at {self.index_dir!r}: lost the stale-lock "
                        f"retake race to another writer ({self.path})"
                    )
        except BaseException:
            with _writer_lock._guard:
                _writer_lock._held.pop(self.index_dir, None)
            raise
        self.owner = True
        return self

    def __exit__(self, *exc):
        if self.owner:
            with _writer_lock._guard:
                _writer_lock._held.pop(self.index_dir, None)
            try:
                os.remove(self.path)
            except OSError:
                pass
        return False


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def staged_chunks(index_dir: str) -> set[int]:
    """Chunks whose lineage row committed (completed phase-A units).

    Lineage is driver-written commit metadata (one tiny file per chunk), so
    it is read back driver-side with pyarrow — no Spark job on the staging
    path. pyarrow's dataset discovery skips ``_``/``.``-prefixed
    files, so legacy Spark-written ``_SUCCESS`` markers are ignored, and
    legacy Spark-written lineage part-files read back identically."""
    import pyarrow.parquet as pq

    lineage_path = os.path.join(index_dir, "_lineage")
    if not os.path.exists(lineage_path):
        return set()
    table = pq.read_table(lineage_path, columns=["chunk"])
    return {int(c) for c in table.column("chunk").to_pylist()}


def _chunk_files(path: str) -> list[str]:
    """Parquet part-files under a dataset dir (deterministic order)."""
    import glob as _glob

    files = sorted(
        f
        for f in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    )
    return files or [path]


def build_index(
    spark: SparkSession,
    docs: DataFrame | str,
    index_dir: str,
    *,
    lang: str | None = "en",
    n_chunks: int = 1,
) -> BuildResult:
    """Build the full index under ``index_dir``.

    Layout: staged/ (phase A, per-chunk), docs/, lexicon/, postings/,
    _lineage/, tombstones/, _SUCCESS.json (the commit record,
    the only snapshot state) and stats.json (metrics of the last segment
    build; the engine never reads it).

    ``docs`` is a DataFrame or a parquet dataset PATH. ``n_chunks > 1``
    needs a path: chunks are cut at the FILE LISTING (round-robin over the
    sorted part-files), so each phase-A pass reads ONLY its slice of the
    input — n_chunks staged passes cost one total scan. A DataFrame is
    staged as one chunk (``n_chunks > 1`` raises ValueError).

    Each slice is staged through ``_stage_unseen``, the new-vs-existing
    rule every writer shares, against the chunks committed before this
    call, then every chunk is merged into one segment (``merge_index``).
    Into an empty dir nothing is joined. After a crash mid-build, rerunning
    the same call resumes: the finished slices stage nothing and only the
    unfinished ones are tokenized, whatever update or drain ran in
    between. On a dir that holds an index, the input's unseen urls are
    added and the index is compacted. The whole call holds the writer lock,
    so a second writer is refused (WriterConflict) before it stages
    anything.

    The result's ``chunks_processed`` counts the input slices this call
    ran through staging (a slice with no unseen url stages no chunk);
    ``chunks_skipped`` the chunks committed before it.
    """
    t0 = time.time()
    by_files = n_chunks > 1
    if by_files and not isinstance(docs, str):
        raise ValueError(
            "build_index: n_chunks > 1 cuts chunks at the file listing, so "
            "docs must be a parquet path, not a DataFrame"
        )
    if by_files:
        files = _chunk_files(docs)
    elif isinstance(docs, str):
        docs = spark.read.parquet(docs)

    # A committed _SUCCESS.json stays in place while chunks are staged: it
    # describes the COMMITTED tables, which staging never touches, so
    # concurrent queries keep serving the old snapshot until merge_index
    # commits the new one (the Iceberg reader story).
    with _writer_lock(index_dir):
        seen = staged_chunks(index_dir)
        for chunk in range(n_chunks):
            if by_files:
                # listing-level slice: this pass reads ONLY these files
                part = files[chunk::n_chunks]
                if not part:
                    continue
                cdf, n_files = spark.read.parquet(*part), len(part)
            else:
                cdf, n_files = docs, -1
            _stage_unseen(spark, cdf, index_dir, lang, seen, n_files)
        result = merge_index(spark, index_dir)
    result.chunks_processed = n_chunks
    result.chunks_skipped = len(seen)
    result.wall_s = time.time() - t0
    return result


def update_index(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    *,
    lang: str | None = "en",
) -> BuildResult:
    """Incremental UPDATE: stage only genuinely-new documents as a fresh
    chunk, then publish it (``_publish_pending``, shared with ingest_stream).
    The Spark analog of the reference's UPDATE mode (pdf_downloader.py:133-152
    anti-join + preprocess.py:250-288 FAISS merge_from): new-vs-existing is
    ``_stage_unseen``, the url anti-join against the lineage-committed staged
    chunks that ingest_stream shares, so re-sending the same batch adds no
    docs — it stages no chunk — and a deleted url stays deleted. The whole
    call holds the writer lock, so a second writer is refused
    (WriterConflict) before it stages anything.

    The pending chunks are packed into one new doc-disjoint segment
    (postings/docs/lexicon under a fresh ``seg=N``); existing segment files
    are never read or rewritten, so an append's phase-B wall time is
    proportional to the DELTA, not the corpus. This is the plain-parquet realization of an
    Iceberg snapshot append / ``MERGE INTO`` over term-keyed partitions.
    Query-time exactness: segments are doc-disjoint, per-(segment, slice)
    WAND local top-k composes exactly, and idf/avgdl are merged globals
    (never baked into posting bytes — the block bounds are avgdl-free, see
    POSTINGS_SCHEMA). With no committed base the staged chunks are
    re-merged instead. A caller that wants a full compaction — one segment,
    byte-identical to a from-scratch build — calls ``merge_index``.

    Lifecycle: after a segment append, if the data-segment count exceeds
    MAX_SEGMENTS, the index is auto-compacted back to one segment, which
    bounds query-time probe fan-out (see _publish_pending). That
    compaction rewrites the whole corpus, so the amortized cost of an
    update is about corpus/MAX_SEGMENTS + delta, not delta alone: on a
    copy of a 180k-doc index on a 4-vCPU host, the update that compacted
    took 17.4 s and the appends around it 1.1-1.5 s each. The result's
    ``compacted`` flag reports it.
    """
    t0 = time.time()
    # NOTE: the committed _SUCCESS.json stays valid throughout staging and
    # segment append — readers prune scans to the marker's segment list, so
    # the in-flight chunk/segment is invisible and queries keep serving the
    # old snapshot until _commit publishes the new one (same reader story
    # as ingest_stream and merge_index).
    with _writer_lock(index_dir):
        _stage_unseen(spark, new_docs, index_dir, lang)
        result = _publish_pending(spark, index_dir)
    result.wall_s = time.time() - t0
    return result


def _publish_pending(spark: SparkSession, index_dir: str) -> BuildResult:
    """Publish every staged chunk the commit record does not cover yet — the
    one phase-B step of update_index and ingest_stream, run under their
    writer lock.

    With no committed base (a fresh dir, a build that crashed before its
    first commit, or an index of another format) all staged chunks are
    merged into one compacted segment (``merge_index``). Otherwise ALL
    pending chunks are packed into one new segment (``_write_segment``),
    and when the data segments then exceed MAX_SEGMENTS they are folded
    into one compacted segment (``merge_index``; safe for readers, which
    finish on the replaced snapshot). Reconciling every
    pending chunk, not only the one a caller just staged, makes a crashed
    update retryable: the retry's _stage_unseen finds every url in the
    chunk the crash left and stages nothing, and the crashed chunk must
    still be packed.

    The result's ``chunks_processed`` counts the chunks this call newly
    covers; ``chunks_skipped`` the staged chunks already covered before."""
    try:
        base = check_index_format(index_dir)
    except RuntimeError:  # no committed base, or an index of another format
        base = None
    staged = staged_chunks(index_dir)
    pending = sorted(staged - set(base["covered_chunks"] if base else ()))
    if base is None:
        result = merge_index(spark, index_dir)
    elif not pending:
        result = BuildResult(
            index_dir=index_dir,
            n_docs=int(base["n_docs"]),
            avgdl=float(base["avgdl"]),
            wall_s=0.0,
            chunks_processed=0,
            chunks_skipped=0,
        )
    else:
        result = _write_segment(spark, index_dir, pending, base)
        data_segs = [
            s for s in check_index_format(index_dir)["segments"]
            if s < DELETE_SEG_BASE
        ]
        if len(data_segs) > MAX_SEGMENTS:
            result = merge_index(spark, index_dir)
            result.compacted = True
    result.chunks_processed = len(pending)
    result.chunks_skipped = len(staged) - len(pending)
    return result


def _seg_dirs(index_dir: str):
    """(path, id) of every ``seg=N`` dir on disk under postings/, docs/ and
    lexicon/ — committed, superseded or orphaned."""
    for table in ("postings", "docs", "lexicon"):
        p = os.path.join(index_dir, table)
        if os.path.isdir(p):
            for d in os.listdir(p):
                if d.startswith("seg="):
                    yield os.path.join(p, d), int(d.split("=", 1)[1])


def _next_seg_id(index_dir: str, lo: int, hi: int = 2**31) -> int:
    """A fresh segment id in the writer's range [lo, hi) (``seg`` is an int
    partition column): 1 + the largest id of the range with a dir on disk,
    or ``lo``. Every segment of the current and the previous snapshot is on
    disk, so the id is in neither, and an orphan a crashed writer left is
    never written over."""
    return 1 + max(
        (s for _, s in _seg_dirs(index_dir) if lo <= s < hi), default=lo - 1
    )


@dataclass
class DeleteResult:
    index_dir: str
    n_deleted: int  # docs actually tombstoned by THIS call
    n_docs: int  # live docs after the delete
    avgdl: float
    wall_s: float
    tombstone_file: str | None  # None when the call was a no-op


def _tombstone_df(spark: SparkSession, index_dir: str, files: list[str]):
    """Tombstoned doc_ids as a (tiny) DataFrame, or None when there are none.
    Read from the delete files directly so writer-side joins see exactly the
    committed delete set."""
    if not files:
        return None
    return (
        spark.read.parquet(
            *(os.path.join(index_dir, "tombstones", f) for f in files)
        )
        .select("doc_id")
        .distinct()
    )


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    urls,
) -> DeleteResult:
    """DELETE documents from a committed index by url — the Iceberg
    delete-file analog (takedown/GDPR shape) with EXACT BM25 semantics over
    the remaining corpus, at delta-proportional cost:

    - a **tombstone file** (parquet of doc_ids, written driver-side like the
      lineage commits) masks the docs out of query-time scoring — posting
      bytes are never rewritten (Iceberg positional deletes);
    - a **negative lexicon delta segment** (df/cf of the deleted docs' terms,
      negated) keeps the query-time df probe — and with it idf — exact: the
      probe SUMS df over the marker's segments, so subtraction is just one
      more segment. All lifetime deletes FOLD into a single delta segment
      (the previous delta is re-aggregated with the new one), so probe
      fan-out stays O(1) no matter how many takedown calls accumulate;
    - the commit record's **n_docs, avgdl** are decremented exactly from
      the deleted docs' doclens, keeping the BM25 length normalization
      exact.

    The result is bit-identical to an index built without the deleted docs
    (rank AND score — property-tested), while the delete itself costs one
    pushed-down scan of the staged table plus a |deleted|-sized aggregation.

    Scope: only docs in the COMMITTED snapshot (staged chunks listed in the
    commit record's covered_chunks) are deletable — a url sitting in a
    staged-but-unpublished chunk (one a crashed writer left behind) was
    never added to the committed n_docs, so subtracting it would corrupt
    n_docs/idf for the live corpus. Delete it after its chunk commits.

    Crash safety: the _SUCCESS.json rename (``_commit``) is the single
    commit point. The delta segment is written to a fresh id of the delete
    range first (never in any record until committed — every new segment
    list is the committed list plus the new segment, never a directory
    listing), the tombstone file second, the commit record last. A crash
    anywhere before that rename leaves the committed snapshot untouched plus
    an orphan delta dir, which the next commit removes; a retry re-finds the
    victims (their tombstone never committed) and performs the delete
    exactly once. The superseded delta stays on disk for one more commit,
    so a query on the previous snapshot can finish.

    Physical reclaim happens at the next compaction (merge_index excludes
    tombstoned docs when it rebuilds, so posting bytes shrink), but the
    tombstone files are retained forever: the staged chunks still hold the
    deleted rows (they are the resume/lineage anchor and are immutable), so
    the filter must survive every future rebuild. Deletion is therefore
    TERMINAL for a url in this index — update_index and ingest_stream stage
    only urls that no staged chunk holds (_stage_unseen), and the deleted
    row stays in its chunk, so neither a re-send nor a streaming drain that
    re-lands a deleted url can re-admit it.
    Re-admitting a deleted url requires a fresh build. Tombstone volume is
    ∝ lifetime deletes (8 bytes/doc), broadcast to executors once per
    snapshot version at query time.

    Idempotent: re-deleting already-tombstoned or unknown urls is a no-op
    (no double-subtraction of df/avgdl).
    """
    t0 = time.time()
    with _writer_lock(index_dir):
        old = check_index_format(index_dir)  # only committed snapshots mutate
        if isinstance(urls, DataFrame):
            url_df = urls.select("url").distinct()
        else:
            url_df = spark.createDataFrame(
                [(str(u),) for u in urls], "url string"
            ).distinct()

        # committed corpus only — see "Scope" in the docstring
        staged = _read_staged(spark, index_dir, old["covered_chunks"])
        victims = staged.join(F.broadcast(url_df), "url", "semi")
        tomb = _tombstone_df(spark, index_dir, old["tombstone_files"])
        if tomb is not None:
            # idempotence: docs already tombstoned must not subtract twice
            victims = victims.join(F.broadcast(tomb), "doc_id", "left_anti")
        # one row per doc even if one input batch held a url twice
        victims = (
            victims.select("doc_id", "doclen", "terms", "tfs")
            .dropDuplicates(["doc_id"])
            .persist()
        )
        old_delta_segs = [s for s in old["segments"] if s >= DELETE_SEG_BASE]
        try:
            hit = victims.select("doc_id", "doclen").collect()  # ≤ |urls| rows
            if not hit:
                return DeleteResult(
                    index_dir=index_dir,
                    n_deleted=0,
                    n_docs=int(old["n_docs"]),
                    avgdl=float(old["avgdl"]),
                    wall_s=time.time() - t0,
                    tombstone_file=None,
                )
            n_del = len(hit)
            dl_del = float(sum(int(r.doclen) for r in hit))
            doc_ids = sorted(int(r.doc_id) for r in hit)

            # negative lexicon delta, FOLDED with the previously committed
            # delta so exactly one delta segment is live at a time, under a
            # fresh id of the delete range (the superseded delta stays on
            # disk for one more commit, see _commit)
            seg = _next_seg_id(index_dir, DELETE_SEG_BASE)
            lex_delta = _term_stats(victims).select(
                "term_id", "term",
                (-F.col("df")).alias("df"), (-F.col("cf")).alias("cf"),
            )
            if old_delta_segs:
                prev = spark.read.parquet(
                    *(
                        os.path.join(index_dir, "lexicon", f"seg={s}")
                        for s in old_delta_segs
                    )
                ).select("term_id", "term", "df", "cf")
                lex_delta = (
                    lex_delta.unionByName(prev)
                    .groupBy("term_id", "term")
                    .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
                )
            _write_keyed(
                lex_delta, os.path.join(index_dir, "lexicon", f"seg={seg}"),
                "term_id", 1,
            )
        finally:
            victims.unpersist()

        # tombstone file: driver-written commit metadata, exactly like lineage
        import pyarrow as pa

        fname = _write_commit_file(
            os.path.join(index_dir, "tombstones"),
            "tomb",
            pa.table({"doc_id": pa.array(doc_ids, type=pa.int64())}),
        )

        n_docs = int(old["n_docs"]) - n_del
        avgdl = (
            (int(old["n_docs"]) * float(old["avgdl"]) - dl_del) / n_docs
            if n_docs
            else 0.0
        )
        _commit(
            index_dir,
            n_docs=n_docs,
            avgdl=avgdl,
            # the folded delta supersedes prior ones
            segments=[s for s in old["segments"] if s < DELETE_SEG_BASE] + [seg],
            covered_chunks=old["covered_chunks"],
            tombstone_files=old["tombstone_files"] + [fname],
            doc_rows=old["doc_rows"],
        )
        return DeleteResult(
            index_dir=index_dir,
            n_deleted=n_del,
            n_docs=n_docs,
            avgdl=avgdl,
            wall_s=time.time() - t0,
            tombstone_file=fname,
        )


def _term_stats(staged: DataFrame) -> DataFrame:
    """(term_id, term, df, cf) over the docs of ``staged``: one explode of
    the parallel (terms, tfs) arrays and one groupBy(term), whose map-side
    partial aggregation collapses the pairs to |vocab| rows. A doc's terms
    are distinct (tokenize_doc_udf counts them), so df is a row count."""
    return (
        staged.select(F.explode(F.arrays_zip("terms", "tfs")).alias("e"))
        .groupBy(F.col("e.terms").alias("term"))
        .agg(F.count("*").alias("df"), F.sum("e.tfs").alias("cf"))
        .select(F.xxhash64("term").alias("term_id"), "term", "df", "cf")
    )


def _write_keyed(df: DataFrame, path: str, key: str, n_files: int) -> None:
    """The one write of a table looked up by ``key`` (a segment's docs by
    doc_id, a lexicon or a delete delta by term_id): ``n_files`` rounded up
    to a power of two, 2^b with b >= 1, hive bucket dirs. The bucket of a
    row is the top b bits of its unsigned key, and its dir is named by the
    bucket's first key as a signed int64 (``bucket=<first key>``), so a
    reader maps a key to its dir from the names alone: no b, and no dir for
    an empty bucket. Each bucket is one file, sorted by key in
    ROW_GROUP_BYTES row groups, so a lookup reads only the row groups whose
    key min/max admit its keys. b >= 1, so the keys of one bucket share
    their sign bit: signed and unsigned order agree inside a file, and a
    segment's docs files read in unsigned bucket order are its docs in
    unsigned doc_id order, the order that numbers them
    (``query._DocOrdinals``). Bucket i is written by write task i alone."""
    b = max(1, (max(1, n_files) - 1).bit_length())
    index = F.shiftrightunsigned(F.col(key), 64 - b)
    (
        df.withColumn("bucket", F.shiftleft(index, 64 - b))
        .repartitionById(1 << b, index.cast("int"))
        .sortWithinPartitions("bucket", key)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .option("parquet.block.size", ROW_GROUP_BYTES)
        .parquet(path)
    )


def _check_term_collisions(lexicon: DataFrame) -> None:
    """xxhash64 collision between two distinct terms would silently merge
    their df/cf at the query-time probe and their postings under one id
    (ranking corruption) — detect on the small |vocab| relation and fail
    loudly; P(collision) ≈ |V|²/2⁶⁵ (~10⁻⁹ even at 10⁸ terms)."""
    dup = (
        lexicon.groupBy("term_id")
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise RuntimeError(
            f"xxhash64 term_id collision (term_id={dup[0]['term_id']}); "
            "two distinct terms share an id — the lexicon would merge "
            "their stats. Re-key with a wider/salted id."
        )


def _build_segment(
    spark: SparkSession,
    staged: DataFrame,
    index_dir: str,
    seg: int,
    *,
    n_docs: int,
    dl_sum: float,
    timings: dict,
) -> dict:
    """Pack one doc-disjoint SEGMENT: postings/seg=N, docs/seg=N,
    lexicon/seg=N. Segments are the incremental-update unit (the
    Iceberg-snapshot analog): per-slice WAND stays exact because docs are
    disjoint across segments, and BM25 globals (idf, avgdl) are merged at
    query/probe time, never baked into posting bytes.

    ``n_docs``/``dl_sum`` are the segment's doc count and total doc length;
    they size the shuffles and the slice count. Returns {rows, postings,
    max_p, avg_p, n_terms, slice_bits} for the build metrics.
    """
    # Right-size explicit shuffles from the just-measured stats — an
    # explicit repartition() is exempt from AQE coalescing. Partition count
    # scales with DATA (~1.5M pair rows ≈ 42 MB per pack partition), NOT
    # with the thread count: capping at P made each sort task hold
    # corpus/P rows, which went spill/GC-superlinear at 1M docs (measured:
    # postings phase 27 s at 270k docs → 358 s at 900k under a min(P, ...)
    # cap). Tiny corpora still floor at 4 partitions so a big session
    # doesn't pay P near-empty tasks per stage; excess partitions beyond
    # the thread count just queue as waves of right-sized tasks.
    est_pairs = max(1.0, dl_sum * 0.7)  # ≈ Σ distinct terms per doc
    P_pack = max(4, min(4096, int(est_pairs // 1_500_000) + 1))
    # pack partitions are doc ranges: the top range_bits bits of the
    # unsigned doc_id, so P_pack is rounded up to a power of two
    range_bits = (P_pack - 1).bit_length()
    P_docs = max(1, min(2048, n_docs // 2_000_000 + 1))
    # slice_bits derives from THIS segment's doc count: per-slice WAND and
    # the pack shuffle only ever see one segment's sub-lists, so a small
    # delta appended to a huge base correctly gets a small slice count
    slice_bits = derive_slice_bits(n_docs)
    seg_sub = f"seg={seg}"
    staged_docs = staged.select("doc_id", "url", "doclen")

    def _write_docs() -> None:
        tpd = time.time()
        _write_keyed(
            staged_docs, os.path.join(index_dir, "docs", seg_sub), "doc_id", P_docs
        )
        timings["docs_write"] = time.time() - tpd

    # ---- postings: the ONE heavy pass over the segment's (doc, term) pairs
    # pairs stream out of the columnar staged table (explode of parallel
    # primitive arrays — never materialized to storage); one shuffle by doc
    # range (top range_bits bits of the unsigned doc_id) sends each pack task
    # 1/P_pack of the docs, so of every term's postings, a hot term's too;
    # the within-partition sort gives (term_id, slice, unsigned-doc) order,
    # and each task maps its docs to ordinals from the docs rows of its
    # range. From ROW_GROUP_MIN_DOCS docs up, files are written in
    # ROW_GROUP_BYTES row groups whose min/max stats on the sorted term_id
    # prune query scans to the row groups of its terms.
    pairs = staged.select(
        "doc_id", "doclen", F.explode(F.arrays_zip("terms", "tfs")).alias("e")
    ).select(
        "doc_id", "doclen", F.col("e.terms").alias("term"), F.col("e.tfs").alias("tf")
    )
    doc_sort = F.col("doc_id").bitwiseXOR(F.lit(LONG_MIN))  # unsigned order
    # slice never materializes as a column (4 fewer bytes per pair row; the
    # packer computes it from doc_id). Sorting (term_id, unsigned doc)
    # already yields (term_id, slice, doc) order because slices are doc
    # prefixes.
    doc_range = F.shiftrightunsigned(F.col("doc_id"), 64 - range_bits)

    def _write_postings(doc_ords: _DocOrdinals) -> list:
        tpp = time.time()
        # numeric-only columns cross the Arrow boundary: zero-copy into
        # numpy, no Python string materialization in the packer workers
        postings = (
            pairs.select(F.xxhash64("term").alias("term_id"), "doc_id", "tf", "doclen")
            .repartitionById(1 << range_bits, doc_range.cast("int"))
            .sortWithinPartitions("term_id", doc_sort)
            .mapInArrow(
                _pack_groups(slice_bits, range_bits, doc_ords), schema=POSTINGS_SCHEMA
            )
        )
        path = os.path.join(index_dir, "postings", seg_sub)
        writer = postings.write.mode("overwrite")
        if n_docs >= ROW_GROUP_MIN_DOCS:
            writer = writer.option("parquet.block.size", ROW_GROUP_BYTES)
        writer.parquet(path)
        # per-pack-partition counts for the metrics: ≤ P_pack rows; column
        # pruning reads only (pid, n), never the block binaries, and the
        # known schema skips a footer-inference job
        per_pid = (
            spark.read.schema(POSTINGS_SCHEMA).parquet(path)
            .groupBy("pid")
            .agg(F.count("*").alias("rows"), F.sum("n").alias("postings"))
            .collect()
        )
        timings["postings"] = time.time() - tpp
        return per_pid

    # ---- lexicon: per-term df/cf straight from the staged term arrays, so
    # it never waits for (or re-reads) the postings. Global df/cf are the SUM
    # over segments, aggregated at the (tiny, row-group-pruned) query-time
    # probe.
    def _write_segment_lexicon() -> int:
        from pyspark.sql import Observation

        tpl = time.time()
        lexicon = _term_stats(staged).persist()
        try:
            _check_term_collisions(lexicon)
            # segment term count observed during the write (no read-back job)
            obs = Observation()
            _write_keyed(
                lexicon.observe(obs, F.count(F.lit(1)).alias("rows")),
                os.path.join(index_dir, "lexicon", seg_sub),
                "term_id",
                max(1, P_pack // 4),
            )
            n_terms = int(obs.get["rows"])
        finally:
            lexicon.unpersist()
        timings["lexicon"] = time.time() - tpl
        return n_terms

    # the postings need the docs (their ordinals are docs row positions), so
    # docs are written first; the lexicon is an independent DAG and runs
    # concurrently with both, filling scheduler slots the pack shuffle
    # leaves idle (matters most at low parallelism; on a cluster this is
    # plain multi-job scheduling)
    _BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old_batch = spark.conf.get(_BATCH_KEY, None)
    spark.conf.set(_BATCH_KEY, str(PACK_ARROW_BATCH))
    try:
        with ThreadPoolExecutor(1) as ex:
            f_lex = ex.submit(_write_segment_lexicon)
            _write_docs()
            # the new docs files' footers, read once here: each pack task
            # reads only the row groups of its own doc range
            [(_, files)] = _KeyedTable(
                os.path.join(index_dir, "docs"), "doc_id", [seg]
            ).segments
            per_pid = _write_postings(_DocOrdinals(files, n_docs))
            n_terms = f_lex.result()
    finally:
        if old_batch is not None:
            spark.conf.set(_BATCH_KEY, old_batch)
        else:
            spark.conf.unset(_BATCH_KEY)
    counts = [int(r.postings) for r in per_pid]
    return {
        "rows": sum(int(r.rows) for r in per_pid),
        "postings": sum(counts),
        "max_p": float(max(counts, default=0)),
        "avg_p": sum(counts) / len(counts) if counts else 0.0,
        "n_terms": n_terms,
        "slice_bits": slice_bits,
    }


def _clear_dir(path: str) -> None:
    import shutil

    if os.path.exists(path):
        shutil.rmtree(path)


def _commit(
    index_dir: str,
    *,
    n_docs: int,
    avgdl: float,
    segments: list[int],
    covered_chunks: list[int] | set[int],
    tombstone_files: list[str],
    doc_rows: dict,
) -> None:
    """Publish one snapshot — the one commit step of every writer (build,
    append, delete, compaction). The atomic rename of _SUCCESS.json is the
    ONLY commit point (the Iceberg metadata-pointer swap): a query reads the
    record once and gets its segment list, scoring globals and delete files
    from the same commit, and a crash before the rename leaves the previous
    snapshot whole.

    - ``segments``: the committed list plus whatever this commit adds —
      never a directory listing, so orphan dirs of a crashed writer stay
      unpublished. Data segments (``_write_segment``) are the ids below
      DELETE_SEG_BASE, lexicon-only delete-delta segments the ids above.
    - ``covered_chunks``: the staged chunks the segments contain. A segment
      id names no chunk: a compaction, and an append of several pending
      chunks, pack many chunks into one segment.
    - ``tombstone_files``: this snapshot's delete files under tombstones/
      (Iceberg positional-delete analog); readers mask them, merges exclude
      them.
    - ``doc_rows``: each data segment's docs row count (keyed by the id as
      a string), its ordinal count: a reader checks the segment's docs
      files against it (``query._DocOrdinals``), since a lost docs row
      would map every later ordinal to another doc.
    - ``version``: unique per commit — the query's snapshot handle keys on it,
      not on mtime, which back-to-back appends can share.

    After the rename, every ``seg=N`` table dir that is in neither this
    record nor the one it replaced is removed: the segments a compaction or
    a folded delete superseded one commit ago, and orphans of crashed
    writers. The previous snapshot thus stays readable for one more commit,
    so a query started on it finishes (the Iceberg snapshot-expiry analog);
    this is the only place a table dir is removed."""
    keep = set(segments) | set(read_commit(index_dir).get("segments", ()))
    _atomic_json(
        os.path.join(index_dir, "_SUCCESS.json"),
        {
            "format": INDEX_FORMAT,
            "version": uuid.uuid4().hex,
            "n_docs": int(n_docs),
            "avgdl": float(avgdl),
            "segments": sorted(int(s) for s in segments),
            "covered_chunks": sorted(int(c) for c in covered_chunks),
            "tombstone_files": list(tombstone_files),
            "doc_rows": {str(s): int(n) for s, n in doc_rows.items()},
        },
    )
    for seg_dir, s in _seg_dirs(index_dir):
        if s not in keep:
            _clear_dir(seg_dir)


def _write_build_metrics(
    index_dir: str, seg_stats: dict, timings: dict, wall: float, **extra
) -> None:
    """stats.json: metrics of the segment build that just ran, written after
    the commit. Write-only — nothing in the engine reads it."""
    _atomic_json(
        os.path.join(index_dir, "stats.json"),
        {
            "n_postings": seg_stats["postings"],
            "n_posting_rows": seg_stats["rows"],
            "skew_ratio": (
                seg_stats["max_p"] / seg_stats["avg_p"]
                if seg_stats["avg_p"] else 1.0
            ),
            "slice_bits": seg_stats["slice_bits"],
            "phase_timings_s": {k: round(v, 3) for k, v in timings.items()},
            "build_wall_s": wall,
            "postings_per_sec": seg_stats["postings"] / wall if wall > 0 else 0.0,
            **extra,
        },
        indent=2,
    )


def _atomic_json(path: str, obj, *, indent=None) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=indent)
    os.replace(tmp, path)


def merge_index(
    spark: SparkSession,
    index_dir: str,
) -> BuildResult:
    """Phase B COMPACTION: every lineage-committed staged chunk, minus the
    tombstoned docs, packed into one segment that replaces all segments
    (``_write_segment`` with no base) — the analog of Iceberg's rewrite
    action, which is one more snapshot. The replaced snapshot's segments
    stay on disk until the next commit, so a query running on it finishes;
    a crash before the commit leaves it whole, plus an orphan segment dir
    that the next commit removes. Incremental updates instead add a delta
    segment (``update_index``)."""
    with _writer_lock(index_dir):
        return _write_segment(spark, index_dir, sorted(staged_chunks(index_dir)))


def _write_segment(
    spark: SparkSession,
    index_dir: str,
    chunks: list[int],
    base: dict | None = None,
) -> BuildResult:
    """The one segment writer: pack the staged ``chunks`` into ONE segment
    under a fresh data-segment id and publish it with ``_commit``.

    - ``base`` None (compaction, ``merge_index``): ``chunks`` are every
      lineage-committed chunk; tombstoned docs are left out (physical
      reclaim) and the new segment replaces all segments. An empty
      compaction still writes its segment.
    - ``base`` the committed record (append, ``_publish_pending``):
      ``chunks`` are its pending chunks, packed as they were staged
      (_stage_unseen already dropped every url the index holds, tombstoned
      ones included), and the segment is added next to the base's. The
      global stats merge exactly (avgdl is a weighted mean). Chunks that are
      all empty (staged before empty chunks were dropped) commit only their
      coverage."""
    t0 = time.time()
    timings: dict[str, float] = {}
    staged = _read_staged(spark, index_dir, chunks)
    if base is None:
        # physical reclaim of deletes: the tombstone files carry forward —
        # the immutable staged chunks still hold the deleted rows, so every
        # future rebuild must keep filtering (see delete_docs). Read from
        # the raw record, so the deletes of an index of another format carry
        # into its rebuild too.
        tomb_files = list(read_commit(index_dir).get("tombstone_files", []))
        tomb = _tombstone_df(spark, index_dir, tomb_files)
        if tomb is not None:
            staged = staged.join(F.broadcast(tomb), "doc_id", "left_anti")
        base_n, base_dl, segments, covered, doc_rows = 0, 0.0, [], [], {}
    else:
        tomb_files = base["tombstone_files"]
        base_n = int(base["n_docs"])
        base_dl = base_n * float(base["avgdl"])
        segments, covered = base["segments"], base["covered_chunks"]
        doc_rows = base["doc_rows"]

    srow = staged.agg(
        F.count("*").alias("n"), F.sum("doclen").alias("dl_sum")
    ).collect()[0]
    n_seg, dl_seg = int(srow.n), float(srow.dl_sum or 0.0)
    timings["stats"] = time.time() - t0
    n_docs = base_n + n_seg
    avgdl = (base_dl + dl_seg) / n_docs if n_docs else 0.0

    seg_stats = None
    if n_seg or base is None:
        seg = _next_seg_id(index_dir, 0, DELETE_SEG_BASE)
        seg_stats = _build_segment(
            spark, staged, index_dir, seg,
            n_docs=n_seg, dl_sum=dl_seg, timings=timings,
        )
        segments = segments + [seg]
        doc_rows = {**doc_rows, str(seg): n_seg}
    _commit(
        index_dir,
        n_docs=n_docs,
        avgdl=avgdl,
        segments=segments,
        covered_chunks=set(covered) | set(chunks),
        tombstone_files=tomb_files,
        doc_rows=doc_rows,
    )
    wall = time.time() - t0
    if seg_stats is not None:
        # a compaction leaves exactly one segment, so the segment's observed
        # lexicon row count IS the global term count — no read-back job
        extra = {"n_terms": seg_stats["n_terms"]} if base is None else {}
        _write_build_metrics(index_dir, seg_stats, timings, wall, **extra)
    return BuildResult(
        index_dir=index_dir,
        n_docs=n_docs,
        avgdl=avgdl,
        wall_s=wall,
        chunks_processed=0,
        chunks_skipped=0,
    )
