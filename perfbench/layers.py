"""Per-layer measurements taken directly on the engine's outputs: the
tokenizer on a text sample, the codec on the query terms' real posting
blocks (read with pyarrow), bytes on disk, and process-tree memory."""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from statschat_ke_spark.functions.tokenize import tokenize
from statschat_ke_spark.index.codec import (
    decode_doc_ids,
    decode_tfs,
    encode_doc_ids,
    encode_tfs,
)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def tokenize_ns_per_token(corpus_dir: str, n_docs: int = 2000, reps: int = 3) -> float:
    """Median over ``reps`` passes of ``tokenize`` over a fixed text sample."""
    first = sorted(glob.glob(os.path.join(corpus_dir, "*.parquet")))[0]
    texts = pq.read_table(first, columns=["text"]).column("text").to_pylist()[:n_docs]
    walls, n_tokens = [], 0
    for _ in range(reps):
        t0 = time.perf_counter()
        n_tokens = sum(len(tokenize(t)) for t in texts)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) / n_tokens * 1e9


class TermBlocks:
    """Posting blocks of a set of terms in one index, with per-term totals
    (postings, blocks, stored bytes) and codec timings over an evenly
    strided sample of at most ``codec_blocks`` of those blocks."""

    def __init__(self, index_dir: str, terms: set[str], codec_blocks: int = 3000):
        lex = ds.dataset(
            os.path.join(index_dir, "lexicon"), format="parquet", partitioning="hive"
        ).to_table(filter=pc.field("term").isin(sorted(terms)), columns=["term_id", "term"])
        ids = sorted(set(lex.column("term_id").to_pylist()))
        self.term_id = {}
        for tid, term in zip(lex.column("term_id").to_pylist(), lex.column("term").to_pylist()):
            self.term_id[term] = tid
        blocks = ds.dataset(
            os.path.join(index_dir, "postings"), format="parquet", partitioning="hive"
        ).to_table(
            filter=pc.field("term_id").isin(ids),
            columns=["term_id", "n", "doc_ids", "tfs", "dls"],
        )
        tid = blocks.column("term_id").to_numpy()
        n = blocks.column("n").to_numpy().astype(np.int64)
        doc_ids = blocks.column("doc_ids").to_pylist()
        tfs = blocks.column("tfs").to_pylist()
        nbytes = np.array(
            [len(a) + len(b) for a, b in zip(doc_ids, tfs)], dtype=np.int64
        ) + pc.binary_length(blocks.column("dls")).to_numpy(zero_copy_only=False)
        self.postings, self.blocks, self.bytes = {}, {}, {}
        for t in np.unique(tid):
            m = tid == t
            self.postings[int(t)] = int(n[m].sum())
            self.blocks[int(t)] = int(m.sum())
            self.bytes[int(t)] = int(nbytes[m].sum())

        pick = np.unique(np.linspace(0, len(n) - 1, min(len(n), codec_blocks)).astype(int))
        doc_ids = [doc_ids[i] for i in pick]
        tfs = [tfs[i] for i in pick]
        n = n[pick]
        total = int(n.sum())
        t0 = time.perf_counter()
        decoded = [(decode_doc_ids(d), decode_tfs(f)) for d, f in zip(doc_ids, tfs)]
        self.decode_ns = (time.perf_counter() - t0) / max(total, 1) * 1e9
        t0 = time.perf_counter()
        encoded = [(encode_doc_ids(d), encode_tfs(f)) for d, f in decoded]
        self.encode_ns = (time.perf_counter() - t0) / max(total, 1) * 1e9
        self.codec_bytes_per_posting = sum(
            len(d) + len(f) for d, f in zip(doc_ids, tfs)
        ) / max(total, 1)
        # the codec round trip must reproduce the stored bytes exactly
        self.roundtrip_ok = all(
            e[0] == d and e[1] == f and len(x[0]) == k
            for e, d, f, x, k in zip(encoded, doc_ids, tfs, decoded, n.tolist())
        )

    def _sum(self, table: dict, terms) -> int:
        ids = {self.term_id[t] for t in terms if t in self.term_id}
        return sum(table.get(i, 0) for i in ids)

    def postings_of(self, terms) -> int:
        return self._sum(self.postings, terms)

    def blocks_of(self, terms) -> int:
        return self._sum(self.blocks, terms)

    def bytes_of(self, terms) -> int:
        return self._sum(self.bytes, terms)


def peak_rss_mb() -> float:
    """Σ VmHWM (peak resident set) over this process and its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                s = f.read().decode("latin1")
        except OSError:
            continue
        ppid = int(s[s.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total_kb, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024
