"""Exact BM25 scorer the benchmark checks every engine result against.

It follows the ``statschat_ke_spark/index/oracle.py`` spec (lowercase
``[a-z0-9]+`` tokens, Lucene idf, k1=1.2, b=0.75, distinct query terms,
score desc then unsigned doc_id asc, ``en`` documents only) but shares no
code with the engine: one Spark scan counts, per document, its length and
the term frequency of each ``questions.POOL_TERMS`` term. Any question over
those terms can then be scored for any subset of the corpus (a delta added,
urls deleted) with numpy alone.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

from perfbench.questions import OOV_PREFIX, POOL_TERMS

K1 = 1.2
B = 0.75
TOKEN_RE = re.compile(r"[a-z0-9]+")

_SCAN_SCHEMA = (
    "id long, doc_id long, url string, en boolean, doclen int, text_bytes long, "
    "terms array<int>, tfs array<int>"
)


def _scan_partition(batches):
    import pandas as pd

    term_index = {t: i for i, t in enumerate(POOL_TERMS)}
    for pdf in batches:
        doclen, nbytes, terms, tfs = [], [], [], []
        for text in pdf["text"].fillna(""):
            counts = Counter(TOKEN_RE.findall(text.lower()))
            doclen.append(sum(counts.values()))
            nbytes.append(len(text.encode("utf-8")))
            hit = [(term_index[t], n) for t, n in counts.items() if t in term_index]
            terms.append([h[0] for h in hit])
            tfs.append([h[1] for h in hit])
        yield pd.DataFrame({
            "id": pdf["id"], "doc_id": pdf["doc_id"], "url": pdf["url"],
            "en": pdf["lang"] == "en", "doclen": doclen, "text_bytes": nbytes,
            "terms": terms, "tfs": tfs,
        })


def scan_corpus(spark, corpus_path: str, out_path: str) -> None:
    """Count pool-term frequencies over a corpus with an ``id`` column
    (0..n-1) and save them as one ``.npz`` of dense per-id arrays plus a
    term-major posting list (``ptr``/``rows``/``tfs``)."""
    from pyspark.sql import functions as F

    table = (
        spark.read.parquet(corpus_path)
        .select("id", F.xxhash64("url").alias("doc_id"), "url", "text", "lang")
        .mapInPandas(_scan_partition, _SCAN_SCHEMA)
        .toArrow()
        .sort_by("id")
    )
    ids = table.column("id").to_numpy()
    if not np.array_equal(ids, np.arange(len(ids))):
        raise RuntimeError(f"corpus ids at {corpus_path} are not 0..n-1")
    terms = table.column("terms").combine_chunks()
    lens = np.diff(terms.offsets.to_numpy())
    term_of = terms.values.to_numpy()
    tf_of = table.column("tfs").combine_chunks().values.to_numpy()
    row_of = np.repeat(np.arange(len(ids), dtype=np.int32), lens)
    order = np.argsort(term_of, kind="stable")
    ptr = np.zeros(len(POOL_TERMS) + 1, dtype=np.int64)
    ptr[1:] = np.cumsum(np.bincount(term_of, minlength=len(POOL_TERMS)))
    np.savez(
        out_path,
        doc_id=table.column("doc_id").to_numpy(),
        url=np.array(table.column("url").to_pylist()),
        en=table.column("en").to_numpy(zero_copy_only=False),
        doclen=table.column("doclen").to_numpy().astype(np.int64),
        text_bytes=table.column("text_bytes").to_numpy(),
        ptr=ptr,
        rows=row_of[order],
        tfs=tf_of[order].astype(np.int64),
    )


class Corpus:
    """The scan's arrays, loaded once per run."""

    def __init__(self, path: str):
        with np.load(path) as z:
            for name in z.files:
                setattr(self, name, z[name])
        self.doc_id_u = self.doc_id.astype(np.uint64)
        self.term_index = {t: i for i, t in enumerate(POOL_TERMS)}


class Scorer:
    """Exact top-k over the documents of ``corpus`` where ``alive`` is
    True, with n_docs and avgdl taken over that same set."""

    def __init__(self, corpus: Corpus, alive: np.ndarray):
        self.c = corpus
        self.alive = alive
        self.n_docs = int(alive.sum())
        self.avgdl = float(corpus.doclen[alive].mean())
        self._memo: dict[tuple[str, int], list[tuple[int, float]]] = {}

    def _postings(self, term: str):
        i = self.c.term_index.get(term)
        if i is None:
            if term.startswith(OOV_PREFIX):
                return None
            raise KeyError(f"question term {term!r} is outside the checked pool")
        lo, hi = self.c.ptr[i], self.c.ptr[i + 1]
        rows, tfs = self.c.rows[lo:hi], self.c.tfs[lo:hi]
        keep = self.alive[rows]
        return rows[keep], tfs[keep]

    def topk(self, question: str, k: int = 10) -> list[tuple[int, float]]:
        key = (question, k)
        if key not in self._memo:
            self._memo[key] = self._topk(question, k)
        return self._memo[key]

    def _topk(self, question: str, k: int) -> list[tuple[int, float]]:
        scores = np.zeros(len(self.alive), dtype=np.float64)
        touched = np.zeros(len(self.alive), dtype=bool)
        for term in dict.fromkeys(TOKEN_RE.findall(question.lower())):
            post = self._postings(term)
            if post is None or not len(post[0]):
                continue
            rows, tf = post[0], post[1].astype(np.float64)
            df = len(rows)
            idf = math.log((self.n_docs - df + 0.5) / (df + 0.5) + 1.0)
            dl = self.c.doclen[rows].astype(np.float64)
            # a term lists each document once, so the fancy-index add is exact
            scores[rows] += idf * tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * dl / self.avgdl)
            )
            touched[rows] = True
        rows = np.flatnonzero(touched)
        vals = scores[rows]
        if len(rows) > k:  # keep every row tied with the k-th best score
            keep = vals >= np.partition(vals, len(vals) - k)[len(vals) - k]
            rows, vals = rows[keep], vals[keep]
        order = np.lexsort((self.c.doc_id_u[rows], -vals))[:k]
        return [(int(self.c.doc_id[rows[i]]), float(vals[i])) for i in order]
