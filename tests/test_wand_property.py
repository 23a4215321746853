"""WAND == brute force on random posting sets (SURVEY.md §5.2-3).

Unit-tests the shared plan's block-max WAND group function (``_wand_groups``)
directly (no Spark session) against brute-force scoring, including
adversarial tie cases.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from statschat_ke_spark.index.codec import (
    BLOCK,
    encode_doc_ids,
    encode_tfs,
    vbyte_encode,
)
from statschat_ke_spark.index.query import K1, B, _wand_groups


def _build_slice_pdf(term_postings: dict[int, list[tuple[int, int, int]]], avgdl: float):
    """term_id -> [(doc_u, tf, dl)] sorted by doc_u → postings pdf + idf map."""
    rows = []
    idf_map = {}
    n_docs = 1000
    for term_id, plist in term_postings.items():
        plist = sorted(plist)
        df = len(plist)
        idf = math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        idf_map[term_id] = idf
        for b, start in enumerate(range(0, len(plist), BLOCK)):
            chunk = plist[start : start + BLOCK]
            docs = np.array([d for d, _, _ in chunk], dtype=np.uint64)
            tfs = np.array([t for _, t, _ in chunk], dtype=np.uint64)
            dls = np.array([l for _, _, l in chunk], dtype=np.uint64)
            rows.append(
                {
                    "term_id": term_id,
                    "slice": 0,
                    "block_id": b,
                    "n": len(chunk),
                    "doc_ids": encode_doc_ids(docs),
                    "tfs": encode_tfs(tfs),
                    "dls": vbyte_encode(dls),
                    "block_max_tf": int(tfs.max()),
                    "block_min_dl": int(dls.min()),
                    "first_doc": int(docs[0].view(np.int64)),
                    "last_doc": int(docs[-1].view(np.int64)),
                }
            )
    return pd.DataFrame(rows), idf_map


def _wand_one(idf_map, avgdl, k, pdf):
    """One query's local top-k from the shared plan's group function, for a
    single (seg, wg, qb) group holding every posting."""
    out = _wand_groups({0: idf_map}, idf_map, avgdl, k, None, 1)((0, 0, 0), pdf)
    return out.drop(columns="query_id")


def _brute_force(term_postings, idf_map, avgdl, k):
    scores: dict[int, float] = {}
    for term_id, plist in term_postings.items():
        w = idf_map[term_id]
        for d, tf, dl in plist:
            s = w * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
            scores[d] = scores.get(d, 0.0) + s
    ranked = sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:k]
    return ranked


def test_wand_matches_bruteforce_random():
    rng = np.random.default_rng(7)
    for trial in range(30):
        n_terms = int(rng.integers(1, 6))
        avgdl = float(rng.integers(50, 300))
        term_postings = {}
        doc_pool = rng.integers(0, 2**63, size=800, dtype=np.uint64)
        doc_pool = np.unique(doc_pool)[:400]
        for t in range(n_terms):
            df = int(rng.integers(1, 350))
            docs = rng.choice(doc_pool, size=df, replace=False)
            plist = [
                (int(d), int(rng.integers(1, 8)), int(rng.integers(20, 400)))
                for d in docs
            ]
            term_postings[1000 + t] = plist
        pdf, idf_map = _build_slice_pdf(term_postings, avgdl)
        for k in (0, 1, 5, 20):
            got = _wand_one(idf_map, avgdl, k, pdf)
            want = _brute_force(term_postings, idf_map, avgdl, k)
            got_ids = got.doc_id.to_numpy().view(np.uint64).tolist()
            assert got_ids == [d for d, _ in want], f"trial={trial} k={k}"
            assert np.allclose(
                got.score.to_numpy(), [s for _, s in want], atol=1e-9
            )


def test_wand_exact_ties():
    """Docs with identical (tf, dl) across all terms — tie-break on doc_id."""
    avgdl = 100.0
    plist = [(d, 3, 100) for d in [10, 5, 99, 42, 7]]
    term_postings = {1: plist, 2: [(d, 1, 100) for d, _, _ in plist]}
    pdf, idf_map = _build_slice_pdf(term_postings, avgdl)
    got = _wand_one(idf_map, avgdl, 3, pdf)
    want = _brute_force(term_postings, idf_map, avgdl, 3)
    assert got.doc_id.to_numpy().view(np.uint64).tolist() == [d for d, _ in want]
