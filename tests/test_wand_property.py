"""WAND == brute force on random posting sets (SURVEY.md §5.2-3).

Unit-tests the shared plan's block-max WAND group function (``_wand_groups``)
directly (no Spark session) against brute-force scoring, including
adversarial tie cases and tombstoned docs. The kernel compares doc keys only
by order, so these blocks key docs by their doc ids (an identity ordinal
map) where the engine's blocks hold segment ordinals.
"""

from __future__ import annotations

import math
from types import SimpleNamespace

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


def _wand_one(idf_map, avgdl, k, pdf, dead=None):
    """One query's local top-k from the shared plan's group function, for a
    single (seg, wg, qb) group holding every posting. The blocks key docs
    by their doc ids, so segment 0's ordinal -> doc_id map (the docs
    broadcast) is the identity; ``dead`` (sorted uint64 doc ids) stands in
    for the tombstone broadcast."""
    dead_bc = None if dead is None else SimpleNamespace(value={0: dead})
    docs_bc = SimpleNamespace(
        value={0: SimpleNamespace(doc_ids=lambda ords: ords.view(np.int64))}
    )
    out = _wand_groups({0: idf_map}, idf_map, avgdl, k, dead_bc, 1, docs_bc)((0, 0, 0), pdf)
    return out.drop(columns="query_id")


def _brute_force(term_postings, idf_map, avgdl, k, dead=None):
    dead = set() if dead is None else set(dead.tolist())
    scores: dict[int, float] = {}
    for term_id, plist in term_postings.items():
        w = idf_map[term_id]
        for d, tf, dl in plist:
            if d in dead:
                continue
            s = w * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
            scores[d] = scores.get(d, 0.0) + s
    ranked = sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:k]
    return ranked


def test_wand_matches_bruteforce_random():
    """Odd trials are tie-heavy (tf 1-3, dl in {50, 100, 150}); two trials
    in three tombstone up to 60 of the docs, checked against a brute force
    over the live docs. df stays <= the helper's n_docs (1000), so every
    idf is positive."""
    rng = np.random.default_rng(7)
    for trial in range(60):
        tie_heavy = trial % 2 == 1
        n_terms = int(rng.integers(1, 6))
        avgdl = float(rng.integers(50, 300))
        term_postings = {}
        doc_pool = rng.integers(0, 2**63, size=800, dtype=np.uint64)
        doc_pool = np.unique(doc_pool)[:400]
        for t in range(n_terms):
            df = int(rng.integers(1, 350))
            docs = rng.choice(doc_pool, size=df, replace=False)
            plist = [
                (int(d), int(rng.integers(1, 4)), int(rng.choice([50, 100, 150])))
                if tie_heavy
                else (int(d), int(rng.integers(1, 8)), int(rng.integers(20, 400)))
                for d in docs
            ]
            term_postings[1000 + t] = plist
        dead = None
        if trial % 3:
            dead = np.sort(rng.choice(doc_pool, size=int(rng.integers(1, 61)), replace=False))
        pdf, idf_map = _build_slice_pdf(term_postings, avgdl)
        for k in (0, 1, 5, 20, 100):
            got = _wand_one(idf_map, avgdl, k, pdf, dead)
            want = _brute_force(term_postings, idf_map, avgdl, k, dead)
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


def test_wand_tie_under_rounded_interval_bound():
    """An exact tie for rank 1 where the level-1 sweep rounds one tied doc's
    interval bound 1 ulp BELOW its score. Term 2's single block spans term
    1's seven blocks, so the running sum drifts as each term-1 block bound
    is added and subtracted. Docs 2250 and 6250 tie at bm_1(tf 8) + bm_2;
    6250's interval bound is exact, so it is scored first and sets θ, and
    only the eps margin on θ keeps 2250's interval, and with it the doc_id
    tie-break, in play (without the margin WAND returns 6250)."""
    avgdl = 100.0
    term1 = []
    term2 = [(0, 1, 150), (8000, 1, 150)] + [(7999 - i, 1, 150) for i in range(84)]
    for j, tf in enumerate([1, 8, 5, 6, 2, 8, 7]):
        lo = 1000 * (j + 1)
        # the block's max tf and min dl sit on one doc, shared with term 2
        term1 += [(lo + 250, tf, 50), (lo, 1, 150), (lo + 500, 1, 150)]
        term1 += [(lo + 1 + i, 1, 150) for i in range((128 if j < 6 else 6) - 3)]
        term2.append((lo + 250, 2, 50))
    term_postings = {1: term1, 2: term2}
    pdf, idf_map = _build_slice_pdf(term_postings, avgdl)
    want = _brute_force(term_postings, idf_map, avgdl, 2)
    assert [d for d, _ in want] == [2250, 6250] and want[0][1] == want[1][1]
    got = _wand_one(idf_map, avgdl, 1, pdf)
    assert got.doc_id.tolist() == [2250]
