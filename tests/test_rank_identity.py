"""Rank-identity golden suite (north_rule): Spark engine == numpy oracle.

Mirrors the reference's golden-question evaluation
(/root/reference/statschat/model_evaluation/evaluation.py:250-326) with
exact assertions: identical doc_id sequences, scores to 1e-9, for block-max
WAND (per-query ``topk`` and ``topk_batch``).
"""

from __future__ import annotations

import numpy as np
import pytest

from statschat_ke_spark.index.oracle import OracleIndex
from statschat_ke_spark.index.query import topk


@pytest.fixture(scope="module")
def oracle(corpus_pdf):
    return OracleIndex(corpus_pdf)


def test_rank_identity_all_queries(spark, index_dir, oracle, queries):
    for q in queries.itertuples(index=False):
        golden = oracle.topk(q.query_text, int(q.k))
        got = topk(spark, index_dir, q.query_text, int(q.k)).toPandas()
        assert len(got) == len(golden), q.query_id
        assert (got.doc_id.to_numpy() == golden.doc_id.to_numpy()).all(), q.query_id
        assert np.allclose(got.score.to_numpy(), golden.score.to_numpy(), atol=1e-9)


def test_negative_query_empty(spark, index_dir):
    """An all-OOV question collects nothing, and once the probe memo knows
    its terms it runs no task: the empty result frame is built on the JVM
    side, not by a Python stage."""
    q = "xqzvk nonexistenttermxyz"
    got = topk(spark, index_dir, q, 10).toPandas()
    assert len(got) == 0

    sc = spark.sparkContext
    sc.setJobGroup("zero_hit", "all-OOV question")
    try:
        assert topk(spark, index_dir, q, 10).collect() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    tasks = sum(
        st.getStageInfo(s).numTasks
        for j in st.getJobIdsForGroup("zero_hit")
        for s in st.getJobInfo(j).stageIds
    )
    assert tasks == 0


def test_with_url(spark, index_dir, oracle):
    got = topk(
        spark, index_dir, "what was inflation in december 2023", 5, with_url=True
    ).toPandas()
    assert set(got.columns) == {"doc_id", "score", "url"}
    assert len(got) == 5
    assert got.url.notna().all()


def test_topk_batch_matches_per_query(spark, index_dir, queries):
    """topk_batch (one job, union pushdown, per-slice multi-query WAND) is
    row-identical to per-query topk for the whole golden set."""
    from statschat_ke_spark.index.query import topk_batch

    qmap = {int(q.query_id): q.query_text for q in queries.itertuples(index=False)}
    k = 10
    batch = topk_batch(spark, index_dir, qmap, k=k).toPandas()
    for qid, qtext in qmap.items():
        single = topk(spark, index_dir, qtext, k).toPandas()
        got = batch[batch.query_id == qid].sort_values("rank")
        assert list(got.doc_id) == list(single.doc_id), qid
        assert np.allclose(got.score.to_numpy(), single.score.to_numpy(), atol=1e-9)
        if len(got):
            assert list(got["rank"]) == list(range(1, len(got) + 1))


def test_wand_exact_tie_at_rank_k(spark, index_dir, oracle):
    """Regression: an exact score tie AT the kth slot must resolve by the
    unsigned-doc_id tie-break in WAND too. The interval upper bounds come
    out of a float sweep+cumsum whose rounding once pushed the tied doc's
    interval a few ulp below θ, so WAND skipped it while the oracle kept it
    (query.py _wand_groups eps margin). This query has two docs bit-equal at
    rank 10 on the 1k corpus."""
    q = "w09207 w02260 reports"
    golden = oracle.topk(q, 10)
    got = topk(spark, index_dir, q, 10).toPandas()
    assert list(got.doc_id) == list(golden.doc_id)
    # the tie is real: ranks 10 and 11 carry bit-identical scores
    g11 = oracle.topk(q, 11)
    assert g11.score.iloc[9] == g11.score.iloc[10]


def test_scores_bit_identical_across_groupings(spark, index_dir):
    """Emitted scores are a pure function of (index, query): BIT-identical
    across WAND slice-group counts and between topk and topk_batch. Per-doc
    partials are summed in canonical query-term order (query.py _wand_groups
    'Bit-reproducibility'); without that pin, the essential/non-essential
    split order varies with grouping and near-tied docs swap ranks by one
    ulp — caught by exactly such a swap on an all-common query at a pinned
    group count, reproduced here."""
    from statschat_ke_spark.index.query import topk_batch

    queries = {
        0: "and on have reports",  # all-common: many near-tied docs
        1: "w09207 w02260 reports",  # exact tie at rank 10 (see above)
        2: "inflation december county",
    }
    baseline = None
    for ng in (None, 1, 7, 64):
        got = (
            topk_batch(spark, index_dir, queries, k=10, n_groups=ng)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        if baseline is None:
            baseline = got
        else:
            assert list(got.doc_id) == list(baseline.doc_id), ng
            # bitwise, not allclose: the summation order is pinned
            assert (
                got.score.to_numpy().view(np.int64)
                == baseline.score.to_numpy().view(np.int64)
            ).all(), ng
    for qid, qtext in queries.items():
        single = topk(spark, index_dir, qtext, 10).toPandas()
        sub = baseline[baseline.query_id == qid]
        assert list(single.doc_id) == list(sub.doc_id), qid
        assert (
            single.score.to_numpy().view(np.int64)
            == sub.score.to_numpy().view(np.int64)
        ).all(), qid


def test_topk_batch_rank_identity_golden_scale(spark, index_dir, oracle, corpus_pdf):
    """Batch retrieval == numpy oracle over ~200 generated queries (mixed
    rare / common / multi-term / negative) with n_qb FORCED > 1, exercising
    the query-bucket postings-replication join (query.py term_buckets) that
    the 3-query contract entry never pushes past one bucket."""
    from statschat_ke_spark.functions.tokenize import tokenize
    from statschat_ke_spark.index.query import topk_batch

    # vocabulary drawn from the corpus itself, split by document frequency
    from collections import Counter

    df_counter: Counter[str] = Counter()
    for text in corpus_pdf.text:
        df_counter.update(set(tokenize(text)))
    by_df = sorted(df_counter.items(), key=lambda kv: kv[1])
    rare = [w for w, _ in by_df[:300]]
    common = [w for w, c in by_df if c >= len(corpus_pdf) * 0.3][:50]
    mid = [w for w, _ in by_df[len(by_df) // 2 : len(by_df) // 2 + 300]]

    rng = np.random.default_rng(1234)
    qmap: dict[int, str] = {}
    qid = 0
    for _ in range(60):  # rare-term queries (1-2 terms)
        qmap[qid] = " ".join(rng.choice(rare, size=rng.integers(1, 3)))
        qid += 1
    for _ in range(50):  # common/stopword-heavy queries
        qmap[qid] = " ".join(rng.choice(common, size=rng.integers(2, 5)))
        qid += 1
    for _ in range(60):  # mixed rare+mid+common
        parts = [rng.choice(rare), rng.choice(mid), rng.choice(common)]
        qmap[qid] = " ".join(parts)
        qid += 1
    for _ in range(20):  # negative or partially-negative
        neg = f"zzqx{rng.integers(0, 10**6):06d}"
        qmap[qid] = neg if qid % 2 else f"{neg} {rng.choice(mid)}"
        qid += 1
    assert len(qmap) == 190

    k = 10
    # n_groups pinned explicitly (runs the identical job at any parallelism —
    # must not change results vs the adaptive default, asserted per query)
    batch = topk_batch(spark, index_dir, qmap, k=k, n_qb=5, n_groups=7).toPandas()
    n_nonempty = 0
    for q, qtext in qmap.items():
        golden = oracle.topk(qtext, k)
        got = batch[batch.query_id == q].sort_values("rank")
        assert list(got.doc_id) == list(golden.doc_id), (q, qtext)
        assert np.allclose(got.score.to_numpy(), golden.score.to_numpy(), atol=1e-9)
        n_nonempty += len(got) > 0
    # sanity: the mix actually produced hits and misses
    assert n_nonempty >= 150
    assert n_nonempty < len(qmap)


def test_term_blocks_budget_cap(spark, index_dir, queries):
    """A WAND group's shared decode memo honors its byte budget: with a
    zero budget nothing is retained (every block decodes per use) and the
    emitted partials are bit-identical to the unbounded cache's."""
    import os

    import pandas as pd

    from statschat_ke_spark.index.query import _TermBlocks, check_index_format

    pst = (
        spark.read.parquet(os.path.join(index_dir, "postings"))
        .toPandas()
        .sort_values(["term_id", "slice", "block_id"])
    )
    avgdl = float(check_index_format(index_dir)["avgdl"])
    tid, g = next(iter(pst.groupby("term_id", sort=False)))

    unbounded = _TermBlocks(1.0, g, avgdl, {"left": 2**62})
    zero = {"left": 0}
    capped = _TermBlocks(1.0, g, avgdl, zero)
    for j in range(len(g)):
        du, su = unbounded.partials(j)
        dc, sc = capped.partials(j)
        assert (du == dc).all()
        assert (su.view("int64") == sc.view("int64")).all()  # bit-identical
    assert len(unbounded._cache) == len(g)  # memoized
    assert len(capped._cache) == 0  # budget respected
    assert zero["left"] == 0

    # partial budget: caches until spent, then stops — never negative
    first_cost = unbounded._cache[0][0].nbytes + unbounded._cache[0][1].nbytes
    part = {"left": first_cost}
    tb = _TermBlocks(1.0, g, avgdl, part)
    for j in range(len(g)):
        tb.partials(j)
    assert 0 <= part["left"] < first_cost + 1
    assert 1 <= len(tb._cache) <= len(g)


def test_derive_slice_bits_math():
    """slice_bits = ceil(log2(n_docs / target)), floored at the sandbox
    default 6, capped at 24 — the web-scale knob replacing the old
    compile-time constant. The 2^16 target is the BENCH_SKEW.json refit:
    it derives the measured-optimal 8 bits at the 9M-doc corpus and 24
    bits / ~16.7M slices (hottest term <= ~60k per slice) at 10^12."""
    from statschat_ke_spark.index.build import (
        DOCS_PER_SLICE_TARGET,
        SLICE_BITS,
        derive_slice_bits,
    )

    assert derive_slice_bits(1) == SLICE_BITS
    assert derive_slice_bits(3_240_000) == SLICE_BITS  # all pre-9M evidence
    assert derive_slice_bits(9_000_000) == 8  # BENCH_SKEW measured optimum
    # stays at the floor while n_docs/target <= 2^SLICE_BITS
    assert derive_slice_bits(DOCS_PER_SLICE_TARGET * (1 << SLICE_BITS)) == SLICE_BITS
    assert derive_slice_bits(DOCS_PER_SLICE_TARGET * (1 << SLICE_BITS) + 1) == 7
    assert derive_slice_bits(10**12) == 24  # design point: ~16.7M slices
    assert derive_slice_bits(10**15) == 24  # int32-slice cap


def test_scores_bit_identical_across_slice_bits(spark, corpus_df, index_dir,
                                                tmp_path, monkeypatch):
    """The doc-range slice count is pure physical layout: rebuilding the
    SAME corpus at coarser and finer slice_bits must leave every query's
    doc_ids AND score bits unchanged (scores are per-doc sums over the
    query's terms — slices only re-cut posting blocks; the canonical-order
    fold in _wand_groups keeps the summation order pinned regardless)."""
    import json
    import os

    from statschat_ke_spark.index import build
    from statschat_ke_spark.index.query import topk_batch

    queries = {
        0: "and on have reports",
        1: "w09207 w02260 reports",
        2: "inflation december county",
    }
    baseline = (
        topk_batch(spark, index_dir, queries, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    for sb in (3, 9):
        d = str(tmp_path / f"idx_sb{sb}")
        # force the layout: every segment derives its slice bits here
        monkeypatch.setattr(build, "derive_slice_bits", lambda n_docs: sb)
        build.build_index(spark, corpus_df.drop("text"), d)
        with open(os.path.join(d, "stats.json")) as f:
            assert json.load(f)["slice_bits"] == sb
        # the layout really changed: slice ids live in [0, 2^sb)
        mx = (
            spark.read.parquet(os.path.join(d, "postings"))
            .agg({"slice": "max"})
            .collect()[0][0]
        )
        assert mx < (1 << sb)
        if sb > 6:
            assert mx >= (1 << 6)  # finer than the default layout
        got = (
            topk_batch(spark, d, queries, k=10)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        assert list(got.doc_id) == list(baseline.doc_id), sb
        assert (
            got.score.to_numpy().view(np.int64)
            == baseline.score.to_numpy().view(np.int64)
        ).all(), sb

