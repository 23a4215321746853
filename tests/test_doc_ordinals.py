"""Dense doc ordinals in posting blocks.

Posting blocks gap-code each doc's row position in its segment's docs table
(its ordinal), not its doc_id (a 64-bit url hash), so in-block gaps are
small:

- the encoded doc-id bytes per posting of the 1k fixture stay at most 2
  (about 8 when blocks held doc_id gaps);
- a (term, slice) group packed by several tasks (doc ranges finer than
  slices) keeps its blocks in ordinal order at query time;
- ordinals survive hostile docs: a doc with no token (a docs row, no
  posting), a url given twice in one batch (two docs rows, one doc_id), and
  a tombstoned doc in each of two data segments. Every top-k equals the
  exact scorer over the live docs, and every url belongs to its doc_id.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from statschat_ke_spark.corpus import DOCUMENTS_SPARK_SCHEMA, generate_documents
from statschat_ke_spark.functions.hashing import xxhash64_str
from statschat_ke_spark.functions.tokenize import tokenize
from statschat_ke_spark.index import build
from statschat_ke_spark.index.build import (
    DELETE_SEG_BASE,
    build_index,
    delete_docs,
    update_index,
)
from statschat_ke_spark.index.oracle import OracleIndex
from statschat_ke_spark.index.query import (
    _snapshot,
    check_index_format,
    topk,
    topk_batch,
)

K = 10


def _data_segments(d):
    return [s for s in check_index_format(d)["segments"] if s < DELETE_SEG_BASE]


def test_doc_id_bytes_per_posting(index_dir):
    """Raw encoded doc-id bytes per posting over the committed postings
    rows: sum(len(doc_ids)) / sum(n) <= 2. Independent of the writer: it
    reads only the block columns."""
    n = size = 0
    for s in _data_segments(index_dir):
        files = glob.glob(os.path.join(index_dir, "postings", f"seg={s}", "*.parquet"))
        assert files, s
        for f in files:
            t = pq.read_table(f, columns=["n", "doc_ids"])
            n += int(np.sum(t.column("n").to_numpy()))
            size += sum(len(b) for b in t.column("doc_ids").to_pylist())
    assert n > 0
    assert size / n <= 2.0, size / n


def test_pack_ranges_finer_than_slices(
    spark, corpus_pdf, corpus_df, queries, tmp_path, monkeypatch
):
    """A large segment's pack shuffle has more doc ranges than slices
    (BENCH_SKEW's 9M docs: 1024 ranges, 256 slices), so one (term_id,
    slice) group is packed by several tasks, each numbering its blocks from
    0. One slice bit on the 1k corpus (4 ranges) makes that happen; every
    top-k still equals the exact scorer."""
    monkeypatch.setattr(build, "derive_slice_bits", lambda n_docs: 1)
    d = str(tmp_path / "idx")
    build_index(spark, corpus_df, d)
    [s] = _data_segments(d)
    t = pq.read_table(
        os.path.join(d, "postings", f"seg={s}"),
        columns=["term_id", "slice", "block_id", "pid"],
    ).to_pandas()
    assert set(t.slice) == {0, 1} and t.pid.nunique() == 4
    # the case this covers: (term_id, slice, block_id) repeats across tasks
    assert t.duplicated(["term_id", "slice", "block_id"]).any()

    oracle = OracleIndex(corpus_pdf)
    qmap = {int(q.query_id): (q.query_text, int(q.k)) for q in queries.itertuples(index=False)}
    qmap[-1] = ("the of and statistics county", K)
    batch = topk_batch(spark, d, {i: q for i, (q, _) in qmap.items()}, K).toPandas()
    for i, (q, k) in qmap.items():
        want = oracle.topk(q, k)
        got = topk(spark, d, q, k).toPandas()
        assert list(got.doc_id) == list(want.doc_id), q
        assert np.allclose(got.score.to_numpy(), want.score.to_numpy(), atol=1e-9), q
        want = oracle.topk(q, K)
        b = batch[batch.query_id == i]
        assert list(b.doc_id) == list(want.doc_id), q
        assert np.allclose(b.score.to_numpy(), want.score.to_numpy(), atol=1e-9), q


def _docs(spark, pdf):
    return spark.createDataFrame(pdf, schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )


@pytest.fixture(scope="module")
def hostile(spark, tmp_path_factory):
    """A base segment holding a no-token doc and a url given twice (the
    same row twice in the one input batch), an appended segment, and one
    tombstoned doc in each. Returns (index dir, live rows as staged, the
    twice-given url, the questions)."""
    pdf = generate_documents(400, seed=41)
    pdf = pdf[pdf.lang == "en"].reset_index(drop=True)
    base, delta = pdf.iloc[:250].copy(), pdf.iloc[250:].copy()
    empty = base.iloc[[0]].assign(
        url="https://synth.example/empty.html", html=b"", text="!!! --- ..."
    )
    twice = base.iloc[[7]]
    base = pd.concat([base, empty, twice], ignore_index=True)
    victims = [base.url.iloc[3], delta.url.iloc[5]]

    d = str(tmp_path_factory.mktemp("ordinals") / "idx")
    build_index(spark, _docs(spark, base), d)
    update_index(spark, _docs(spark, delta), d)
    assert delete_docs(spark, d, victims).n_deleted == 2
    live = pd.concat([base, delta], ignore_index=True)
    live = live[~live.url.isin(victims)]

    def words(url, n):
        return " ".join(list(dict.fromkeys(tokenize(pdf.set_index("url").text[url])))[:n])

    questions = [
        "county report statistics",
        "inflation december 2023",
        words(twice.url.iloc[0], 4),
        words(victims[0], 4),
        words(victims[1], 4),
        "zzzunseen qqqnothing",
    ]
    return d, live, twice.url.iloc[0], questions


def _expected(oracle, q):
    """The exact scorer over the live rows as staged. A url given twice is
    staged twice (counted twice in n_docs and df) and ranked once."""
    g = oracle.topk(q, K + 1)
    return g[~g.doc_id.duplicated()].head(K)


def test_hostile_docs_layout(spark, hostile):
    """The fixture holds what it claims: two data segments, each with a
    tombstoned ordinal; the twice-given url has two docs rows; the no-token
    doc has a docs row with doclen 0."""
    d, _, twice_url, _ = hostile
    segs = _data_segments(d)
    assert len(segs) == 2
    snap = _snapshot(spark, d, check_index_format(d))
    dead = snap.dead_bc().value
    assert sorted(dead) == segs and all(len(v) == 1 for v in dead.values())
    docs = pq.read_table(os.path.join(d, "docs", f"seg={segs[0]}")).to_pandas()
    assert (docs.url == twice_url).sum() == 2
    assert (docs.doclen == 0).sum() == 1
    for s in segs:
        ords = snap.doc_ordinals[s]
        ids = ords.doc_ids(np.arange(ords.start[-1])).view(np.uint64)
        # ordinal order is unsigned doc_id order
        assert (ids[1:] >= ids[:-1]).all(), s


def test_hostile_docs_topk_equal_oracle(spark, hostile):
    d, live, _, questions = hostile
    oracle = OracleIndex(live)
    url_of = dict(zip(live.url.map(xxhash64_str), live.url))
    batch = topk_batch(spark, d, dict(enumerate(questions)), K).toPandas()
    for i, q in enumerate(questions):
        want = _expected(oracle, q)
        got = topk(spark, d, q, K).toPandas()
        assert list(got.doc_id) == list(want.doc_id), q
        assert np.allclose(got.score.to_numpy(), want.score.to_numpy(), atol=1e-9), q
        with_url = topk(spark, d, q, K, with_url=True).toPandas()
        assert list(with_url.doc_id) == list(want.doc_id), q
        assert [url_of[x] for x in with_url.doc_id] == list(with_url.url), q
        assert all(xxhash64_str(u) == x for u, x in zip(with_url.url, with_url.doc_id))
        b = batch[batch.query_id == i]
        assert list(b.doc_id) == list(want.doc_id), q
        assert np.allclose(b.score.to_numpy(), want.score.to_numpy(), atol=1e-9), q
