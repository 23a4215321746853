"""Driver-side keyed lookups: the df probe and the url fetch.

- docs and every lexicon (a delete delta's too) are written as key-bucketed
  dirs, one key-sorted file per bucket;
- a probe opens at most |terms| files per lexicon segment and a url fetch at
  most k files per data segment, never a file of an uncommitted segment;
- a question runs at most 2 Spark jobs with hits and none without;
- a ranked doc with no docs row fails loudly.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.errors import PythonException

from statschat_ke_spark.corpus import DOCUMENTS_SPARK_SCHEMA, generate_documents
from statschat_ke_spark.functions.tokenize import term_ids, tokenize
from statschat_ke_spark.index import build
from statschat_ke_spark.index.build import (
    DELETE_SEG_BASE,
    build_index,
    delete_docs,
    update_index,
)
from statschat_ke_spark.index.query import (
    _close_snapshots,
    _probe_idf,
    _snapshot,
    check_index_format,
    topk,
)

BUCKETS = 8
QUESTIONS = [
    "county report statistics",
    "maize production county report survey",
    "inflation december 2023",
]


def _docs(spark, pdf):
    return spark.createDataFrame(pdf, schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    """A base segment, an appended segment and a delete delta, each keyed
    table written in BUCKETS buckets (a fixture this small picks one), and a
    default build of the same live docs."""
    pdf = generate_documents(300, seed=31)
    victims = sorted(pdf.url)[::10]
    root = tmp_path_factory.mktemp("keyed")
    d, ref = str(root / "idx"), str(root / "ref")
    real = build._write_keyed
    mp = pytest.MonkeyPatch()
    mp.setattr(build, "_write_keyed", lambda df, path, key, n: real(df, path, key, BUCKETS))
    try:
        build_index(spark, _docs(spark, pdf.iloc[:200]), d)
        update_index(spark, _docs(spark, pdf.iloc[200:]), d)
        assert delete_docs(spark, d, victims).n_deleted > 0
    finally:
        mp.undo()
    build_index(spark, _docs(spark, pdf[~pdf.url.isin(victims)]), ref)
    return d, ref


def _keyed_dirs(d):
    """(table, key, seg dir) of every keyed table of the committed snapshot."""
    segs = check_index_format(d)["segments"]
    out = [("lexicon", "term_id", os.path.join(d, "lexicon", f"seg={s}")) for s in segs]
    out += [
        ("docs", "doc_id", os.path.join(d, "docs", f"seg={s}"))
        for s in segs if s < DELETE_SEG_BASE
    ]
    return out


def test_keyed_tables_are_bucketed_and_key_sorted(bucketed):
    d, _ = bucketed
    dirs = _keyed_dirs(d)
    assert len(dirs) == 5  # 2 data + 1 delta lexicons, 2 docs
    for table, key, seg_dir in dirs:
        buckets = sorted(x for x in os.listdir(seg_dir) if x.startswith("bucket="))
        assert 1 < len(buckets) <= BUCKETS, seg_dir
        parts = set()
        for name in buckets:
            first = int(name.split("=", 1)[1]) & ((1 << 64) - 1)
            [f] = [x for x in os.listdir(os.path.join(seg_dir, name)) if x.endswith(".parquet")]
            parts.add(int(f.split("-")[1]))  # the write task: part-<task>-...
            keys = pq.read_table(os.path.join(seg_dir, name, f), columns=[key]).column(key)
            keys = keys.to_numpy()
            assert len(keys) and (np.diff(keys) > 0).all(), (seg_dir, name)
            # the bucket is the top log2(BUCKETS) bits of the unsigned key
            shift = np.uint64(64 - (BUCKETS - 1).bit_length())
            assert set((keys.view(np.uint64) >> shift).tolist()) == {first >> int(shift)}
        # one write task per bucket
        assert len(parts) == len(buckets) == BUCKETS, (seg_dir, parts)


def test_lookups_open_only_their_keys_files(spark, bucketed, tmp_path, monkeypatch):
    """Files opened per lookup, counted at the pyarrow read: a probe opens
    at most |terms| x |lexicon segments| files, a url fetch at most
    k x |data segments|, and neither opens an uncommitted ``seg=99`` dir.
    Results equal a default build of the same live docs."""
    d0, ref = bucketed
    d = str(tmp_path / "idx")
    shutil.copytree(d0, d)
    marker = check_index_format(d)
    segs = marker["segments"]
    data = [s for s in segs if s < DELETE_SEG_BASE]
    for sub in ("postings", "lexicon", "docs"):
        shutil.copytree(os.path.join(d, sub, f"seg={data[0]}"), os.path.join(d, sub, "seg=99"))

    opened: list[str] = []
    read_table = pq.read_table

    def counting(source, *a, **kw):
        opened.append(str(source))
        return read_table(source, *a, **kw)

    monkeypatch.setattr(pq, "read_table", counting)
    snap = _snapshot(spark, d, marker)
    k = 10
    for q in QUESTIONS:
        tids = term_ids(tokenize(q))
        opened.clear()
        assert _probe_idf(snap, tids)
        assert 0 < len(opened) <= len(tids) * len(segs), (q, opened)
        assert all("/lexicon/" in f for f in opened)

        opened.clear()
        got = topk(spark, d, q, k, with_url=True).toPandas()
        fetch = [f for f in opened if "/docs/" in f]
        assert len(got) == k and got.url.notna().all(), q
        assert 0 < len(fetch) <= k * len(data), (q, fetch)
        assert not [f for f in opened if "seg=99" in f], opened

        want = topk(spark, ref, q, k, with_url=True).toPandas()
        assert list(got.doc_id) == list(want.doc_id), q
        assert list(got.url) == list(want.url), q
        assert np.allclose(got.score, want.score, atol=1e-9), q


def _jobs(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_topk_with_url_job_count(spark, bucketed):
    """A question with hits runs at most 2 Spark jobs (the scoring plan's
    shuffle and result stages) and a zero-hit one none, even on a freshly
    opened handle; collecting the returned local frame runs none."""
    d, _ = bucketed
    sc = spark.sparkContext
    _close_snapshots()
    zero = "xqzvk nonexistenttermxyz"
    got, n = _jobs(sc, "kl_zero", lambda: topk(spark, d, zero, 10, with_url=True))
    assert n == 0
    rows, n = _jobs(sc, "kl_zero_collect", got.collect)
    assert rows == [] and n == 0
    for i, q in enumerate(QUESTIONS):
        got, n = _jobs(sc, f"kl_hits{i}", lambda: topk(spark, d, q, 10, with_url=True))
        assert 0 < n <= 2, (q, n)
        rows, n = _jobs(sc, f"kl_hits_collect{i}", got.collect)
        assert len(rows) == 10 and n == 0, q


def test_missing_docs_row_fails_loudly(spark, bucketed, tmp_path):
    """A ranked doc_id whose docs row is gone raises instead of returning
    fewer than k rows, or other docs' rows: posting blocks hold doc
    ordinals (row positions in the docs table), so the scoring group's
    positional read finds the docs file changed and fails the query, and a
    handle opened after the damage finds fewer docs rows than the commit
    record lists."""
    d0, _ = bucketed
    d = str(tmp_path / "idx")
    shutil.copytree(d0, d)
    q = QUESTIONS[0]
    top = int(topk(spark, d, q, 10, with_url=True).collect()[0].doc_id)
    snap = _snapshot(spark, d, check_index_format(d))
    # the bucket file of the one data segment that holds the doc
    [(f, t)] = [
        (f, t) for f in snap.docs_files.files([top])
        if top in (t := pq.read_table(f)).column("doc_id").to_pylist()
    ]
    pq.write_table(t.filter(np.asarray(t.column("doc_id")) != top), f)
    with pytest.raises(PythonException, match=r"docs file .* changed since its snapshot"):
        topk(spark, d, q, 10, with_url=True)
    _close_snapshots()
    with pytest.raises(RuntimeError, match=r"rows where the commit record lists"):
        topk(spark, d, q, 10, with_url=True)
