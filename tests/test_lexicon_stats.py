"""Phase-B outputs against independent counts.

- the lexicon (df, cf per term, summed over the committed segments) equals
  the numpy oracle's counts over the live docs after a build, a segment
  append and a delete — not merely another engine build's lexicon;
- stats.json keeps its keys, and its posting counts agree with the segment
  the build just wrote;
- a term present in every document keeps df exact, the pack partitions
  balanced and top-k rank-identical to the oracle;
- postings and lexicon files are written in term_id-ordered row groups that
  the query's term_id filter prunes, without changing a score bit.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from statschat_ke_spark.corpus import DOCUMENTS_SPARK_SCHEMA, generate_documents
from statschat_ke_spark.index import build
from statschat_ke_spark.index.build import build_index, delete_docs, update_index
from statschat_ke_spark.index.oracle import OracleIndex
from statschat_ke_spark.index.query import (
    _postings,
    _snapshot,
    check_index_format,
    topk,
)

STATS_KEYS = {
    "n_postings", "n_posting_rows", "skew_ratio", "slice_bits",
    "phase_timings_s", "build_wall_s", "postings_per_sec",
}


def _docs(spark, pdf, cols=("url", "warc_ts", "html", "text", "lang")):
    return spark.createDataFrame(pdf, schema=DOCUMENTS_SPARK_SCHEMA).select(*cols)


def _en(pdf):
    return pdf[pdf.lang == "en"]


@pytest.fixture(scope="module")
def appended(spark, index_dir, corpus_pdf, tmp_path_factory):
    """A copy of the 1k fixture index with one segment appended, and the
    live docs it holds (update_index anti-joins urls already staged)."""
    d = str(tmp_path_factory.mktemp("lexstats") / "idx")
    shutil.copytree(index_dir, d)
    delta = generate_documents(150, seed=7)
    update_index(spark, _docs(spark, delta).drop("text"), d)
    base = _en(corpus_pdf)
    new = _en(delta)
    live = pd.concat([base, new[~new.url.isin(base.url)]], ignore_index=True)
    return d, live


def _summed_lexicon(spark, d):
    """term -> (df, cf) summed over the committed segments, df > 0 only."""
    segs = check_index_format(d)["segments"]
    rows = (
        spark.read.parquet(os.path.join(d, "lexicon"))
        .filter(F.col("seg").isin(segs))
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .collect()
    )
    assert all(r.df >= 0 for r in rows)
    return {r.term: (int(r.df), int(r.cf)) for r in rows if r.df > 0}


def _oracle_counts(live):
    o = OracleIndex(live)
    return {t: (len(p), sum(p.values())) for t, p in o.postings.items()}


def test_lexicon_matches_oracle_counts(spark, index_dir, corpus_pdf, appended, tmp_path):
    """In each state — build, segment append, delete — df is the number of
    live docs containing the term and cf its total tf over them."""
    assert _summed_lexicon(spark, index_dir) == _oracle_counts(_en(corpus_pdf))

    d, live = appended
    assert _summed_lexicon(spark, d) == _oracle_counts(live)

    d2 = str(tmp_path / "deleted")
    shutil.copytree(d, d2)
    victims = sorted(live.url)[::25]
    assert delete_docs(spark, d2, victims).n_deleted == len(victims)
    got = _summed_lexicon(spark, d2)
    assert got == _oracle_counts(live[~live.url.isin(victims)])


def _segment_stats(spark, d, seg):
    post = spark.read.parquet(os.path.join(d, "postings", f"seg={seg}"))
    lex = spark.read.parquet(os.path.join(d, "lexicon", f"seg={seg}"))
    n_sum, rows = post.agg(F.sum("n"), F.count("*")).collect()[0]
    return int(n_sum), int(rows), int(lex.agg(F.sum("df")).collect()[0][0])


def test_stats_json_interface(spark, index_dir, appended):
    """stats.json describes the segment the last build wrote: its posting
    count is Σ n over that segment's blocks and Σ df over its lexicon, its
    row count is the segment's block count; no _metrics/ table is left."""
    d, _ = appended
    [built] = check_index_format(index_dir)["segments"]
    # the appended segment has the largest data-segment id
    appended_seg = max(
        s for s in check_index_format(d)["segments"] if s < build.DELETE_SEG_BASE
    )
    for idx, seg in ((index_dir, built), (d, appended_seg)):
        with open(os.path.join(idx, "stats.json")) as f:
            st = json.load(f)
        assert STATS_KEYS <= set(st), idx
        n_sum, rows, df_sum = _segment_stats(spark, idx, seg)
        assert st["n_postings"] == n_sum == df_sum, idx
        assert st["n_posting_rows"] == rows, idx
        assert st["skew_ratio"] >= 1.0, idx
        assert not os.path.exists(os.path.join(idx, "_metrics")), idx


def test_term_in_every_doc(spark, corpus_pdf, tmp_path, monkeypatch):
    """Hostile corpus: one synthetic token appended to every text. Its df
    is every doc, the pack shuffle stays balanced at slice_bits=9, and
    queries containing it stay rank-identical to the oracle."""
    hot = "zqeverydoc"
    pdf = corpus_pdf.assign(text=corpus_pdf.text.fillna("") + f" {hot}")
    d = str(tmp_path / "hot")
    monkeypatch.setattr(build, "derive_slice_bits", lambda n_docs: 9)
    res = build_index(
        spark, _docs(spark, pdf, ("url", "warc_ts", "text", "lang")), d
    )
    df = (
        spark.read.parquet(os.path.join(d, "lexicon"))
        .filter(F.col("term") == hot)
        .agg(F.sum("df"))
        .collect()[0][0]
    )
    assert df == res.n_docs == len(_en(pdf))
    with open(os.path.join(d, "stats.json")) as f:
        st = json.load(f)
    assert st["slice_bits"] == 9
    assert st["skew_ratio"] <= 1.5

    oracle = OracleIndex(pdf)
    for q in (hot, f"{hot} county report", f"inflation {hot} december 2023"):
        golden = oracle.topk(q, 10)
        got = topk(spark, d, q, 10).toPandas()
        assert len(got) == len(golden) == 10, q
        assert (got.doc_id.to_numpy() == golden.doc_id.to_numpy()).all(), q
        assert np.allclose(got.score.to_numpy(), golden.score.to_numpy(), atol=1e-9), q


def _term_id_ranges(path):
    """Per parquet file under ``path`` (a lexicon's files are in its bucket
    dirs): its row groups' (min, max) term_id from the footer statistics."""
    import pyarrow.parquet as pq

    out = {}
    for f in sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
        md = pq.ParquetFile(f).metadata
        col = md.schema.names.index("term_id")
        out[f] = [
            (md.row_group(i).column(col).statistics.min,
             md.row_group(i).column(col).statistics.max)
            for i in range(md.num_row_groups)
        ]
    assert out, path
    return out


def _scan_rows(df) -> int:
    """Rows the parquet scan of ``df``'s last run delivered: its FileScan's
    numOutputRows metric, counted after row-group pruning and before the
    row filter."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    assert leaves.size() == 1 and "Scan" in leaves.apply(0).nodeName()
    return int(leaves.apply(0).metrics().apply("numOutputRows").value())


def test_row_groups_prune_term_scans(
    spark, corpus_df, corpus_pdf, index_dir, queries, tmp_path, monkeypatch
):
    """Built with a few-KB ROW_GROUP_BYTES (and no ROW_GROUP_MIN_DOCS floor),
    every postings and lexicon file (a delete delta's too) holds several
    row groups whose term_id ranges ascend without overlap; the engine's
    postings scan for one mid-frequency term delivers under a quarter of
    the posting rows, where the default build of this small fixture (below
    ROW_GROUP_MIN_DOCS: one postings row group per file) delivers all of
    them; and every top-k is bit-identical to the default build."""
    monkeypatch.setattr(build, "ROW_GROUP_BYTES", 4096)
    monkeypatch.setattr(build, "ROW_GROUP_MIN_DOCS", 0)
    d = str(tmp_path / "rg")
    build_index(spark, corpus_df.drop("text"), d)
    [seg] = check_index_format(d)["segments"]

    def assert_ordered(path, strict):
        for f, ranges in _term_id_ranges(path).items():
            assert len(ranges) > 1, f
            assert all(lo <= hi for lo, hi in ranges), f
            # a term's postings may straddle two row groups, a lexicon
            # term (one row) never does
            for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
                assert hi < lo if strict else hi <= lo, f

    assert_ordered(os.path.join(d, "postings", f"seg={seg}"), strict=False)
    assert_ordered(os.path.join(d, "lexicon", f"seg={seg}"), strict=True)

    # a mid-frequency term: the median df of the terms in >= 5% of docs
    lex = spark.read.parquet(os.path.join(d, "lexicon", f"seg={seg}"))
    n_docs = check_index_format(d)["n_docs"]
    mids = sorted(
        (int(r.df), int(r.term_id))
        for r in lex.filter(F.col("df") >= n_docs // 20).collect()
    )
    tid = mids[len(mids) // 2][1]

    def scanned(idx):
        total = spark.read.parquet(os.path.join(idx, "postings")).count()
        snap = _snapshot(spark, idx, check_index_format(idx))
        scan = _postings(snap, [tid], 1).select("term_id")
        rows = scan.collect()
        assert rows and {r.term_id for r in rows} == {tid}
        return _scan_rows(scan), total

    pruned, total = scanned(d)
    assert pruned < total / 4, (pruned, total)
    assert scanned(index_dir) == (total, total)

    for q in queries.itertuples(index=False):
        got = topk(spark, d, q.query_text, int(q.k)).toPandas()
        ref = topk(spark, index_dir, q.query_text, int(q.k)).toPandas()
        assert list(got.doc_id) == list(ref.doc_id), q.query_id
        assert (
            got.score.to_numpy().view(np.int64) == ref.score.to_numpy().view(np.int64)
        ).all(), q.query_id

    delete_docs(spark, d, sorted(_en(corpus_pdf).url)[::10])
    [delta] = [s for s in check_index_format(d)["segments"] if s >= build.DELETE_SEG_BASE]
    assert_ordered(os.path.join(d, "lexicon", f"seg={delta}"), strict=True)
