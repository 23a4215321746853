"""Phase-B outputs against independent counts.

- the lexicon (df, cf per term, summed over the committed segments) equals
  the numpy oracle's counts over the live docs after a build, a segment
  append and a delete — not merely another engine build's lexicon;
- stats.json keeps its keys, and its posting counts agree with the segment
  the build just wrote;
- a term present in every document keeps df exact, the pack partitions
  balanced and top-k rank-identical to the oracle.
"""

from __future__ import annotations

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
from statschat_ke_spark.index.query import check_index_format, topk

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
