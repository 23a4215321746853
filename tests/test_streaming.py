"""Structured-Streaming ingest tests (SURVEY §2.8 mapping): AvailableNow
drain of a parquet landing zone == batch build over the same docs; a second
drop is picked up incrementally via the stream checkpoint; a re-crawled url
is not staged twice; drains and update_index calls interleave without their
staged chunks colliding."""

from __future__ import annotations

import os

import pytest

from statschat_ke_spark.corpus import DOCUMENTS_SPARK_SCHEMA, generate_documents
from statschat_ke_spark.index.build import (
    build_index,
    merge_index,
    staged_chunks,
    update_index,
)
from statschat_ke_spark.index.query import _prune_to_snapshot, check_index_format
from statschat_ke_spark.streaming.ingest import ingest_stream


def _committed(spark, d, table):
    """``table`` of the committed snapshot (the replaced snapshot's segments
    stay on disk for one more commit)."""
    return _prune_to_snapshot(
        spark.read.parquet(os.path.join(d, table)), check_index_format(d)
    )


def _lexicon(spark, d):
    rows = (
        _committed(spark, d, "lexicon")
        .select("term_id", "term", "df", "cf")
        .collect()
    )
    return sorted((r.term_id, r.term, r.df, r.cf) for r in rows)


def _postings(spark, d):
    rows = (
        _committed(spark, d, "postings")
        .select("term_id", "slice", "block_id", "n", "first_doc", "last_doc",
                "doc_ids", "tfs", "dls")
        .collect()
    )
    return sorted(
        (r.term_id, r.slice, r.block_id, r.n, r.first_doc, r.last_doc,
         bytes(r.doc_ids), bytes(r.tfs), bytes(r.dls))
        for r in rows
    )


@pytest.fixture(scope="module")
def parts(spark):
    pdf = generate_documents(400)
    df = spark.createDataFrame(pdf, schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    a = df.filter("warc_ts < timestamp'2023-01-01 07:00:00'")
    b = df.filter("warc_ts >= timestamp'2023-01-01 07:00:00'")
    assert a.count() > 0 and b.count() > 0
    return df, a, b


def test_stream_ingest_incremental(spark, parts, tmp_path):
    full, a, b = parts
    landing = str(tmp_path / "landing")
    idx_stream = str(tmp_path / "idx_stream")
    idx_batch_a = str(tmp_path / "idx_a")
    idx_batch_full = str(tmp_path / "idx_full")

    # drop 1 → drain → index == batch build over drop 1
    a.write.mode("append").parquet(landing)
    res1 = ingest_stream(spark, landing, idx_stream)
    build_index(spark, a, idx_batch_a)
    assert res1.n_docs == a.filter("lang = 'en'").count()
    assert _lexicon(spark, idx_stream) == _lexicon(spark, idx_batch_a)
    assert _postings(spark, idx_stream) == _postings(spark, idx_batch_a)

    # drop 2 → drain picks up ONLY the new files, and a full re-merge after
    # it is byte-identical to a batch build over everything
    b.write.mode("append").parquet(landing)
    ingest_stream(spark, landing, idx_stream)
    res2 = merge_index(spark, idx_stream)
    build_index(spark, full, idx_batch_full)
    assert res2.n_docs == full.filter("lang = 'en'").count()
    assert _lexicon(spark, idx_stream) == _lexicon(spark, idx_batch_full)
    assert _postings(spark, idx_stream) == _postings(spark, idx_batch_full)


def test_stream_segment_append(spark, parts, tmp_path):
    """A drain appends each drained chunk as its own index
    segment (delta-proportional): query results match the full batch build
    exactly, and the first drain's segment files are never rewritten."""
    import numpy as np

    from statschat_ke_spark.index.query import topk

    full, a, b = parts
    landing = str(tmp_path / "landing_seg")
    idx = str(tmp_path / "idx_seg")
    idx_full = str(tmp_path / "idx_seg_full")

    a.write.mode("append").parquet(landing)
    ingest_stream(spark, landing, idx)
    [first] = check_index_format(idx)["segments"]
    seg0 = os.path.join(idx, "postings", f"seg={first}")
    before = {f: os.path.getmtime(os.path.join(seg0, f)) for f in os.listdir(seg0)}

    b.write.mode("append").parquet(landing)
    res = ingest_stream(spark, landing, idx)
    assert res.n_docs == full.filter("lang = 'en'").count()
    assert {f: os.path.getmtime(os.path.join(seg0, f)) for f in os.listdir(seg0)} == before
    segs = [d for d in os.listdir(os.path.join(idx, "postings")) if d.startswith("seg=")]
    assert len(segs) == 2

    build_index(spark, full, idx_full)
    for q in ["inflation county report", "maize production county report"]:
        x = topk(spark, idx, q, 10).toPandas()
        y = topk(spark, idx_full, q, 10).toPandas()
        assert (x.doc_id.to_numpy() == y.doc_id.to_numpy()).all()
        assert np.allclose(x.score.to_numpy(), y.score.to_numpy(), atol=1e-9)

    # replayed drain with nothing new: unchanged
    res2 = ingest_stream(spark, landing, idx)
    assert res2.n_docs == res.n_docs and res2.chunks_processed == 0


def test_stream_rerun_noop(spark, parts, tmp_path):
    _, a, _ = parts
    landing = str(tmp_path / "landing2")
    idx = str(tmp_path / "idx2")
    a.write.mode("append").parquet(landing)
    r1 = ingest_stream(spark, landing, idx)
    lex1 = _lexicon(spark, idx)
    # no new files: drain is a no-op merge over identical staged chunks
    r2 = ingest_stream(spark, landing, idx)
    assert r2.n_docs == r1.n_docs
    assert _lexicon(spark, idx) == lex1


def test_stream_drain_auto_compaction(spark, parts, tmp_path, monkeypatch):
    """A drain that pushes the segment count past MAX_SEGMENTS triggers the
    lifecycle compaction: the index folds into a single fresh compacted
    segment and still answers identically to a batch build over the same
    corpus."""
    import numpy as np

    import statschat_ke_spark.index.build as build_mod
    from statschat_ke_spark.index.build import DELETE_SEG_BASE
    from statschat_ke_spark.index.query import topk

    def _data_segments(d):
        segs = check_index_format(d)["segments"]
        return [s for s in segs if s < DELETE_SEG_BASE]

    full, a, b = parts
    landing = str(tmp_path / "landing_lc")
    idx = str(tmp_path / "idx_lc")
    idx_full = str(tmp_path / "idx_lc_full")

    a.write.mode("append").parquet(landing)
    ingest_stream(spark, landing, idx)
    [first] = _data_segments(idx)

    # second drain appends a segment → count 2 > MAX_SEGMENTS=1 → compact
    # into one new segment with an id above every earlier one
    b.write.mode("append").parquet(landing)
    monkeypatch.setattr(build_mod, "MAX_SEGMENTS", 1)
    res = ingest_stream(spark, landing, idx)
    assert res.compacted
    [compacted] = _data_segments(idx)
    assert compacted > first
    assert res.n_docs == full.filter("lang = 'en'").count()

    build_index(spark, full, idx_full)
    for q in ["inflation county report", "maize production county report"]:
        x = topk(spark, idx, q, 10).toPandas()
        y = topk(spark, idx_full, q, 10).toPandas()
        assert (x.doc_id.to_numpy() == y.doc_id.to_numpy()).all()
        assert np.allclose(x.score.to_numpy(), y.score.to_numpy(), atol=1e-9)


def test_update_between_drains_keeps_every_chunk(spark, tmp_path):
    """drain → update_index → drain: drains and updates take chunk ids from
    one counter (1 + the largest committed chunk), so the second drain
    cannot overwrite the update's chunk or be mistaken for an
    already-covered chunk, and each call commits one new data segment with
    an id above every earlier one. The result equals a batch build over all
    the docs."""
    import numpy as np

    from statschat_ke_spark.index.query import topk

    pdf = generate_documents(300)
    df = spark.createDataFrame(pdf, schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    first, second, third = (
        spark.createDataFrame(pdf.iloc[a:b], schema=DOCUMENTS_SPARK_SCHEMA)
        .select("url", "warc_ts", "html", "text", "lang")
        for a, b in ((0, 100), (100, 200), (200, 300))
    )
    landing = str(tmp_path / "landing_mix")
    idx = str(tmp_path / "idx_mix")
    idx_full = str(tmp_path / "idx_mix_full")

    first.write.mode("append").parquet(landing)
    ingest_stream(spark, landing, idx)
    history = [check_index_format(idx)["segments"]]
    update_index(spark, second, idx)
    history.append(check_index_format(idx)["segments"])
    third.write.mode("append").parquet(landing)
    res = ingest_stream(spark, landing, idx)
    history.append(check_index_format(idx)["segments"])

    assert sorted(staged_chunks(idx)) == [0, 1, 2]
    for prev, cur in zip(history, history[1:]):
        [new] = [s for s in cur if s not in prev]
        assert cur == prev + [new] and new > max(prev)
    full = build_index(spark, df, idx_full)
    assert res.n_docs == full.n_docs == df.filter("lang = 'en'").count()
    for q in ["inflation county report", "maize production county report"]:
        x = topk(spark, idx, q, 10).toPandas()
        y = topk(spark, idx_full, q, 10).toPandas()
        assert (x.doc_id.to_numpy() == y.doc_id.to_numpy()).all()
        assert np.allclose(x.score.to_numpy(), y.score.to_numpy(), atol=1e-9)


def test_stream_recrawl_stages_only_unseen_urls(spark, parts, tmp_path):
    """A second drain whose landing file re-crawls 20 urls of the first
    drain plus new docs stages only the new urls: n_docs and the top-k
    equal a batch build over the distinct docs, and no doc_id is ranked
    twice."""
    import numpy as np

    from statschat_ke_spark.functions.tokenize import tokenize
    from statschat_ke_spark.index.query import topk

    full, a, b = parts
    landing = str(tmp_path / "landing_recrawl")
    idx = str(tmp_path / "idx_recrawl")
    idx_full = str(tmp_path / "idx_recrawl_full")

    a.write.mode("append").parquet(landing)
    ingest_stream(spark, landing, idx)
    recrawl = a.filter("lang = 'en'").orderBy("url").limit(20)
    recrawl_text = [r.text for r in recrawl.select("text").collect()]
    assert len(recrawl_text) == 20
    recrawl.unionByName(b).write.mode("append").parquet(landing)
    res = ingest_stream(spark, landing, idx)

    full_res = build_index(spark, full, idx_full)
    assert res.n_docs == full_res.n_docs == full.filter("lang = 'en'").count()
    # the first words of a re-crawled doc rank that doc (and its copy,
    # were it staged twice) near the top
    own = " ".join(list(dict.fromkeys(tokenize(recrawl_text[0])))[:8])
    for q in ["inflation county report", "maize production county report", own]:
        x = topk(spark, idx, q, 10).toPandas()
        y = topk(spark, idx_full, q, 10).toPandas()
        assert x.doc_id.is_unique, q
        assert (x.doc_id.to_numpy() == y.doc_id.to_numpy()).all(), q
        assert np.allclose(x.score.to_numpy(), y.score.to_numpy(), atol=1e-9), q


def test_stream_replayed_epoch_stages_nothing_twice(spark, parts, tmp_path, monkeypatch):
    """A drain that fails after its micro-batch staged (and lineage-
    committed) its chunk leaves the epoch uncommitted in the stream
    checkpoint, so the next drain replays it. The replay finds every url in
    the committed chunk and stages an empty chunk: n_docs and the top-10
    equal a batch build, and no doc_id is ranked twice."""
    import numpy as np

    import statschat_ke_spark.streaming.ingest as ingest_mod
    from statschat_ke_spark.index.query import topk

    full, a, b = parts
    landing = str(tmp_path / "landing_replay")
    idx = str(tmp_path / "idx_replay")
    idx_full = str(tmp_path / "idx_replay_full")

    a.write.mode("append").parquet(landing)
    ingest_stream(spark, landing, idx)
    b.write.mode("append").parquet(landing)
    real, staged_rows = ingest_mod._stage_unseen, []

    def stage_then_crash(*args, **kw):
        staged_rows.append(real(*args, **kw))
        if len(staged_rows) == 1:
            raise RuntimeError("injected crash")
        return staged_rows[-1]

    with monkeypatch.context() as m:
        m.setattr(ingest_mod, "_stage_unseen", stage_then_crash)
        with pytest.raises(Exception, match="injected crash"):
            ingest_stream(spark, landing, idx)
        res = ingest_stream(spark, landing, idx)
    assert staged_rows[0] > 0 and staged_rows[1:] == [0]

    full_res = build_index(spark, full, idx_full)
    assert res.n_docs == full_res.n_docs == full.filter("lang = 'en'").count()
    for q in ["inflation county report", "maize production county report"]:
        x = topk(spark, idx, q, 10).toPandas()
        y = topk(spark, idx_full, q, 10).toPandas()
        assert x.doc_id.is_unique, q
        assert (x.doc_id.to_numpy() == y.doc_id.to_numpy()).all(), q
        assert np.allclose(x.score.to_numpy(), y.score.to_numpy(), atol=1e-9), q
