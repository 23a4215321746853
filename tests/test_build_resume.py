"""Checkpoint-resume + incremental UPDATE tests (north_rule; SURVEY §5.2-4/5).

- chunked build == single-shot build (identical lexicon + postings bytes)
- interrupted build (a crash injected into phase A) resumes by a plain
  rerun without recomputing completed chunks, final index identical, even
  when an update ran between the crash and the rerun
- update_index(A, then B) == build_index(A ∪ B); re-sending a delta is a
  no-op (J2 anti-join semantics of pdf_downloader.py:133-152)
"""

from __future__ import annotations

import os

import pytest

from statschat_ke_spark.corpus import DOCUMENTS_SPARK_SCHEMA, generate_documents
from statschat_ke_spark.index.build import (
    DELETE_SEG_BASE,
    build_index,
    merge_index,
    staged_chunks,
    update_index,
)
from statschat_ke_spark.index.query import (
    _prune_to_snapshot,
    check_index_format,
    topk,
)


def _data_segments(d):
    """Data segments of the committed snapshot (delete deltas excluded)."""
    return [s for s in check_index_format(d)["segments"] if s < DELETE_SEG_BASE]


@pytest.fixture(scope="module")
def docs500(spark):
    pdf = generate_documents(500)
    return spark.createDataFrame(pdf, schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )


def _committed(spark, d, table):
    """``table`` of the committed snapshot (the replaced snapshot's segments
    stay on disk for one more commit)."""
    return _prune_to_snapshot(
        spark.read.parquet(os.path.join(d, table)), check_index_format(d)
    )


def _listed(d, table):
    """Segment ids with a dir on disk under ``table``."""
    return sorted(
        int(x.split("=", 1)[1])
        for x in os.listdir(os.path.join(d, table))
        if x.startswith("seg=")
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
def single_shot(spark, docs500, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ss") / "idx")
    res = build_index(spark, docs500, d)
    return d, res


@pytest.fixture(scope="module")
def docs500_path(docs500, tmp_path_factory):
    """docs500 as a parquet dataset of 8 part-files (file-chunked builds
    need a path)."""
    src = str(tmp_path_factory.mktemp("src") / "docs_parquet")
    docs500.repartition(8).write.parquet(src)
    return src


def _crashed_build(spark, src, d, monkeypatch):
    """build_index(src, d, n_chunks=4) with a crash injected into its third
    _stage_chunk call: slices 0 and 1 are staged, nothing is committed."""
    import statschat_ke_spark.index.build as build_mod

    real = build_mod._stage_chunk
    calls: list[int] = []

    def crash_on_third(*a, **kw):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("injected crash")
        return real(*a, **kw)

    with monkeypatch.context() as m:
        m.setattr(build_mod, "_stage_chunk", crash_on_third)
        with pytest.raises(RuntimeError, match="injected crash"):
            build_index(spark, src, d, n_chunks=4)
    assert staged_chunks(d) == {0, 1}
    assert not os.path.exists(os.path.join(d, "_SUCCESS.json"))


def test_stop_and_resume(
    spark, docs500_path, single_shot, tmp_path_factory, monkeypatch
):
    """A build that crashed in its third slice resumes by rerunning the same
    call: the two finished slices stage nothing (no chunk dir, no lineage
    row), only the two unfinished ones are tokenized, and the index equals
    the single-shot build (lexicon and postings)."""
    from statschat_ke_spark.index.build import _chunk_files

    d_ss, _ = single_shot
    d = str(tmp_path_factory.mktemp("rs") / "idx")
    _crashed_build(spark, docs500_path, d, monkeypatch)

    resumed = build_index(spark, docs500_path, d, n_chunks=4)
    assert (resumed.chunks_processed, resumed.chunks_skipped) == (4, 2)
    # lineage prevented recomputation: the rerun's chunks staged exactly
    # the rows of the two unfinished slices
    rows_in = {
        r.chunk: r.rows_in
        for r in spark.read.parquet(os.path.join(d, "_lineage")).collect()
    }
    assert sorted(rows_in) == [0, 1, 2, 3]
    assert sorted(os.listdir(os.path.join(d, "staged"))) == [
        f"chunk={c}" for c in range(4)
    ]
    files = _chunk_files(docs500_path)
    unfinished = (
        spark.read.parquet(*files[2::4], *files[3::4]).filter("lang = 'en'").count()
    )
    assert rows_in[2] > 0 and rows_in[3] > 0
    assert rows_in[2] + rows_in[3] == unfinished
    assert _lexicon(spark, d) == _lexicon(spark, d_ss)
    assert _postings(spark, d) == _postings(spark, d_ss)


def test_update_between_crash_and_rerun_keeps_every_doc(
    spark, tmp_path_factory, monkeypatch
):
    """A build crashes in its third slice, then an update_index of other
    docs takes the next chunk id, then the build is rerun. The rerun stages
    every url no chunk holds yet, so no input is lost: n_docs and the
    top-10s equal a fresh build of all the docs."""
    import numpy as np

    pdf = generate_documents(300, seed=5)
    root = tmp_path_factory.mktemp("crashupd")
    src, d, ref = (str(root / x) for x in ("src", "idx", "ref"))
    _docs(spark, pdf.iloc[:240]).repartition(8).write.parquet(src)
    _crashed_build(spark, src, d, monkeypatch)
    update_index(spark, _docs(spark, pdf.iloc[240:]), d)

    res = build_index(spark, src, d, n_chunks=4)
    ref_res = build_index(spark, _docs(spark, pdf), ref)
    assert res.n_docs == ref_res.n_docs == 269
    for q in QUERIES + ["county report statistics"]:
        a = topk(spark, d, q, 10).toPandas()
        b = topk(spark, ref, q, 10).toPandas()
        assert len(a) > 0, q
        assert (a.doc_id.to_numpy() == b.doc_id.to_numpy()).all(), q
        assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9), q


def test_build_into_empty_dir_reads_no_staged_table(
    spark, docs500_path, single_shot, tmp_path_factory, monkeypatch
):
    """A build into an empty dir has no chunk to anti-join against: staging
    its four slices reads no staged table (only its merge_index does), so
    each input slice is read once."""
    import statschat_ke_spark.index.build as build_mod

    _, res_ss = single_shot
    real_read, real_merge = build_mod._read_staged, build_mod.merge_index

    def refuse(*_a, **_kw):
        raise AssertionError("staging read a staged table")

    def merge_index(spark, index_dir):
        monkeypatch.setattr(build_mod, "_read_staged", real_read)
        return real_merge(spark, index_dir)

    monkeypatch.setattr(build_mod, "_read_staged", refuse)
    monkeypatch.setattr(build_mod, "merge_index", merge_index)
    d = str(tmp_path_factory.mktemp("noread") / "idx")
    res = build_index(spark, docs500_path, d, n_chunks=4)
    assert (res.chunks_processed, res.chunks_skipped) == (4, 0)
    assert res.n_docs == res_ss.n_docs


def test_update_equals_full_rebuild(spark, docs500, single_shot, tmp_path_factory):
    d_ss, _ = single_shot
    pdf = generate_documents(500)
    base = spark.createDataFrame(pdf.iloc[:300], schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    # overlapping delta: rows 200..500 (100 already indexed)
    delta = spark.createDataFrame(pdf.iloc[200:], schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    d = str(tmp_path_factory.mktemp("up") / "idx")
    build_index(spark, base, d)
    update_index(spark, delta, d)
    res = merge_index(spark, d)
    assert res.n_docs == spark.read.parquet(os.path.join(d_ss, "docs")).count()
    assert _lexicon(spark, d) == _lexicon(spark, d_ss)
    assert _postings(spark, d) == _postings(spark, d_ss)

    # queries over the updated index match the single-shot index exactly
    for q in ["what was inflation in december 2023", "maize production county report"]:
        a = topk(spark, d, q, 10).toPandas()
        b = topk(spark, d_ss, q, 10).toPandas()
        assert (a.doc_id.to_numpy() == b.doc_id.to_numpy()).all()

    # idempotency: re-sending the same delta stages 0 new docs
    update_index(spark, delta, d)
    res2 = merge_index(spark, d)
    assert res2.n_docs == res.n_docs
    assert _lexicon(spark, d) == _lexicon(spark, d_ss)


def _seg_files(d, table, seg):
    p = os.path.join(d, table, f"seg={seg}")
    return {
        f: os.path.getmtime(os.path.join(p, f))
        for f in os.listdir(p)
        if f.endswith(".parquet")
    }


def test_update_segment_strategy(spark, docs500, single_shot, tmp_path_factory):
    """segment append: delta-proportional phase B — existing segment files
    are untouched (same set, same mtimes), a new doc-disjoint segment is
    appended, and query results are IDENTICAL (ranks and scores) to the
    full single-shot rebuild because idf/avgdl are merged globals and the
    block bounds are avgdl-free."""
    import numpy as np

    d_ss, _ = single_shot
    pdf = generate_documents(500)
    base = spark.createDataFrame(pdf.iloc[:300], schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    delta = spark.createDataFrame(pdf.iloc[200:], schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    d = str(tmp_path_factory.mktemp("seg") / "idx")
    build_index(spark, base, d)
    [built] = check_index_format(d)["segments"]
    before = _seg_files(d, "postings", built)

    res = update_index(spark, delta, d)
    assert res.n_docs == spark.read.parquet(os.path.join(d_ss, "docs")).count()
    # the built segment untouched: same files, same mtimes (nothing rewritten)
    assert _seg_files(d, "postings", built) == before
    # one new segment, with an id above the built one, is committed next to it
    segs = check_index_format(d)["segments"]
    [new] = [s for s in segs if s != built]
    assert segs == [built, new] and new > built
    assert os.path.isdir(os.path.join(d, "postings", f"seg={new}"))

    # merged lexicon (sum over segments) equals the single-shot lexicon
    def agg_lex(path):
        rows = (
            spark.read.parquet(os.path.join(path, "lexicon"))
            .groupBy("term_id", "term")
            .agg({"df": "sum", "cf": "sum"})
            .withColumnRenamed("sum(df)", "df")
            .withColumnRenamed("sum(cf)", "cf")
            .collect()
        )
        return sorted((r.term_id, r.term, r.df, r.cf) for r in rows)

    assert agg_lex(d) == agg_lex(d_ss)

    # rank AND score identity vs the compacted single-shot index
    for q in ["what was inflation in december 2023", "maize production county report"]:
        a = topk(spark, d, q, 10).toPandas()
        b = topk(spark, d_ss, q, 10).toPandas()
        assert (a.doc_id.to_numpy() == b.doc_id.to_numpy()).all()
        assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9)

    # idempotency: re-sending the delta appends nothing
    res2 = update_index(spark, delta, d)
    assert res2.n_docs == res.n_docs
    assert check_index_format(d)["segments"] == segs
    assert _listed(d, "postings") == segs


@pytest.fixture(scope="module")
def file_chunked(spark, docs500_path, tmp_path_factory):
    """docs500_path built in 4 chunks cut at the file listing."""
    d = str(tmp_path_factory.mktemp("fc") / "idx")
    return d, build_index(spark, docs500_path, d, n_chunks=4)


def test_chunked_equals_single_shot(
    spark, docs500, file_chunked, single_shot, tmp_path_factory
):
    """A 4-chunk build is identical to the single-shot build (lexicon and
    postings). A DataFrame cannot be file-chunked: n_chunks > 1 with one
    raises before anything is written."""
    d_ss, res_ss = single_shot
    d_df = str(tmp_path_factory.mktemp("ch") / "idx")
    with pytest.raises(ValueError, match="parquet path"):
        build_index(spark, docs500, d_df, n_chunks=4)
    assert not os.path.exists(d_df)

    d, res = file_chunked
    assert res.chunks_processed == 4
    assert res.n_docs == res_ss.n_docs
    assert _lexicon(spark, d) == _lexicon(spark, d_ss)
    assert _postings(spark, d) == _postings(spark, d_ss)


def test_file_listing_chunked_build(spark, docs500_path, file_chunked):
    """Path input + n_chunks: chunks are cut at the file listing (each pass
    reads only its slice — lineage records per-chunk file counts that sum to
    the total part-file count)."""
    n_parts = len(
        [f for f in os.listdir(docs500_path) if f.endswith(".parquet")]
    )
    assert n_parts >= 4

    d, res = file_chunked
    assert res.chunks_processed == 4
    lineage = spark.read.parquet(os.path.join(d, "_lineage")).collect()
    per_chunk_files = {r.chunk: r.n_files for r in lineage}
    assert sum(per_chunk_files.values()) == n_parts  # one total input scan
    assert all(v > 0 for v in per_chunk_files.values())


def test_segment_lifecycle_auto_compaction(
    spark, docs500, single_shot, tmp_path_factory, monkeypatch
):
    """Lifecycle policy: successive segment appends trigger EXACTLY ONE
    auto-compaction when the segment count crosses MAX_SEGMENTS, the index
    folds into one fresh compacted segment, and queries stay rank-identical to the single-shot
    build over the same corpus afterwards (including one further append on
    top of the compacted state)."""
    import numpy as np

    import statschat_ke_spark.index.build as build_mod

    d_ss, _ = single_shot
    pdf = generate_documents(500)
    monkeypatch.setattr(build_mod, "MAX_SEGMENTS", 3)

    def df_of(a, b):
        return spark.createDataFrame(
            pdf.iloc[a:b], schema=DOCUMENTS_SPARK_SCHEMA
        ).select("url", "warc_ts", "html", "text", "lang")

    d = str(tmp_path_factory.mktemp("lc") / "idx")
    build_index(spark, df_of(0, 200), d)
    history = [_data_segments(d)]
    assert len(history[0]) == 1

    compactions = []
    # appends → segment counts 2, 3, 4(>3: compact to 1), 2
    for a, b in [(200, 280), (280, 360), (360, 430), (430, 500)]:
        res = update_index(spark, df_of(a, b), d)
        compactions.append(bool(res.compacted))
        history.append(_data_segments(d))
    assert compactions == [False, False, True, False]
    # each call commits one new data segment with an id above every earlier
    # one: an append adds it, the compaction replaces all segments with it
    earlier = list(history[0])
    for prev, cur, compacted in zip(history, history[1:], compactions):
        [new] = [s for s in cur if s not in prev]
        assert new > max(earlier)
        assert cur == ([new] if compacted else prev + [new])
        earlier.append(new)
    # post-compaction state: the compacted segment plus exactly the one
    # post-compaction append
    assert len(history[-1]) == 2

    # the compacted+appended index answers identically to the single-shot
    # build over the same 500 docs (ranks AND scores); n_docs matches the
    # single-shot docs table (lang filter drops the non-en rows in both)
    assert res.n_docs == spark.read.parquet(os.path.join(d_ss, "docs")).count()
    for q in ["what was inflation in december 2023", "maize production county report"]:
        a = topk(spark, d, q, 10).toPandas()
        b = topk(spark, d_ss, q, 10).toPandas()
        assert (a.doc_id.to_numpy() == b.doc_id.to_numpy()).all()
        assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9)


def test_update_segment_chunk_accounting(spark, tmp_path_factory):
    """chunks_processed counts the staged chunks the call newly covers
    (packed into its segment); chunks_skipped counts previously-staged
    chunks NOT repacked — disjoint, no double-counting (ADVICE r3)."""
    pdf = generate_documents(300)
    base = spark.createDataFrame(pdf.iloc[:150], schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    delta = spark.createDataFrame(pdf.iloc[150:], schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    d = str(tmp_path_factory.mktemp("acct") / "idx")
    build_index(spark, base, d)

    # normal delta append: exactly one chunk processed, the base chunk(s)
    # skipped, never both counted for the same chunk
    res = update_index(spark, delta, d)
    assert res.chunks_processed == 1
    done_total = len(staged_chunks(d))
    assert res.chunks_processed + res.chunks_skipped == done_total

    # pure replay (same delta again): it stages no chunk, so none is
    # processed and every prior chunk is skipped
    res2 = update_index(spark, delta, d)
    assert res2.chunks_processed == 0
    assert res2.chunks_skipped == done_total == len(staged_chunks(d))


def test_resent_delta_leaves_no_pending_chunk(spark, tmp_path_factory):
    """Re-sending a delta stages nothing (everything anti-joins away): it
    leaves no chunk dir and no lineage row that every later update or
    drain would list again, no chunk is left pending, and the snapshot is
    unchanged."""
    pdf = generate_documents(300)
    base = spark.createDataFrame(pdf.iloc[:150], schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    delta = spark.createDataFrame(pdf.iloc[150:], schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    d = str(tmp_path_factory.mktemp("resend") / "idx")
    build_index(spark, base, d)
    update_index(spark, delta, d)
    before = check_index_format(d)
    dirs = sorted(os.listdir(os.path.join(d, "staged")))
    for _ in range(2):
        update_index(spark, delta, d)
    after = check_index_format(d)
    assert set(after["covered_chunks"]) == staged_chunks(d)
    assert after["covered_chunks"] == before["covered_chunks"]
    assert sorted(os.listdir(os.path.join(d, "staged"))) == dirs
    assert after["segments"] == before["segments"]
    assert (after["n_docs"], after["avgdl"]) == (before["n_docs"], before["avgdl"])


@pytest.mark.parametrize("crash_at", ["_build_segment", "_commit"])
def test_crashed_compaction_then_segment_update(
    spark, tmp_path_factory, monkeypatch, crash_at
):
    """A compaction that crashes before its commit — while writing the new
    segment, or at the commit after writing it — leaves the committed
    snapshot whole: a later segment update appends to it and equals a fresh
    build of base + delta, and its commit removes the orphan compaction
    dir the crash left."""
    import numpy as np

    import statschat_ke_spark.index.build as build_mod

    def crash(*_a, **_kw):
        raise RuntimeError("injected crash")

    pdf = generate_documents(400, seed=21)

    def df_of(part):
        return spark.createDataFrame(part, schema=DOCUMENTS_SPARK_SCHEMA).select(
            "url", "warc_ts", "html", "text", "lang"
        )

    base, delta = df_of(pdf.iloc[:300]), df_of(pdf.iloc[300:])
    d = str(tmp_path_factory.mktemp("ccr") / "idx")
    ref = str(tmp_path_factory.mktemp("ccrref") / "idx")
    build_index(spark, base, d)
    committed = check_index_format(d)
    [built] = committed["segments"]
    with monkeypatch.context() as m:
        m.setattr(build_mod, crash_at, crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            build_mod.merge_index(spark, d)
    assert check_index_format(d) == committed
    orphans = [s for s in _listed(d, "postings") if s != built]
    assert len(orphans) == (crash_at == "_commit")

    res = update_index(spark, delta, d)
    segs = check_index_format(d)["segments"]
    [new] = [s for s in segs if s != built]
    assert segs == [built, new] and new > max([built] + orphans)
    for table in ("postings", "docs", "lexicon"):
        assert _listed(d, table) == segs, table
    ref_res = build_index(spark, base.unionByName(delta), ref)
    assert res.n_docs == ref_res.n_docs
    for q in ["what was inflation in december 2023", "maize production county report"]:
        a = topk(spark, d, q, 10).toPandas()
        b = topk(spark, ref, q, 10).toPandas()
        assert (a.doc_id.to_numpy() == b.doc_id.to_numpy()).all(), q
        assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9), q


def test_crash_before_lineage_then_merge_and_retry(spark, tmp_path_factory, monkeypatch):
    """An update that crashes after writing its staged chunk but before the
    chunk's lineage row leaves a chunk dir no lineage row covers. A
    merge_index in between must not pack it, and the retried update must
    then add the delta exactly once: equal to a fresh build of base + delta."""
    import numpy as np

    import statschat_ke_spark.index.build as build_mod

    def crash(*_a, **_kw):
        raise RuntimeError("injected crash")

    pdf = generate_documents(400, seed=23)

    def df_of(part):
        return spark.createDataFrame(part, schema=DOCUMENTS_SPARK_SCHEMA).select(
            "url", "warc_ts", "html", "text", "lang"
        )

    base, delta = df_of(pdf.iloc[:300]), df_of(pdf.iloc[300:])
    d = str(tmp_path_factory.mktemp("cbl") / "idx")
    ref = str(tmp_path_factory.mktemp("cblref") / "idx")
    n_base = build_index(spark, base, d).n_docs
    with monkeypatch.context() as m:
        m.setattr(build_mod, "_append_lineage_row", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            update_index(spark, delta, d)
    assert os.path.isdir(os.path.join(d, "staged", "chunk=1"))
    assert staged_chunks(d) == {0}
    assert merge_index(spark, d).n_docs == n_base

    res = update_index(spark, delta, d)
    ref_res = build_index(spark, base.unionByName(delta), ref)
    assert res.n_docs == ref_res.n_docs
    for q in ["what was inflation in december 2023", "maize production county report"]:
        a = topk(spark, d, q, 10).toPandas()
        b = topk(spark, ref, q, 10).toPandas()
        assert (a.doc_id.to_numpy() == b.doc_id.to_numpy()).all(), q
        assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9), q


def test_query_rejects_uncommitted_and_foreign_format(spark, single_shot, tmp_path_factory):
    """check_index_format: querying an uncommitted or format-mismatched index
    fails loudly with an actionable message instead of decoding garbage."""
    import json
    import shutil

    from statschat_ke_spark.index.query import topk_batch

    d, _ = single_shot
    d2 = str(tmp_path_factory.mktemp("fmt") / "idx")
    shutil.copytree(d, d2)

    marker = os.path.join(d2, "_SUCCESS.json")
    with open(marker) as f:
        m = json.load(f)

    # absent marker = never committed
    os.remove(marker)
    with pytest.raises(RuntimeError, match="no _SUCCESS.json"):
        topk(spark, d2, "anything", 5)
    with pytest.raises(RuntimeError, match="no _SUCCESS.json"):
        topk_batch(spark, d2, {0: "anything"}, 5)

    # foreign format version
    with open(marker, "w") as f:
        json.dump({**m, "format": 1}, f)
    with pytest.raises(RuntimeError, match="format 1"):
        topk(spark, d2, "anything", 5)
    with open(marker, "w") as f:
        json.dump({**m, "format": 2}, f)
    with pytest.raises(RuntimeError, match="format 2 .* rebuild"):
        topk(spark, d2, "anything", 5)
    # format 3 writers could stage a url in two chunks (streaming re-lands)
    with open(marker, "w") as f:
        json.dump({**m, "format": 3}, f)
    with pytest.raises(RuntimeError, match="format 3 .* rebuild"):
        topk(spark, d2, "anything", 5)
    # format 4 compactions wrote segment 0, which a chunk-0 append overwrites
    with open(marker, "w") as f:
        json.dump({**m, "format": 4}, f)
    with pytest.raises(RuntimeError, match="format 4 .* rebuild"):
        topk(spark, d2, "anything", 5)

    # the committed index still queries fine
    topk(spark, d, "anything", 5)


def test_reader_ignores_uncommitted_segment(spark, single_shot, tmp_path_factory):
    """Snapshot isolation for readers: a fully-written seg=N whose commit
    (_SUCCESS segments list) hasn't landed — the mid-append window a query
    racing ingest_stream sees — must be invisible to topk/probe. Without the
    marker-pruned scans, the directory listing would pick it up and score
    every doc twice under doubled df. The handle does not even list it."""
    import shutil

    from statschat_ke_spark.functions.tokenize import term_ids, tokenize
    from statschat_ke_spark.index.query import _close_snapshots, _snapshot, topk

    d, _ = single_shot
    d2 = str(tmp_path_factory.mktemp("snap") / "idx")
    shutil.copytree(d, d2)

    q = "report statistics county"
    before = topk(spark, d2, q, 10).toPandas()
    assert len(before) > 0

    # simulate the mid-append window: duplicate the committed segment as an
    # uncommitted seg=99
    [seg] = check_index_format(d2)["segments"]
    for sub in ("postings", "lexicon", "docs"):
        shutil.copytree(
            os.path.join(d2, sub, f"seg={seg}"), os.path.join(d2, sub, "seg=99")
        )
    # same commit uuid — drop the open handle so the tables are re-listed
    # (now with seg=99 on disk) and the lexicon re-probed
    _close_snapshots()

    after = topk(spark, d2, q, 10).toPandas()
    assert after.equals(before), "uncommitted segment leaked into query results"
    # the handle lists only the committed segments' dirs, so a dir that
    # _commit removes concurrently can never fail the open
    snap = _snapshot(spark, d2, check_index_format(d2))
    tids = term_ids(tokenize(q))
    for files in (
        snap.postings.inputFiles(),
        snap.lexicon_files.files(tids),
        snap.docs_files.files(before.doc_id.tolist()),
    ):
        assert files and not [f for f in files if "seg=99" in f], files


def test_writer_lock_conflict_and_stale_recovery(spark, docs500, tmp_path_factory):
    """Phase-B commits are single-writer: a live foreign lock raises
    WriterConflict; a dead owner's lock is broken and the build proceeds."""
    from statschat_ke_spark.index.build import WriterConflict

    d = str(tmp_path_factory.mktemp("lock") / "idx")
    os.makedirs(d, exist_ok=True)

    # live foreign writer (pid 1 is always alive and never ours)
    with open(os.path.join(d, "_WRITER_LOCK"), "w") as f:
        f.write("1")
    with pytest.raises(WriterConflict, match="live writer"):
        build_index(spark, docs500, d)

    # dead owner: stale lock is broken, build succeeds, lock released
    with open(os.path.join(d, "_WRITER_LOCK"), "w") as f:
        f.write("999999999")
    res = build_index(spark, docs500, d)
    assert res.n_docs > 0
    assert not os.path.exists(os.path.join(d, "_WRITER_LOCK"))
    topk(spark, d, "report", 5)


def test_append_window_keeps_serving_old_snapshot(
    spark, docs500, single_shot, tmp_path_factory
):
    """The whole phase-A window of a segment append — staging the delta
    chunk — must leave the committed snapshot queryable: readers prune to
    the marker's segment list, so the in-flight chunk is invisible and
    topk keeps serving the OLD results (the Iceberg reader story; a marker
    invalidation here was a serving-outage regression)."""
    import shutil

    from statschat_ke_spark.index.build import _prepare_base, _stage_chunk
    from statschat_ke_spark.index.query import _close_snapshots

    d, _ = single_shot
    d2 = str(tmp_path_factory.mktemp("window") / "idx")
    shutil.copytree(d, d2)
    _close_snapshots()

    q = "report statistics county"
    before = topk(spark, d2, q, 10).toPandas()
    assert len(before) > 0
    marker_path = os.path.join(d2, "_SUCCESS.json")

    # simulate update_index's phase A racing a reader: stage a delta chunk
    pdf = generate_documents(80, seed=77)
    delta = spark.createDataFrame(pdf, schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    done = staged_chunks(d2)
    _stage_chunk(spark, _prepare_base(delta, "en"), d2, max(done) + 1 if done else 0)

    assert os.path.exists(marker_path), "staging must not invalidate the commit"
    mid = topk(spark, d2, q, 10).toPandas()
    assert mid.equals(before), "reader mid-append must see the old snapshot"


def test_update_index_serves_throughout_segment_append(
    spark, docs500, tmp_path_factory
):
    """End-to-end: after update_index the marker exists and was NEVER
    removed along the way (monitored via a marker-deleting tripwire is
    impossible without threads, so assert the post-state and that the old
    version string changed only by commit)."""
    import json

    d = str(tmp_path_factory.mktemp("serve") / "idx")
    pdf = generate_documents(300)
    base = spark.createDataFrame(pdf.iloc[:200], schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    delta = spark.createDataFrame(pdf.iloc[200:], schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    res0 = build_index(spark, base, d)
    res = update_index(spark, delta, d)
    assert res.n_docs > res0.n_docs  # delta landed (lang filter may drop some)
    with open(os.path.join(d, "_SUCCESS.json")) as f:
        marker = json.load(f)
    # the commit record carries the scoring globals of ITS snapshot
    assert marker["n_docs"] == res.n_docs
    assert marker["avgdl"] == pytest.approx(res.avgdl)
    topk(spark, d, "report", 5)


def test_writer_lock_second_thread_conflicts(spark, tmp_path_factory):
    """An in-process second writer THREAD is a WriterConflict, not a silent
    reentry — the pid-file can't arbitrate threads, the _held map must."""
    import threading

    from statschat_ke_spark.index.build import WriterConflict, _writer_lock

    d = str(tmp_path_factory.mktemp("tlock") / "idx")
    os.makedirs(d, exist_ok=True)
    entered = threading.Event()
    release = threading.Event()
    errs: list[BaseException] = []

    def hold():
        try:
            with _writer_lock(d):
                entered.set()
                release.wait(10)
        except BaseException as e:  # pragma: no cover - diagnostic
            errs.append(e)
            entered.set()

    t = threading.Thread(target=hold)
    t.start()
    assert entered.wait(10) and not errs
    try:
        with pytest.raises(WriterConflict, match="this process"):
            with _writer_lock(d):
                pass
    finally:
        release.set()
        t.join(10)
    # released: reacquire works and is reentrant within one thread
    with _writer_lock(d):
        with _writer_lock(d):
            pass
    assert not os.path.exists(os.path.join(d, "_WRITER_LOCK"))


def test_writer_lock_never_observably_empty(tmp_path_factory):
    """The lock file is published with its pid content atomically (tmp +
    os.link): at no point can a contender read an empty lock file — the
    empty-read → pid=0 → 'stale' → break-a-live-writer race is structurally
    gone. Verified by acquiring and checking content immediately, plus the
    retake-race path raising WriterConflict instead of corrupting."""
    from statschat_ke_spark.index.build import WriterConflict, _writer_lock

    d = str(tmp_path_factory.mktemp("alock") / "idx")
    os.makedirs(d, exist_ok=True)
    lk = _writer_lock(d)
    lk.__enter__()
    try:
        with open(os.path.join(d, "_WRITER_LOCK")) as f:
            assert f.read().strip() == str(os.getpid())
    finally:
        lk.__exit__(None, None, None)

    # losing the stale-break retake race → WriterConflict (not a bare
    # FileExistsError and not a second acquisition)
    with open(os.path.join(d, "_WRITER_LOCK"), "w") as f:
        f.write("999999999")  # dead pid → break path
    orig = _writer_lock._try_link
    calls = {"n": 0}

    def lose_retake(self):
        calls["n"] += 1
        if calls["n"] == 1:
            return False  # initial acquire: lock held (by the dead pid)
        # retake after the stale break: another writer wins the race
        with open(self.path, "w") as f:
            f.write("1")
        return False

    _writer_lock._try_link = lose_retake
    try:
        with pytest.raises(WriterConflict, match="retake race"):
            with _writer_lock(d):
                pass
    finally:
        _writer_lock._try_link = orig
        os.remove(os.path.join(d, "_WRITER_LOCK"))
    # the failed acquire must not leave an in-process reservation behind
    with _writer_lock(d):
        pass


@pytest.mark.parametrize("writer", ["update_index", "merge_index"])
def test_concurrent_reader_during_segment_update(spark, tmp_path_factory, writer):
    """End-to-end snapshot isolation: queries hammered from one thread while
    a writer runs in another must (a) never error and (b) always return a
    result equal to either the pre-write or the post-write snapshot — never
    a mix. The writer is a segment append (update_index), or a compaction
    (merge_index) of a two-segment index, which changes no result: the
    compacted segment is published by one commit and the replaced segments
    stay on disk for readers still on them. This is the ingest+serve
    topology the engine documents as supported."""
    import threading

    from statschat_ke_spark.index.query import _close_snapshots

    d = str(tmp_path_factory.mktemp("rw") / "idx")
    pdf = generate_documents(400, seed=11)
    base = spark.createDataFrame(pdf.iloc[:250], schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    delta = spark.createDataFrame(pdf.iloc[250:], schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    build_index(spark, base, d)
    if writer == "merge_index":
        update_index(spark, delta, d)
        assert len(check_index_format(d)["segments"]) == 2
    segs_before = check_index_format(d)["segments"]
    q = "county report statistics survey"

    def snap(df):
        return tuple(sorted((int(r.doc_id), round(float(r.score), 9)) for r in df.collect()))

    before = snap(topk(spark, d, q, 10))
    errors: list[BaseException] = []
    observed: list[tuple] = []
    done = threading.Event()

    def reader():
        try:
            while not done.is_set():
                _close_snapshots()  # defeat the handle cache: re-open every time
                observed.append(snap(topk(spark, d, q, 10)))
        except BaseException as e:
            errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        if writer == "merge_index":
            merge_index(spark, d)
        else:
            update_index(spark, delta, d)
    finally:
        done.set()
        t.join(60)
    after = snap(topk(spark, d, q, 10))
    assert not errors, f"reader failed mid-write: {errors[0]!r}"
    assert observed, "reader thread never completed a query"
    bad = [o for o in observed if o not in (before, after)]
    assert not bad, f"reader saw a torn snapshot: {bad[0]}"
    if writer == "merge_index":
        [compacted] = check_index_format(d)["segments"]
        assert compacted > max(segs_before)
        assert after == before  # compaction changes no result
    else:
        assert after != before  # the delta actually changed the result set


def test_commit_removes_superseded_segments(spark, tmp_path_factory):
    """The one cleanup rule of _commit: a table dir is removed once it is in
    neither the new record nor the one it replaced. After a compaction the
    replaced segments stay on disk for one more commit; after one further
    append each table holds exactly the committed segments. Three folded
    deletes leave at most two delta dirs: the live one and the one it
    superseded."""
    from statschat_ke_spark.index.build import delete_docs

    pdf = generate_documents(300, seed=31)
    d = str(tmp_path_factory.mktemp("expire") / "idx")
    build_index(spark, _docs(spark, pdf.iloc[:150]), d)
    update_index(spark, _docs(spark, pdf.iloc[150:230]), d)
    replaced = check_index_format(d)["segments"]
    assert len(replaced) == 2
    merge_index(spark, d)
    [compacted] = check_index_format(d)["segments"]
    assert compacted > max(replaced)
    for table in ("postings", "docs", "lexicon"):
        assert _listed(d, table) == replaced + [compacted]

    update_index(spark, _docs(spark, pdf.iloc[230:]), d)
    committed = check_index_format(d)["segments"]
    [appended] = [s for s in committed if s != compacted]
    assert committed == [compacted, appended] and appended > compacted
    for table in ("postings", "docs", "lexicon"):
        assert _listed(d, table) == committed, table

    urls = sorted(r.url for r in _committed(spark, d, "docs").select("url").collect())
    for batch in (urls[:10], urls[10:20], urls[20:30]):
        assert delete_docs(spark, d, batch).n_deleted > 0
    [live] = [s for s in check_index_format(d)["segments"] if s >= DELETE_SEG_BASE]
    deltas = [s for s in _listed(d, "lexicon") if s >= DELETE_SEG_BASE]
    assert len(deltas) <= 2 and deltas[-1] == live, deltas
    for table in ("postings", "docs"):
        assert _listed(d, table) == committed, table


def _docs(spark, pdf):
    return spark.createDataFrame(pdf, schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )


def test_snapshot_handle_reuse_and_invalidation(spark, tmp_path_factory, monkeypatch):
    """Each commit's postings are opened once (lexicon and docs are read
    with pyarrow, never opened in Spark): a repeat topk on an unchanged
    snapshot opens no table, and each new commit of the same dir in the same
    process — a segment append, then a delete — makes the next topk open
    fresh tables whose results equal a fresh build of the same docs."""
    import numpy as np
    from pyspark.sql import DataFrameReader

    from statschat_ke_spark.index.build import delete_docs

    opened: list[str] = []
    parquet = DataFrameReader.parquet

    def counting(self, *paths, **kw):
        # one open per call, named by table (a snapshot lists its seg dirs)
        opened.append(os.path.basename(os.path.dirname(paths[0])))
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)

    def opens(d, q):
        opened.clear()
        topk(spark, d, q, 10, with_url=True).collect()
        return sorted(opened)

    def assert_same(d, ref):
        for q in ["county report statistics survey", "maize production"]:
            a = topk(spark, d, q, 10).toPandas()
            b = topk(spark, ref, q, 10).toPandas()
            assert len(a) > 0, q
            assert (a.doc_id.to_numpy() == b.doc_id.to_numpy()).all(), q
            assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9), q

    pdf = generate_documents(300, seed=21)
    root = tmp_path_factory.mktemp("handle")
    d = str(root / "idx")
    build_index(spark, _docs(spark, pdf.iloc[:200]), d)
    q = "county report statistics"
    assert opens(d, q) == ["postings"]
    assert opens(d, q) == []  # unchanged snapshot: the handle is reused
    assert opens(d, "maize production") == []  # probe misses reuse it too

    update_index(spark, _docs(spark, pdf.iloc[200:]), d)
    assert opens(d, q) == ["postings"]
    assert opens(d, q) == []
    ref = str(root / "ref_update")
    build_index(spark, _docs(spark, pdf), ref)
    assert_same(d, ref)

    victims = sorted(pdf.url)[::10]
    assert delete_docs(spark, d, victims).n_deleted > 0
    assert opens(d, q) == ["postings"]
    ref = str(root / "ref_delete")
    build_index(spark, _docs(spark, pdf[~pdf.url.isin(victims)]), ref)
    assert_same(d, ref)


def test_concurrent_snapshot_opens(spark, tmp_path_factory):
    """Eight threads querying a dir's new commit while its previous commit
    still has an open handle: none raises, and exactly one handle — the new
    commit's — remains for the dir."""
    import sys
    import threading

    from statschat_ke_spark.index import query as Q

    pdf = generate_documents(240, seed=23)
    d = str(tmp_path_factory.mktemp("handles") / "idx")
    build_index(spark, _docs(spark, pdf.iloc[:160]), d)
    q = "county report statistics survey"
    topk(spark, d, q, 5).collect()  # the previous commit's handle
    update_index(spark, _docs(spark, pdf.iloc[160:]), d)
    version = check_index_format(d)["version"]

    gate = threading.Barrier(8)
    errors: list[BaseException] = []
    results: list[list] = []

    def reader():
        try:
            gate.wait()
            results.append(sorted(tuple(r) for r in topk(spark, d, q, 5).collect()))
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the threads' lookup/evict/insert
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads), "reader thread hung"
    assert not errors, f"reader failed: {errors[0]!r}"
    assert len(results) == 8 and all(r == results[0] for r in results)
    assert [k for k in Q._SNAPSHOTS if k[0] == d] == [
        (d, version, id(spark.sparkContext))
    ]


QUERIES = ["what was inflation in december 2023", "maize production county report"]


def _assert_same_topk(spark, d, ref):
    import numpy as np

    for q in QUERIES:
        a = topk(spark, d, q, 10).toPandas()
        b = topk(spark, ref, q, 10).toPandas()
        assert len(a) > 0, q
        assert (a.doc_id.to_numpy() == b.doc_id.to_numpy()).all(), q
        assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9), q


def _tree(d, sub):
    """(path, size, mtime) of every file under ``d/sub``."""
    return sorted(
        (p, os.stat(p).st_size, os.stat(p).st_mtime_ns)
        for top, _, files in os.walk(os.path.join(d, sub))
        for p in (os.path.join(top, f) for f in files)
    )


@pytest.fixture(scope="module")
def lock_docs(spark, tmp_path_factory):
    """Base and delta docs, and a fresh build over both."""
    pdf = generate_documents(300, seed=41)
    base, delta = _docs(spark, pdf.iloc[:200]), _docs(spark, pdf.iloc[200:])
    ref = str(tmp_path_factory.mktemp("lockref") / "idx")
    build_index(spark, base.unionByName(delta), ref)
    return base, delta, ref


@pytest.mark.parametrize("writer", ["build_index", "update_index", "ingest_stream"])
def test_writer_refused_before_staging(spark, lock_docs, tmp_path_factory, writer):
    """Every write call holds the writer lock from its first read to its
    commit: while another thread holds it, build_index, update_index and
    ingest_stream raise WriterConflict before they stage anything (staged/
    and _lineage/ unchanged). Retried after the release, the call equals a
    fresh build."""
    import threading

    from statschat_ke_spark.index.build import WriterConflict, _writer_lock
    from statschat_ke_spark.streaming.ingest import ingest_stream

    base, delta, ref = lock_docs
    root = tmp_path_factory.mktemp("held")
    d = str(root / "idx")
    build_index(spark, base, d)
    if writer == "build_index":
        def call():
            return build_index(spark, base.unionByName(delta), d)
    elif writer == "update_index":
        def call():
            return update_index(spark, delta, d)
    else:
        landing = str(root / "landing")
        delta.write.parquet(landing)

        def call():
            return ingest_stream(spark, landing, d)
    before = [_tree(d, sub) for sub in ("staged", "_lineage")]

    entered, release = threading.Event(), threading.Event()

    def hold():
        with _writer_lock(d):
            entered.set()
            release.wait(120)

    t = threading.Thread(target=hold)
    t.start()
    try:
        assert entered.wait(60)
        with pytest.raises(WriterConflict):
            call()
        assert [_tree(d, sub) for sub in ("staged", "_lineage")] == before
    finally:
        release.set()
        t.join(60)

    res = call()
    assert res.n_docs == check_index_format(ref)["n_docs"]
    _assert_same_topk(spark, d, ref)


def test_pending_chunks_publish_as_one_segment(spark, tmp_path_factory, monkeypatch):
    """An update that crashes while packing its segment leaves its chunk
    staged and lineage-committed but not covered. The next update packs
    BOTH pending chunks into one new data segment, with an id above every
    earlier one, covers both, and equals a fresh build of all the docs."""
    import statschat_ke_spark.index.build as build_mod

    def crash(*_a, **_kw):
        raise RuntimeError("injected crash")

    pdf = generate_documents(400, seed=29)
    base = _docs(spark, pdf.iloc[:250])
    first, second = _docs(spark, pdf.iloc[250:330]), _docs(spark, pdf.iloc[330:])
    d = str(tmp_path_factory.mktemp("pend") / "idx")
    ref = str(tmp_path_factory.mktemp("pendref") / "idx")
    build_index(spark, base, d)
    before = check_index_format(d)
    with monkeypatch.context() as m:
        m.setattr(build_mod, "_build_segment", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            update_index(spark, first, d)
    assert check_index_format(d) == before

    res = update_index(spark, second, d)
    after = check_index_format(d)
    [new] = [s for s in after["segments"] if s not in before["segments"]]
    assert after["segments"] == before["segments"] + [new]
    assert new > max(before["segments"])
    assert len(after["covered_chunks"]) == len(before["covered_chunks"]) + 2
    assert res.chunks_processed == 2
    ref_res = build_index(spark, base.unionByName(first).unionByName(second), ref)
    assert res.n_docs == ref_res.n_docs
    _assert_same_topk(spark, d, ref)
