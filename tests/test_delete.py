"""Document deletion (tombstone) tests — the Iceberg delete-file analog.

Exactness contract: after delete_docs, topk and topk_batch must return results
rank-identical AND score-identical (1e-9) to an index built from scratch
WITHOUT the deleted docs — i.e. the tombstone mask, the negative-df lexicon
delta, and the decremented n_docs/avgdl together reproduce exact BM25 over
the surviving corpus. Lifecycle: idempotent re-delete, physical reclaim at
compaction, survival of the delete set across later appends and compactions,
terminal-delete semantics for re-sent urls.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from statschat_ke_spark.corpus import DOCUMENTS_SPARK_SCHEMA, generate_documents
from statschat_ke_spark.index.build import (
    DELETE_SEG_BASE,
    build_index,
    delete_docs,
    merge_index,
    update_index,
)
from statschat_ke_spark.index.query import (
    _prune_to_snapshot,
    check_index_format,
    topk,
    topk_batch,
)

QUERIES = [
    "county report statistics survey",
    "what was inflation in december 2023",
    "maize production",
]


def _docs(spark, pdf):
    return spark.createDataFrame(pdf, schema=DOCUMENTS_SPARK_SCHEMA).select(
        "url", "warc_ts", "html", "text", "lang"
    )


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_documents(400, seed=5)


@pytest.fixture(scope="module")
def deleted_pair(spark, corpus, tmp_path_factory):
    """(index with 60 docs tombstone-deleted, fresh index built without them,
    victim urls)."""
    docs = _docs(spark, corpus)
    d1 = str(tmp_path_factory.mktemp("del") / "idx")
    d2 = str(tmp_path_factory.mktemp("ref") / "idx")
    build_index(spark, docs, d1)
    victims = sorted(
        r.url
        for r in spark.read.parquet(os.path.join(d1, "docs")).select("url").collect()
    )[:60]
    res = delete_docs(spark, d1, victims)
    assert res.n_deleted == 60
    build_index(spark, docs.filter(~docs.url.isin(victims)), d2)
    return d1, d2, victims


def _assert_same_topk(spark, d1, d2):
    for q in QUERIES:
        a = topk(spark, d1, q, 10).toPandas()
        b = topk(spark, d2, q, 10).toPandas()
        assert (a.doc_id.to_numpy() == b.doc_id.to_numpy()).all(), q
        assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9), q


def test_delete_equals_fresh_build_both_modes(spark, deleted_pair):
    d1, d2, _ = deleted_pair
    _assert_same_topk(spark, d1, d2)


def test_delete_equals_fresh_build_batch(spark, deleted_pair):
    d1, d2, _ = deleted_pair
    qs = dict(enumerate(QUERIES))
    a = topk_batch(spark, d1, qs, 10, n_qb=2).toPandas()
    b = topk_batch(spark, d2, qs, 10, n_qb=2).toPandas()
    assert (a.doc_id.to_numpy() == b.doc_id.to_numpy()).all()
    assert (a[["query_id", "rank"]].to_numpy() == b[["query_id", "rank"]].to_numpy()).all()
    assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9)


def test_deleted_docs_never_returned(spark, deleted_pair, corpus):
    """Even a query tailor-made for a deleted doc must not return it."""
    d1, _, victims = deleted_pair
    dead_ids = {
        int(r.doc_id)
        for r in spark.read.parquet(os.path.join(d1, "staged"))
        .filter("url in ({})".format(",".join(f"'{u}'" for u in victims)))
        .select("doc_id")
        .collect()
    }
    # big k over several queries: no tombstoned id may surface
    for q in QUERIES:
        got = {int(r.doc_id) for r in topk(spark, d1, q, 200).collect()}
        assert not (got & dead_ids)


def test_redelete_and_unknown_urls_are_noops(spark, deleted_pair):
    d1, _, victims = deleted_pair
    before = topk(spark, d1, QUERIES[0], 10).toPandas()
    r1 = delete_docs(spark, d1, victims[:10])  # already tombstoned
    r2 = delete_docs(spark, d1, ["no-such-url-1", "no-such-url-2"])
    assert r1.n_deleted == 0 and r1.tombstone_file is None
    assert r2.n_deleted == 0 and r2.tombstone_file is None
    after = topk(spark, d1, QUERIES[0], 10).toPandas()
    assert after.equals(before)


def test_compaction_reclaims_and_stays_identical(spark, corpus, tmp_path_factory):
    docs = _docs(spark, corpus)
    d1 = str(tmp_path_factory.mktemp("cmp") / "idx")
    d2 = str(tmp_path_factory.mktemp("cmpref") / "idx")
    build_index(spark, docs, d1)
    victims = sorted(
        r.url
        for r in spark.read.parquet(os.path.join(d1, "docs")).select("url").collect()
    )[::5]  # every 5th doc
    delete_docs(spark, d1, victims)
    build_index(spark, docs.filter(~docs.url.isin(victims)), d2)

    def committed_rows():
        # the replaced snapshot's segments stay on disk for one more commit
        return _prune_to_snapshot(
            spark.read.parquet(os.path.join(d1, "postings")), check_index_format(d1)
        ).count()

    rows_before = committed_rows()
    merge_index(spark, d1)
    rows_after = committed_rows()
    assert rows_after < rows_before  # physical reclaim
    _assert_same_topk(spark, d1, d2)
    # tombstone files survive the compaction (staged still holds the rows,
    # so a future rebuild must keep filtering)
    import json

    with open(os.path.join(d1, "_SUCCESS.json")) as f:
        assert json.load(f)["tombstone_files"]
    # ... and a SECOND compaction still excludes the deleted docs
    merge_index(spark, d1)
    _assert_same_topk(spark, d1, d2)


def test_delete_then_segment_append(spark, corpus, tmp_path_factory):
    """Delete followed by an incremental segment append: the negative-df
    lexicon delta must survive in the marker's segment list (reserved
    DELETE_SEG_BASE ids can't be overwritten by chunk-numbered segments),
    and results must equal a fresh build of (base - deleted + delta)."""
    import json

    docs = _docs(spark, corpus)
    pdf2 = generate_documents(80, seed=99)
    extra = _docs(spark, pdf2)
    d1 = str(tmp_path_factory.mktemp("da") / "idx")
    d2 = str(tmp_path_factory.mktemp("daref") / "idx")
    build_index(spark, docs, d1)
    victims = sorted(
        r.url
        for r in spark.read.parquet(os.path.join(d1, "docs")).select("url").collect()
    )[:40]
    delete_docs(spark, d1, victims)
    update_index(spark, extra, d1)

    with open(os.path.join(d1, "_SUCCESS.json")) as f:
        marker = json.load(f)
    assert any(int(s) >= DELETE_SEG_BASE for s in marker["segments"]), (
        "lexicon-delta segment dropped from the committed segment list"
    )

    ref = docs.filter(~docs.url.isin(victims)).unionByName(extra)
    build_index(spark, ref, d2)
    _assert_same_topk(spark, d1, d2)

    # terminal-delete semantics: re-sending a deleted url is a no-op
    resend = docs.filter(docs.url.isin(victims[:5]))
    update_index(spark, resend, d1)
    _assert_same_topk(spark, d1, d2)


def test_delete_everything(spark, tmp_path_factory):
    pdf = generate_documents(60, seed=3)
    docs = _docs(spark, pdf)
    d = str(tmp_path_factory.mktemp("all") / "idx")
    build_index(spark, docs, d)
    urls = [r.url for r in spark.read.parquet(os.path.join(d, "docs")).collect()]
    res = delete_docs(spark, d, urls)
    assert res.n_docs == 0 and res.avgdl == 0.0
    assert topk(spark, d, QUERIES[0], 10).count() == 0


def test_multiple_deletes_fold_to_one_delta_segment(spark, corpus, tmp_path_factory):
    """N takedown calls must leave exactly ONE live delta segment (probe
    fan-out O(1) in lifetime deletes) and stay exact vs a fresh build."""
    import json

    docs = _docs(spark, corpus)
    d1 = str(tmp_path_factory.mktemp("fold") / "idx")
    d2 = str(tmp_path_factory.mktemp("foldref") / "idx")
    build_index(spark, docs, d1)
    urls = sorted(
        r.url
        for r in spark.read.parquet(os.path.join(d1, "docs")).select("url").collect()
    )
    for batch in (urls[:15], urls[15:30], urls[30:45]):
        delete_docs(spark, d1, batch)
    with open(os.path.join(d1, "_SUCCESS.json")) as f:
        marker = json.load(f)
    deltas_in_marker = [s for s in marker["segments"] if int(s) >= DELETE_SEG_BASE]
    assert len(deltas_in_marker) == 1
    # the one live delta is the one on disk under the newest reserved id
    listed = sorted(
        int(x.split("=", 1)[1])
        for x in os.listdir(os.path.join(d1, "lexicon"))
        if int(x.split("=", 1)[1]) >= DELETE_SEG_BASE
    )
    assert deltas_in_marker == listed[-1:]
    build_index(spark, docs.filter(~docs.url.isin(urls[:45])), d2)
    _assert_same_topk(spark, d1, d2)


def test_orphan_delta_segment_never_published(spark, corpus, tmp_path_factory):
    """A delete that crashed after its lexicon-delta write but before the
    commit leaves an orphan delta dir; later commits must NOT
    publish it (marker segments come from committed state, not directory
    listing), and a retry of the delete must subtract exactly once."""
    import json

    docs = _docs(spark, corpus)
    pdf2 = generate_documents(50, seed=42)
    extra = _docs(spark, pdf2)
    d1 = str(tmp_path_factory.mktemp("orph") / "idx")
    d2 = str(tmp_path_factory.mktemp("orphref") / "idx")
    build_index(spark, docs, d1)
    victims = sorted(
        r.url
        for r in spark.read.parquet(os.path.join(d1, "docs")).select("url").collect()
    )[:20]

    # simulate the crash window: an orphan negative-delta dir on disk with
    # no tombstone and no commit
    orphan_seg = DELETE_SEG_BASE + 7
    spark.createDataFrame(
        [(123456789, "zzzorphan", -999999, -999999)],
        "term_id long, term string, df long, cf long",
    ).write.mode("overwrite").parquet(
        os.path.join(d1, "lexicon", f"seg={orphan_seg}")
    )

    # a later append publishes a fresh marker — the orphan must stay out,
    # and that commit removes it
    update_index(spark, extra, d1)
    with open(os.path.join(d1, "_SUCCESS.json")) as f:
        marker = json.load(f)
    assert orphan_seg not in [int(s) for s in marker["segments"]]
    assert not os.path.exists(os.path.join(d1, "lexicon", f"seg={orphan_seg}"))

    # the delete retry lands once, on a seg id that avoids the orphan dir
    res = delete_docs(spark, d1, victims)
    assert res.n_deleted == 20
    with open(os.path.join(d1, "_SUCCESS.json")) as f:
        deltas = [s for s in json.load(f)["segments"] if s >= DELETE_SEG_BASE]
    assert deltas and deltas[0] != orphan_seg

    ref = docs.filter(~docs.url.isin(victims)).unionByName(extra)
    build_index(spark, ref, d2)
    _assert_same_topk(spark, d1, d2)


def test_delete_ignores_uncommitted_staged_chunk(spark, corpus, tmp_path_factory):
    """A url that exists only in a staged-but-unmerged chunk was never added
    to the committed stats — deleting it must be a no-op, not a stats
    corruption."""
    from statschat_ke_spark.index.build import _prepare_base, _stage_chunk

    docs = _docs(spark, corpus)
    pdf2 = generate_documents(40, seed=13)
    pending = _docs(spark, pdf2)
    d = str(tmp_path_factory.mktemp("unc") / "idx")
    build_index(spark, docs, d)
    base = _prepare_base(pending, "en")
    _stage_chunk(spark, base, d, 1)  # staged, never appended
    pending_urls = [r.url for r in base.select("url").limit(5).collect()]
    before = topk(spark, d, QUERIES[0], 10).toPandas()
    res = delete_docs(spark, d, pending_urls)
    assert res.n_deleted == 0 and res.tombstone_file is None
    assert topk(spark, d, QUERIES[0], 10).toPandas().equals(before)


def test_streaming_reland_of_deleted_url_not_readmitted(
    spark, corpus, tmp_path_factory
):
    """A streaming drain stages only urls no staged chunk holds, and a
    deleted doc's row stays in its staged chunk, so a drain that re-lands
    a deleted url cannot re-increment n_docs/df for a forever-masked doc."""
    from statschat_ke_spark.streaming.ingest import ingest_stream

    docs = _docs(spark, corpus)
    tmp = tmp_path_factory.mktemp("rl")
    d, landing = str(tmp / "idx"), str(tmp / "landing")
    build_index(spark, docs, d)
    victims = sorted(
        r.url
        for r in spark.read.parquet(os.path.join(d, "docs")).select("url").collect()
    )[:10]
    res = delete_docs(spark, d, victims)
    before = topk(spark, d, QUERIES[0], 10).toPandas()

    # a real drain re-landing the deleted urls verbatim
    docs.filter(docs.url.isin(victims)).write.parquet(landing)
    out = ingest_stream(spark, landing, d)
    assert out.n_docs == res.n_docs  # nothing re-admitted
    assert topk(spark, d, QUERIES[0], 10).toPandas().equals(before)


def _crash(*_a, **_kw):
    raise RuntimeError("injected crash")


def test_delete_crash_before_commit_retries_exactly_once(
    spark, corpus, tmp_path_factory, monkeypatch
):
    """A delete that crashes at its commit-record write leaves the old
    snapshot whole: the retry must find and delete every victim once and
    match a survivors-only build (no half-committed tombstone state)."""
    import statschat_ke_spark.index.build as build_mod

    docs = _docs(spark, corpus)
    d1 = str(tmp_path_factory.mktemp("dcr") / "idx")
    d2 = str(tmp_path_factory.mktemp("dcrref") / "idx")
    build_index(spark, docs, d1)
    victims = sorted(
        r.url
        for r in spark.read.parquet(os.path.join(d1, "docs")).select("url").collect()
    )[:60]

    real = build_mod._atomic_json
    crashed: list[str] = []

    def crash_at_marker(path, obj, **kw):
        if path.endswith("_SUCCESS.json") and not crashed:
            crashed.append(path)
            _crash()
        return real(path, obj, **kw)

    monkeypatch.setattr(build_mod, "_atomic_json", crash_at_marker)
    with pytest.raises(RuntimeError, match="injected crash"):
        delete_docs(spark, d1, victims)
    assert crashed

    res = delete_docs(spark, d1, victims)
    assert res.n_deleted == len(victims)
    build_index(spark, docs.filter(~docs.url.isin(victims)), d2)
    _assert_same_topk(spark, d1, d2)


@pytest.mark.parametrize("crash_at", ["_build_segment", "_commit"])
def test_crashed_compaction_keeps_deletes(
    spark, corpus, tmp_path_factory, monkeypatch, crash_at
):
    """A compaction that crashes before its commit — while writing the new
    segment, or at the commit after writing it — must not lose the delete
    set: the pre-compaction snapshot keeps serving with its deletes applied
    (equal to a survivors-only build), re-deleting a victim is a no-op, and
    a retried merge_index still excludes every tombstoned doc and removes
    the orphan segment dir the crash left."""
    import statschat_ke_spark.index.build as build_mod

    docs = _docs(spark, corpus)
    d1 = str(tmp_path_factory.mktemp("ccd") / "idx")
    d2 = str(tmp_path_factory.mktemp("ccdref") / "idx")
    build_index(spark, docs, d1)
    victims = sorted(
        r.url
        for r in spark.read.parquet(os.path.join(d1, "docs")).select("url").collect()
    )[::7]
    delete_docs(spark, d1, victims)
    build_index(spark, docs.filter(~docs.url.isin(victims)), d2)
    [built] = [
        s for s in check_index_format(d1)["segments"] if s < DELETE_SEG_BASE
    ]

    with monkeypatch.context() as m:
        m.setattr(build_mod, crash_at, _crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            merge_index(spark, d1)
    postings = os.path.join(d1, "postings")
    orphans = [
        int(x.split("=", 1)[1]) for x in os.listdir(postings) if x != f"seg={built}"
    ]
    assert len(orphans) == (crash_at == "_commit")
    _assert_same_topk(spark, d1, d2)
    res = delete_docs(spark, d1, victims[:1])
    assert res.n_deleted == 0 and res.tombstone_file is None

    merge_index(spark, d1)
    [new] = check_index_format(d1)["segments"]
    assert new > max([built] + orphans)
    # the retry's commit removed the orphan (the replaced segment stays)
    assert sorted(os.listdir(postings)) == sorted(
        f"seg={s}" for s in {built, new}
    )
    _assert_same_topk(spark, d1, d2)
