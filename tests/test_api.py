"""End-to-end search() API — the reference make_query surface (SURVEY §3.1)
composed from retrieval + metadata join + postproc + highlight."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from statschat_ke_spark.api import search


@pytest.fixture(scope="module")
def metadata(spark, corpus_df):
    # deterministic metadata: title from url, date from warc_ts, carry text
    return corpus_df.select(
        F.xxhash64("url").alias("doc_id"),
        F.regexp_replace("url", r"^https?://[^/]+/", "").alias("title"),
        F.to_date("warc_ts").alias("date"),
        "text",
    )


def test_search_end_to_end(spark, index_dir, metadata):
    out = search(
        spark,
        index_dir,
        "what was inflation in december 2023",
        k=10,
        k_contexts=5,
        now="2024-01-01",
        metadata=metadata,
    )
    refs = out["references"]
    assert 1 <= len(refs) <= 5
    # ranked 1..n, scores rounded to 2 decimals, descending
    assert [r["doc_num"] for r in refs] == list(range(1, len(refs) + 1))
    scores = [r["score"] for r in refs]
    assert scores == sorted(scores, reverse=True)
    assert all(round(s, 2) == s for s in scores)
    # query terms highlighted in the top context
    assert "<b>" in refs[0]["text"].lower()
    # recency weight: question has no recent/latest keyword -> half weight
    assert out["latest_weight"] == 1.0


def test_search_latest_weight_and_escape(spark, index_dir, metadata):
    out = search(
        spark, index_dir, "latest <b>inflation</b> figures", metadata=metadata
    )
    assert out["latest_weight"] == 2.0  # 'latest' triggers full weight (F7)
    assert "&lt;b&gt;" in out["question"]  # F15 escape on the echo


def test_search_empty_question(spark, index_dir):
    out = search(spark, index_dir, "   ")
    assert out == {"question": "", "latest_weight": None, "references": []}


def test_search_degraded_without_metadata(spark, index_dir):
    out = search(spark, index_dir, "county inflation report", k_contexts=3)
    refs = out["references"]
    assert 1 <= len(refs) <= 3
    assert [r["doc_num"] for r in refs] == list(range(1, len(refs) + 1))


# ---- HTTP façade (api_http.py — reference fast-api/main_api_cloud.py) ----


class _WSGIClient:
    """Drive the WSGI app without a socket."""

    def __init__(self, app):
        self.app = app

    def request(self, method, path, query="", body=None):
        import io

        raw = b"" if body is None else body
        environ = {
            "REQUEST_METHOD": method,
            "PATH_INFO": path,
            "QUERY_STRING": query,
            "CONTENT_LENGTH": str(len(raw)),
            "wsgi.input": io.BytesIO(raw),
        }
        captured = {}

        def start_response(status, headers):
            captured["status"] = status
            captured["headers"] = dict(headers)

        chunks = b"".join(self.app(environ, start_response))
        import json as _json

        parsed = _json.loads(chunks) if chunks else None
        return int(captured["status"].split()[0]), parsed


@pytest.fixture(scope="module")
def http_client(spark, index_dir, metadata, tmp_path_factory):
    from statschat_ke_spark.api_http import StatsChatApp

    fb = str(tmp_path_factory.mktemp("fb") / "feedback.jsonl")
    app = StatsChatApp(
        spark,
        index_dir,
        metadata=metadata,
        feedback_path=fb,
        now="2024-01-01",
    )
    return _WSGIClient(app), fb


def test_http_search(http_client):
    client, _ = http_client
    code, body = client.request(
        "GET", "/search", "q=what+was+inflation+in+december+2023&content_type=all"
    )
    assert code == 200
    assert body["content_type"] == "all"
    assert body["question"].startswith("what was inflation")
    assert 1 <= len(body["references"]) <= 5
    assert body["references"][0]["doc_num"] == 1


def test_http_search_fallback_content_type(http_client):
    # unknown type falls back to "latest" — but this app's metadata has no
    # 'latest' column, so the response must not claim a filter that never
    # ran: content_type is forced to "all" (honest-echo rule)
    client, _ = http_client
    code, body = client.request("GET", "/search", "q=inflation&content_type=bogus")
    assert code == 200
    assert body["content_type"] == "all"


def test_http_search_latest_echo_with_latest_metadata(spark, index_dir, metadata):
    # with a real 'latest' column the fallback chain stops at "latest"
    from statschat_ke_spark.api_http import StatsChatApp

    md = metadata.withColumn("latest", F.lit(True))
    app = StatsChatApp(spark, index_dir, metadata=md, now="2024-01-01")
    client = _WSGIClient(app)
    code, body = client.request("GET", "/search", "q=inflation&content_type=bogus")
    assert code == 200
    assert body["content_type"] == "latest"
    assert len(body["references"]) >= 1


def test_http_search_empty_question_422(http_client):
    client, _ = http_client
    for q in ("", "q=", "q=++"):
        code, body = client.request("GET", "/search", q)
        assert code == 422
        assert "Empty question" in body["detail"]


def test_http_feedback(http_client):
    import json as _json

    client, fb = http_client
    code, body = client.request(
        "POST",
        "/feedback",
        body=_json.dumps({"rating": 1, "rating_comment": "good"}).encode(),
    )
    assert code == 202 and body is None
    code, _ = client.request("POST", "/feedback", body=b'{"rating_comment": "x"}')
    assert code == 422  # rating required
    code, _ = client.request("POST", "/feedback", body=b"not json")
    assert code == 422
    with open(fb) as fh:
        lines = [_json.loads(ln) for ln in fh]
    assert lines == [{"rating": 1, "rating_comment": "good"}]


def test_http_root_and_404(http_client):
    client, _ = http_client
    code, body = client.request("GET", "/")
    assert code == 200 and "endpoints" in body
    code, _ = client.request("GET", "/nope")
    assert code == 404


def test_search_latest_only_filters(spark, index_dir, metadata):
    # latest_only + a latest flag column: non-latest docs drop from refs
    from pyspark.sql import functions as F

    md = metadata.withColumn("latest", F.lit(False))
    out = search(
        spark,
        index_dir,
        "inflation",
        metadata=md,
        latest_only=True,
        now="2024-01-01",
    )
    assert out["references"] == []
    md_all = metadata.withColumn("latest", F.lit(True))
    out2 = search(
        spark,
        index_dir,
        "inflation",
        metadata=md_all,
        latest_only=True,
        now="2024-01-01",
    )
    assert len(out2["references"]) >= 1


def test_search_latest_only_overfetch_fills_k(spark, index_dir, metadata):
    """latest_only must return a full candidate set even when non-latest
    docs crowd the raw top-k: retrieval over-fetches (fetch_k=4k default)
    before the latest join and truncates after (ADVICE r3 medium)."""
    q = "county inflation report"
    baseline = search(spark, index_dir, q, k=3, k_contexts=3, now="2024-01-01",
                      metadata=metadata)
    top_ids = {r["doc_id"] for r in baseline["references"]}
    assert top_ids
    # flag exactly the raw top hits as NON-latest; everything else is latest
    md = metadata.withColumn(
        "latest", ~F.col("doc_id").isin([int(i) for i in top_ids])
    )
    out = search(spark, index_dir, q, k=3, k_contexts=3, now="2024-01-01",
                 metadata=md, latest_only=True)
    refs = out["references"]
    # the previously-top (non-latest) docs are gone, and over-fetch still
    # found k latest replacements instead of returning an empty/short list
    assert len(refs) == 3
    assert not top_ids & {r["doc_id"] for r in refs}


def test_feedback_concurrent_append_and_rotation(spark, index_dir, tmp_path):
    """S13 sink durability: concurrent appends interleave without tearing
    (O_APPEND single-write), and the size-based rotation hook kicks in."""
    import json as _json
    import threading

    from statschat_ke_spark.api_http import StatsChatApp

    fb = str(tmp_path / "fb.jsonl")
    app = StatsChatApp(spark, index_dir, feedback_path=fb)
    client = _WSGIClient(app)

    n_threads, per_thread = 8, 25
    errors = []

    def hammer(tid):
        try:
            for i in range(per_thread):
                body = _json.dumps(
                    {"rating": tid, "rating_comment": f"t{tid}-i{i}-" + "x" * 50}
                ).encode()
                code, _ = client.request("POST", "/feedback", body=body)
                assert code == 202
        except Exception as e:  # surfaced below — don't swallow in thread
            errors.append(e)

    threads = [threading.Thread(target=hammer, args=(t,)) for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    with open(fb) as fh:
        lines = [_json.loads(ln) for ln in fh]  # every line parses — no tears
    assert len(lines) == n_threads * per_thread
    seen = {(r["rating"], r["rating_comment"]) for r in lines}
    assert len(seen) == n_threads * per_thread

    # rotation: cap small enough that the next append rotates the live file
    app2 = StatsChatApp(spark, index_dir, feedback_path=fb, feedback_max_bytes=1024)
    client2 = _WSGIClient(app2)
    code, _ = client2.request("POST", "/feedback", body=b'{"rating": 99}')
    assert code == 202
    import os as _os

    assert _os.path.exists(fb + ".1")  # old generation rotated aside
    with open(fb) as fh:
        live = [_json.loads(ln) for ln in fh]
    assert live == [{"rating": 99}]


def test_doc_u_asc_unsigned_tie_order(spark):
    """Score-tie truncation in search() must use the engine-wide UNSIGNED
    doc_id order (doc_id = xxhash64(url) is ~half negative): on a tie the
    positive id (unsigned-small) wins over the negative one, matching
    topk()/the oracle — a signed F.asc would keep the opposite row."""
    from statschat_ke_spark.operators.postproc import doc_u_asc
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(-5, 1.0), (3, 1.0), (7, 2.0)], "doc_id long, score double"
    )
    got = [r.doc_id for r in df.orderBy(F.desc("score"), doc_u_asc()).collect()]
    assert got == [7, 3, -5]


def test_http_delete_endpoint(spark, index_dir, tmp_path_factory):
    """POST /delete tombstones documents and the very next /search serves the
    new snapshot (topk re-reads the marker per query); validation 422s; a
    held writer lock maps to 409 Conflict."""
    import json as _json
    import shutil as _shutil
    import threading

    from statschat_ke_spark.api_http import StatsChatApp
    from statschat_ke_spark.index.build import _writer_lock

    d = str(tmp_path_factory.mktemp("httpdel") / "idx")
    _shutil.copytree(index_dir, d)
    app = StatsChatApp(spark, d)
    client = _WSGIClient(app)

    code, about = client.request("GET", "/")
    assert "POST /delete" in about["endpoints"]

    code, body = client.request("GET", "/search", query="q=county+report")
    assert code == 200 and body["references"]
    victim_url = body["references"][0]["url"]
    victim_id = body["references"][0]["doc_id"]

    code, out = client.request(
        "POST", "/delete", body=_json.dumps({"urls": [victim_url]}).encode()
    )
    assert code == 200 and out["deleted"] == 1

    code, body2 = client.request("GET", "/search", query="q=county+report")
    assert code == 200
    assert victim_id not in [r["doc_id"] for r in body2["references"]]

    # idempotent re-delete over HTTP
    code, out2 = client.request(
        "POST", "/delete", body=_json.dumps({"urls": [victim_url]}).encode()
    )
    assert code == 200 and out2["deleted"] == 0
    assert out2["already_deleted_or_unknown"] == 1

    # validation
    for bad in (b"{}", b'{"urls": []}', b'{"urls": "x"}', b'{"urls": [1]}', b"nope"):
        code, _ = client.request("POST", "/delete", body=bad)
        assert code == 422, bad

    # a live writer (other thread holding the lock) → 409, index unharmed
    entered, release = threading.Event(), threading.Event()

    def hold():
        with _writer_lock(d):
            entered.set()
            release.wait(10)

    t = threading.Thread(target=hold)
    t.start()
    assert entered.wait(10)
    try:
        code, out3 = client.request(
            "POST", "/delete", body=_json.dumps({"urls": ["whatever"]}).encode()
        )
        assert code == 409
    finally:
        release.set()
        t.join(10)
    code, _ = client.request("GET", "/search", query="q=county+report")
    assert code == 200


def test_search_result_cache(spark, index_dir, tmp_path_factory, monkeypatch):
    """Repeat questions skip retrieval entirely (the reference's lru_cache on
    make_query, cloud_llm.py:235) — but keyed by commit version, so a delete
    invalidates; and returned dicts are copies, so callers can't poison it."""
    import shutil as _shutil

    import statschat_ke_spark.api as api_mod
    from statschat_ke_spark.index.build import delete_docs

    d = str(tmp_path_factory.mktemp("cache") / "idx")
    _shutil.copytree(index_dir, d)

    q = "county economic report"
    first = search(spark, d, q, k=5)
    assert first["references"]

    # second call must be served from the cache: retrieval forbidden
    def boom(*a, **kw):  # pragma: no cover - should never run
        raise AssertionError("topk ran on a cached question")

    monkeypatch.setattr(api_mod, "topk", boom)
    second = search(spark, d, q, k=5)
    assert second == first
    # mutating the returned dict must not poison the cache
    second["references"].append({"doc_id": -1})
    second["content_type"] = "mutated"
    third = search(spark, d, q, k=5)
    assert third == first
    monkeypatch.undo()

    # a delete commits a new version -> same question recomputes and the
    # tombstoned doc is gone
    victim = first["references"][0]
    delete_docs(spark, d, [victim["url"]])
    fourth = search(spark, d, q, k=5)
    assert victim["doc_id"] not in [r["doc_id"] for r in fourth["references"]]

    # use_cache=False bypasses entirely
    fifth = search(spark, d, q, k=5, use_cache=False)
    assert fifth == fourth
