"""User-facing query API — the reference's ``Inquirer.make_query`` surface
(/root/reference/statschat/generative/cloud_llm.py:235-334) composed from the
engine's operators, minus the LLM answer step (out of scope by design,
SURVEY.md §2.8: the QA chain is a post-retrieval driver hook).

Flow (reference step → here):
1. empty/invalid-question guard (main_api_cloud.py:97-99 → P10; html escape
   F15 is applied to the echoed question)
2. recency weight from the question (latest_flag_helpers.py:17-28 → F7)
3. top-k retrieval (FAISS similarity_search → block-max WAND BM25, J5/W1),
   collected with its urls (docstore lookup → a driver-side read of the
   key-bucketed docs table, index/query.py ``_with_urls``)
4. metadata join (broadcast join of the metadata on doc_id)
5. score threshold (P5) → first-wins dedup on (title, date) (A2) → logistic
   time-decay rerank (W2/F5, injected ``now``) → relative-score filter (P6)
   → rank + head-n contexts (W3/W4) → display rounding (P11); without
   metadata only threshold, head, rank and rounding apply, on the driver
6. query-term highlighting over the context text (F8; the reference
   highlights LLM-chosen phrases — without an LLM we highlight the query's
   own terms, a documented divergence)

``metadata`` is an optional DataFrame (doc_id, title, date[, text]); when
absent, steps needing it degrade gracefully (no dedup-by-title, no decay).
Everything through step 5 runs on ≤k collected rows — the reference operates
on ≤k dicts at the same point (cloud_llm.py:156-299).
"""

from __future__ import annotations

import copy
import datetime as _dt
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession, functions as F

from statschat_ke_spark.functions.refops import (
    highlight_udf,
    html_escape_py,
    latest_weight_py,
    round_py,
)
from statschat_ke_spark.index.query import topk
from statschat_ke_spark.operators.postproc import doc_u_asc, search_pipeline


# Query-RESULT cache — the engine analog of the reference's ``lru_cache``
# on Inquirer.make_query (cloud_llm.py:235: repeated questions skip
# retrieval entirely). Keyed by the index's COMMIT VERSION plus every
# argument that shapes the response, so a segment append / delete / compact
# invalidates implicitly (new version ⇒ new key) — the reference's cache
# has no such invalidation and serves stale results after an UPDATE run
# until process restart (documented divergence, in our favor). Thread-safe
# LRU; entries are deep-copied on the way out so callers (api_http mutates
# the response) can't poison the cache.
RESULT_CACHE_MAX = 256
_RESULT_CACHE: OrderedDict = OrderedDict()
_RESULT_LOCK = threading.Lock()


def _result_cache_get(key):
    with _RESULT_LOCK:
        hit = _RESULT_CACHE.get(key)
        if hit is not None:
            _RESULT_CACHE.move_to_end(key)
            return copy.deepcopy(hit[0])
    return None


def _result_cache_put(key, value, pin=None) -> None:
    """``pin`` holds a strong reference to any object whose id() is part of
    ``key`` (the metadata DataFrame): without it, CPython can recycle the
    freed frame's address for a DIFFERENT metadata object and the key would
    collide — the entry keeps the id's referent alive for its own lifetime."""
    with _RESULT_LOCK:
        _RESULT_CACHE[key] = (copy.deepcopy(value), pin)
        _RESULT_CACHE.move_to_end(key)
        while len(_RESULT_CACHE) > RESULT_CACHE_MAX:
            _RESULT_CACHE.popitem(last=False)


def search(
    spark: SparkSession,
    index_dir: str,
    question: str,
    *,
    k: int = 10,
    k_contexts: int = 5,
    min_score: float = 0.0,
    latest_max: float = 2.0,
    now: str | None = None,
    metadata: DataFrame | None = None,
    latest_only: bool = False,
    fetch_k: int | None = None,
    highlight: bool = True,
    use_cache: bool = True,
) -> dict:
    """Answer one question: returns the reference's response shape
    (main_api_cloud.py:111-120) minus the LLM answer —
    ``{question, latest_weight, references: [...]}``.

    ``fetch_k``: candidates retrieved before post-retrieval filtering.
    Defaults to ``k`` — except under ``latest_only``, where it defaults to
    ``4 * k`` so the latest-filter join still has a full k latest hits to
    return when non-latest docs crowd the raw top-k (the reference gets the
    same guarantee by querying a dedicated latest-only FAISS store,
    cloud_llm.py:115-148 ``db_latest``; over-fetch + filter + truncate is
    the single-index equivalent)."""
    q = (question or "").strip()
    if not q:
        # P10 — the reference 422s on empty questions
        return {"question": "", "latest_weight": None, "references": []}

    cache_key = None
    if use_cache:
        from statschat_ke_spark.index.query import _index_version

        # id(metadata): the DataFrame is an opaque lazy plan — identity is
        # the cacheable notion of "same metadata"; a caller passing a new
        # frame gets a fresh entry. The commit version invalidates on every
        # build/append/delete/compact.
        cache_key = (
            index_dir,
            _index_version(index_dir),
            q,
            k,
            k_contexts,
            min_score,
            latest_max,
            # now=None means the pipeline ranks with F.current_date(): pin
            # the key to TODAY so a long-lived read-only server re-ranks
            # when the date (and with it every decay weight) changes,
            # instead of serving day-D orderings forever
            now or str(_dt.date.today()),
            id(metadata) if metadata is not None else None,
            latest_only,
            fetch_k,
            highlight,
        )
        hit = _result_cache_get(cache_key)
        if hit is not None:
            return hit

    will_filter_latest = (
        latest_only and metadata is not None and "latest" in metadata.columns
    )
    if fetch_k is None:
        fetch_k = 4 * k if will_filter_latest else k
    hits = topk(spark, index_dir, q, k=max(fetch_k, k), with_url=True)

    # driver-side twins of the F7/F15 Column functions (parity-tested): the
    # question is a driver-local string, and a 1-row Spark job per request
    # just to evaluate literals is a hidden serving-path job
    lw = latest_weight_py(q, latest_max)
    q_escaped = html_escape_py(q)

    if metadata is None:
        # degraded mode: threshold + rank only (no title/date ops possible),
        # on the ≤ fetch_k rows topk collected, already in rank order
        rows = [r for r in hits.collect() if r.score >= min_score][:k_contexts]
        refs = [
            {"doc_id": r.doc_id, "score": round_py(r.score), "url": r.url, "doc_num": n}
            for n, r in enumerate(rows, 1)
        ]
        result = {"question": q_escaped, "latest_weight": lw, "references": refs}
        if cache_key is not None:
            _result_cache_put(cache_key, result)
        return result

    if will_filter_latest:
        # P4 — the reference's content_type="latest" restriction
        # (main_api_cloud.py:100-110 → make_query latest_filter). The
        # reference serves this from a dedicated latest-only store
        # (cloud_llm.py:115-148 db_latest) and so always has k latest
        # hits; here we over-fetch (fetch_k candidates), keep the
        # latest-flagged subset via an inner join against the filtered
        # metadata, and truncate back to the best k — same guarantee
        # unless >fetch_k-k non-latest docs outrank the kth latest one.
        hits = (
            hits.join(
                F.broadcast(metadata.filter(F.col("latest")).drop("latest")),
                "doc_id",
                "inner",
            )
            .orderBy(F.desc("score"), doc_u_asc())
            .limit(k)
        )
    else:
        hits = hits.join(F.broadcast(metadata), "doc_id", "left")
    have = set(metadata.columns) - {"latest"}

    if "title" in have and "date" in have:
        shaped = hits.select(
            "doc_id",
            F.coalesce(F.col("title"), F.col("url")).alias("title"),
            F.col("date"),
            "score",
            "url",
            *(["text"] if "text" in have else []),
        )
        out = search_pipeline(
            shaped,
            min_score=min_score,
            latest_weight=lw,
            now=F.lit(now).cast("date") if now else F.current_date(),
            k_contexts=k_contexts,
        )
    else:
        # metadata without title/date: threshold + rank only
        from pyspark.sql import Window as W

        out = (
            hits.filter(F.col("score") >= min_score)
            .orderBy(F.desc("score"), doc_u_asc())
            .limit(k_contexts)
            .withColumn(
                "doc_num",
                F.row_number().over(W.orderBy(F.desc("score"), doc_u_asc())),
            )
            .withColumn("score", F.round("score", 2))
        )

    if highlight and "text" in out.columns:
        # highlight what retrieval actually matched: the FROZEN tokenizer's
        # terms, not raw q.split() — "inflation," with trailing punctuation
        # is a literal substring the text never contains
        from statschat_ke_spark.functions.tokenize import tokenize

        terms = list(dict.fromkeys(tokenize(q)))
        phrases = F.array(*[F.lit(t) for t in terms])
        out = out.withColumn("text", highlight_udf(F.col("text"), phrases))

    refs = [r.asDict() for r in out.collect()]
    result = {"question": q_escaped, "latest_weight": lw, "references": refs}
    if cache_key is not None:
        _result_cache_put(cache_key, result, pin=metadata)
    return result
