"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: build the inverted index over the sf0.001
``documents`` table with the real engine (statschat_ke_spark.index) and run
the canonical BM25 top-k query.

``queries()``/``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2, runnable at any sf dir, with DuckDB-equivalent ANSI SQL.

Float policy for hash-identical results across Spark and DuckDB:
- exact money sums: SUM(CAST(x AS DECIMAL(18,4))) then CAST AS DOUBLE
  (decimal addition is exact, so both engines produce the identical double)
- ratios/averages/BM25 scores: ROUND(..., 6) on both sides
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W

_INDEX_CACHE: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _ensure_cached_index(
    spark: SparkSession,
    sf_dir: str,
    *,
    variant: str = "",
    marker_fresh=None,
    post_build=None,
    builder=None,
) -> str:
    """Build (once per sf_dir+variant) an inverted index over `documents`,
    cached under /tmp with a marker-freshness check — ONE copy of the
    subtle rmtree/format-check/rebuild protocol for every contract index.

    ``marker_fresh``: extra predicate over the parsed _SUCCESS.json (beyond
    the format match) a cached dir must satisfy to be reused.
    ``post_build``: callable(spark, idx, docs) run after a fresh build
    (e.g. the delete step).
    ``builder``: callable(spark, idx, docs) REPLACING the default
    full-corpus build_index call (e.g. the incremental-update and
    streaming-ingest lifecycles, which must construct the index their own
    way); post_build still runs after it.
    """
    import json
    import shutil

    from statschat_ke_spark.index.build import INDEX_FORMAT, build_index

    key = os.path.abspath(sf_dir) + (f"#{variant}" if variant else "")
    if key not in _INDEX_CACHE:
        idx = os.path.join(
            tempfile.gettempdir(),
            f"statschat_idx{variant}_"
            + os.path.abspath(sf_dir).strip("/").replace("/", "_"),
        )
        marker = os.path.join(idx, "_SUCCESS.json")
        fresh = False
        if os.path.exists(marker):
            try:
                with open(marker) as f:
                    m = json.load(f)
                fresh = m.get("format") == INDEX_FORMAT and (
                    marker_fresh is None or bool(marker_fresh(m))
                )
            except Exception:
                fresh = False
        if not fresh:
            shutil.rmtree(idx, ignore_errors=True)  # stale or old-format cache
            docs = _t(spark, sf_dir, "documents")
            if builder is not None:
                builder(spark, idx, docs)
            else:
                build_index(spark, docs, idx, lang="en")
            if post_build is not None:
                post_build(spark, idx, docs)
        _INDEX_CACHE[key] = idx
    return _INDEX_CACHE[key]


def _ensure_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir) the real inverted index over `documents`."""
    return _ensure_cached_index(spark, sf_dir)


FLAGSHIP_QUERY = "slow hash join table scan"
_FLAGSHIP_TERMS = ["slow", "hash", "join", "table", "scan"]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship BM25 top-k over sf0.001 via the distributed index engine."""
    from statschat_ke_spark.index.query import topk

    idx = _ensure_index(spark, "/root/testdata/sf0.001")
    return topk(spark, idx, FLAGSHIP_QUERY, k=10)


# --------------------------------------------------------------------------
# queries() — Spark implementations
# --------------------------------------------------------------------------


def _q1_pricing_summary(spark, sf_dir):
    """SURVEY §2.4 A3/A8-style sort-based aggregation (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def _q3_shipping_priority(spark, sf_dir):
    """3-way join + deterministic top-k (TakeOrderedAndProject)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


def _broadcast_join_orders_by_nation(spark, sf_dir):
    """SURVEY §2.3 J1: broadcast hash join through two small dims."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_price"),
        )
    )


def _anti_join_customers_without_orders(spark, sf_dir):
    """SURVEY §2.3 J2: left anti join (new-vs-existing delta semantics)."""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-06-01")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def _window_top3_orders_per_customer(spark, sf_dir):
    """SURVEY §2.5 W1/W3: ranked window top-k per group."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def _dedup_first_event(spark, sf_dir):
    """SURVEY §2.4 A2: first-wins dedup by composite key (fixed ref bug —
    generative/utils.py:4-21 never filled `signatures`; intended semantics)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )


def _set_except_clickers_non_buyers(spark, sf_dir):
    """SURVEY §2.6 SO3: set difference."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    big_buyers = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 300.0))
        .select("user_id")
        .distinct()
    )
    return clicks.exceptAll(big_buyers).distinct()


def _events_hourly_agg(spark, sf_dir):
    """Temporal bucketing (reference date ops F2-F5 analog)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


def _ft_term_stats(spark, sf_dir):
    """SURVEY §2.4 A8: df/cf term statistics over `documents` (top 50)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("term"),
    ).filter(F.col("term") != "")
    return (
        toks.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count("*").alias("cf"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(50)
    )


def _ft_doclen_stats(spark, sf_dir):
    """SURVEY §2.4 A9: doc-length / avgdl statistics per language."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
            )
        ).alias("doclen"),
    )
    return toks.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("doclen").alias("total_tokens"),
        F.round(F.avg("doclen"), 6).alias("avgdl"),
    )


def _ft_bm25_topk(spark, sf_dir):
    """Flagship: distributed index build + block-max WAND BM25 top-10,
    verified against a full BM25 computation in DuckDB SQL."""
    from statschat_ke_spark.index.query import topk

    idx = _ensure_index(spark, sf_dir)
    res = topk(spark, idx, FLAGSHIP_QUERY, k=10)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _ft_bm25_empty_query(spark, sf_dir):
    """P10 empty-question guard (cloud_llm.py empty-question 422 /
    query.py:407) through the driver contract: a punctuation-only question
    tokenizes to nothing and MUST return an empty (not error, not all-docs)
    result with the stable top-k schema; oracle is the same projection
    under WHERE false."""
    from statschat_ke_spark.index.query import topk

    idx = _ensure_index(spark, sf_dir)
    res = topk(spark, idx, "?!... ---", k=10)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _ensure_index_with_deletes(spark: SparkSession, sf_dir: str) -> str:
    """A second index over `documents` with every doc_id ≡ 2 (mod 5)
    DELETED via the tombstone path (index.build.delete_docs) — exercising
    delete-file masking, the negative-df lexicon delta, and the decremented
    stats against a DuckDB oracle computed over the remaining corpus."""
    from statschat_ke_spark.index.build import delete_docs

    def _delete_step(spark, idx, docs):
        # urls are str(doc_id) for this table (no url column)
        victims = docs.filter(
            (F.col("doc_id") % 5 == 2) & (F.col("lang") == "en")
        ).select(F.col("doc_id").cast("string").alias("url"))
        delete_docs(spark, idx, victims)

    return _ensure_cached_index(
        spark,
        sf_dir,
        variant="del",
        marker_fresh=lambda m: m.get("tombstone_files"),
        post_build=_delete_step,
    )


def _ft_bm25_delete(spark, sf_dir):
    """BM25 top-10 AFTER tombstone deletion of ~20% of the corpus: scores
    must be exact over the REMAINING docs (idf from the negative lexicon
    delta, avgdl from the decremented stats), matching DuckDB's BM25 over
    `documents` minus the deleted ids."""
    from statschat_ke_spark.index.query import topk

    idx = _ensure_index_with_deletes(spark, sf_dir)
    res = topk(spark, idx, FLAGSHIP_QUERY, k=10)
    return res.select("doc_id", F.round("score", 6).alias("score"))


_BATCH_QUERIES = {
    1: "slow hash join table scan",
    2: "vector stream batch window",
    3: "merge sort filter",
    4: "zzz nothing matches here",  # negative: no vocabulary overlap
}


def _ft_bm25_batch(spark, sf_dir):
    """Batch retrieval: the WHOLE query set answered in ONE postings scan
    (index/query.py::topk_batch — per-(seg, slice-group) WAND once per
    query, ranked window per query). Oracle: the same BM25 math in SQL with
    a (query_id, term) relation and a per-query ROW_NUMBER."""
    from statschat_ke_spark.index.query import topk_batch

    idx = _ensure_index(spark, sf_dir)
    res = topk_batch(spark, idx, _BATCH_QUERIES, k=5)
    return res.select(
        "query_id", "rank", "doc_id", F.round("score", 6).alias("score")
    )


def _ensure_index_updated(spark: SparkSession, sf_dir: str) -> str:
    """An index constructed via the INCREMENTAL lifecycle: base build over
    doc_id % 3 != 0, then update_index with the FULL table — the
    anti-join keeps only the missing third, which lands as a
    doc-disjoint delta segment. Scoring over [base, delta] must be exact vs
    the full-corpus oracle (idf/avgdl are merged globals; per-segment WAND
    local top-k composes exactly). The Spark analog of the reference's
    UPDATE mode (pdf_downloader.py:133-152 anti-join + preprocess.py:250-288
    FAISS merge_from), promoted from pytest-only (test_build_resume.py) to a
    driver-hash-checked contract entry."""
    from statschat_ke_spark.index.build import build_index, update_index

    def _build_via_update(spark, idx, docs):
        base = docs.filter(F.col("doc_id") % 3 != 0)
        build_index(spark, base, idx, lang="en")
        update_index(spark, docs, idx)

    return _ensure_cached_index(
        spark,
        sf_dir,
        variant="upd",
        # reuse only a cache that really holds base+delta segments — a
        # single-segment dir would silently test the plain build path
        marker_fresh=lambda m: len(m.get("segments", [])) >= 2,
        builder=_build_via_update,
    )


def _ft_bm25_update(spark, sf_dir):
    """BM25 top-10 over an index built incrementally (base 2/3 + segment
    append of the remaining 1/3): update == rebuild exactness, hash-checked
    against the SAME full-corpus DuckDB oracle as ft_bm25_topk."""
    from statschat_ke_spark.index.query import topk

    idx = _ensure_index_updated(spark, sf_dir)
    res = topk(spark, idx, FLAGSHIP_QUERY, k=10)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _ensure_index_compacted(spark: SparkSession, sf_dir: str) -> str:
    """An index taken through the FULL segment lifecycle: base build over
    doc_id % 3 != 0, segment-append of the remaining third (update_index →
    a base and a delta segment), then PHYSICAL compaction
    (merge_index → one fresh segment covering every chunk).
    Compaction is the plain-parquet realization of Iceberg's rewrite/compact
    maintenance action; the contract claim is that it is a pure physical
    reorganization — scoring after the rewrite must still hash-match the
    full-corpus DuckDB oracle. Promoted from pytest-only
    (test_build_resume.py / test_delete.py lifecycle chains) to a
    driver-hash-checked contract entry."""
    from statschat_ke_spark.index.build import (
        DELETE_SEG_BASE,
        build_index,
        merge_index,
        update_index,
    )

    def _build_via_compact(spark, idx, docs):
        base = docs.filter(F.col("doc_id") % 3 != 0)
        build_index(spark, base, idx, lang="en")
        update_index(spark, docs, idx)
        merge_index(spark, idx)

    return _ensure_cached_index(
        spark,
        sf_dir,
        variant="cmp",
        # compaction leaves exactly one data segment, no delete delta, and
        # covers both the base and the update chunk; anything else means
        # the compact step never ran — rebuild
        marker_fresh=lambda m: (
            [s < DELETE_SEG_BASE for s in m.get("segments", [])] == [True]
            and len(m.get("covered_chunks", [])) >= 2
        ),
        builder=_build_via_compact,
    )


def _ft_bm25_compact(spark, sf_dir):
    """BM25 top-10 after build → segment append → physical compaction:
    compaction == rebuild exactness, hash-checked against the SAME
    full-corpus DuckDB oracle as ft_bm25_topk."""
    from statschat_ke_spark.index.query import topk

    idx = _ensure_index_compacted(spark, sf_dir)
    res = topk(spark, idx, FLAGSHIP_QUERY, k=10)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _ensure_index_streamed(spark: SparkSession, sf_dir: str) -> str:
    """An index constructed via STRUCTURED STREAMING: `documents` dropped
    into a landing zone in three waves (doc_id % 3), each drained with
    Trigger.AvailableNow through streaming/ingest.py::ingest_stream — wave 1
    compacts into one segment (fresh dir), waves 2-3 append doc-disjoint delta
    segments via the stream checkpoint's incremental file pickup. The
    streaming analog of the reference's UPDATE mode (pdf_runner.py:51-79),
    promoted from pytest-only (test_streaming.py) to a driver-hash-checked
    contract entry; scoring must equal the full-corpus batch oracle."""
    import tempfile as _tf

    from statschat_ke_spark.streaming.ingest import ingest_stream

    docs_schema = (
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )

    def _build_via_stream(spark, idx, docs):
        land = _tf.mkdtemp(prefix="statschat_stream_landing_")
        for wave in range(3):
            docs.filter(F.col("doc_id") % 3 == wave).write.mode(
                "append"
            ).parquet(land)
            ingest_stream(spark, land, idx, schema=docs_schema)

    return _ensure_cached_index(
        spark,
        sf_dir,
        variant="stream",
        marker_fresh=lambda m: len(m.get("segments", [])) >= 2,
        builder=_build_via_stream,
    )


def _ft_bm25_stream(spark, sf_dir):
    """BM25 top-10 over an index built by draining three streaming waves
    (readStream + Trigger.AvailableNow + segment append): streaming == batch
    exactness, hash-checked against the SAME full-corpus oracle."""
    from statschat_ke_spark.index.query import topk

    idx = _ensure_index_streamed(spark, sf_dir)
    res = topk(spark, idx, FLAGSHIP_QUERY, k=10)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _dedup_exact_text(spark, sf_dir):
    """Exact dedup via content hash (training-pipeline op; md5 = same in
    DuckDB). Delegates to the canonical operator so the graded query covers
    operators/dedup.py::exact_dedup rather than a hand-copied twin."""
    from statschat_ke_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs).withColumnRenamed("keep_id", "keep_doc_id")


def _sim_cosine_top10(spark, sf_dir):
    """Brute-force cosine top-k over embeddings (ANN baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    dot = F.aggregate(
        F.zip_with("embedding", "q_emb", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                dot / (norm(F.col("embedding")) * norm(F.col("q_emb"))), 6
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def _dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs via shingle inverted index
    (operators/dedup.py) — finds the near-duplicates planted in `documents`."""
    from statschat_ke_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, min_jaccard=0.7)


def _dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs (banded signatures → bucket join → exact
    Jaccard verify). Oracle: the exact n-gram-Jaccard SQL — the recall
    contract. Assumptions this rests on (corpus-specific, deterministic
    with the fixed seed): (1) with 64 hashes / 16 bands at threshold 0.7
    the banding collides every qualifying pair on this corpus; (2) no LSH
    bucket exceeds the default max_bucket=64 guard here, so no candidate
    is cap-dropped. Under those, the verify step computes the same exact
    Jaccard, so the emitted relation EQUALS the exact all-pairs answer;
    the oracle checks precisely that. On corpora violating (1)/(2) the
    LSH path is a recall≤1 approximation by design — the exact path is
    ``dedup_ngram_jaccard``."""
    from statschat_ke_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=64)
    return minhash_lsh_pairs(sigs, bands=16, min_jaccard=0.7)


def _dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (4×16-bit chunk banding; pigeonhole makes the
    banding EXACT for hamming ≤ 3, so the scalable chunk join equals the
    all-pairs answer). Token hash = lower-64 md5 (DuckDB
    ``md5_number_lower`` parity) so the full signature + hamming math is
    SQL-checkable; the default xxh64 variant is pytest-verified."""
    from statschat_ke_spark.operators.dedup import simhash, simhash_near_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_near_pairs(simhash(docs, hash_fn="md5"), max_hamming=3)


def _ft_quality_profile(spark, sf_dir):
    """Text-analysis profile: language ID, quality features, token counts
    (functions/textstats.py) — all JVM-side expressions."""
    from statschat_ke_spark.functions.textstats import text_profile

    docs = _t(spark, sf_dir, "documents")
    prof = text_profile(docs)
    return prof.select(
        "doc_id",
        "lang_guess",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "n_tokens_bpe",
        F.col("quality.punct_ratio").alias("punct_ratio"),
        F.col("quality.stopword_ratio").alias("stopword_ratio"),
        F.col("quality.mean_word_len").alias("mean_word_len"),
        "quality_score",
    )


_LSH_NBITS = 6
_LSH_DIM = 64
_LSH_SEED = 42


def _lsh_planes():
    import numpy as np

    return np.random.default_rng(_LSH_SEED).standard_normal((_LSH_NBITS, _LSH_DIM))


def _sim_lsh_topk(spark, sf_dir):
    """ANN top-k via random-hyperplane LSH buckets + exact re-rank within
    probed buckets (operators/similarity.py)."""
    from statschat_ke_spark.operators.similarity import hyperplane_signature, lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    planes = _lsh_planes()
    # single-row query-vector fetch: project ONLY the embedding column before
    # the limit-1 collect so the scan prunes to one column + one row-group
    # (contract glue, not library code — the operator itself takes qv inline)
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()["embedding"]
    ]
    indexed = emb.filter(F.col("vec_id") != 0).withColumn(
        "bucket", hyperplane_signature(F.col("embedding"), planes)
    )
    return lsh_topk(indexed, planes, qv, k=10)


def _fuzzy_supersede_parts(spark, sf_dir):
    """J3 fuzzy version-matching (stem-blocked theta join) demoed on part
    names, with the levenshtein-ratio metric (pure JVM ``F.levenshtein``,
    ANSI-SQL-expressible — the oracle replicates block + ratio exactly).
    The reference-parity indel-ratio metric stays pytest-covered."""
    from statschat_ke_spark.operators.latest import match_superseded

    part = _t(spark, sf_dir, "part")
    new = part.filter(F.col("p_partkey") % 10 == 0).select(F.col("p_name").alias("title"))
    old = part.filter(F.col("p_partkey") % 10 != 0).select(F.col("p_name").alias("title"))
    return match_superseded(new, old, metric="levenshtein")


_PP_NOW = "2024-06-30"


def _search_postproc(spark, sf_dir):
    """Reference post-retrieval pipeline (P5 threshold → A2 dedup → W2 decay
    rerank → P6 relative filter → W3/W4 rank+head → P11 rounding) over a
    deterministic synthetic result relation derived from `documents`."""
    from statschat_ke_spark.operators.postproc import search_pipeline

    docs = _t(spark, sf_dir, "documents")
    results = docs.select(
        "doc_id",
        F.col("source").alias("title"),
        F.date_add(
            F.lit("2020-01-01").cast("date"),
            F.pmod(F.col("doc_id") * 7, F.lit(900)).cast("int"),
        ).alias("date"),
        (F.pmod(F.col("doc_id") * 131, F.lit(997)) / 100.0 + 1.0).alias("score"),
    )
    out = search_pipeline(
        results,
        min_score=2.0,
        latest_weight=2.0,
        now=F.lit(_PP_NOW).cast("date"),
        k_contexts=5,
    )
    return out.select(
        "doc_id",
        "title",
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        F.col("score").alias("score"),
        F.col("doc_num").cast("long").alias("doc_num"),
    )


def _mm_media_pipeline(spark, sf_dir):
    """Multimodal plumbing: documents → media table (binary payload + typed
    meta) → stubbed decode → resize → per-image features. The stub decode is
    a DETERMINISTIC byte-tiling, so the whole binary pipeline (tile → NN
    resize → intensity stats) is reproducible in SQL from the utf-8 bytes —
    the oracle samples the same pixel positions via hex(encode(text))."""
    from statschat_ke_spark.functions.multimodal import (
        decode_images,
        image_features,
        media_from_documents,
        resize_images,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = media_from_documents(docs, id_col="doc_id")
    feats = image_features(resize_images(decode_images(media, num_partitions=8), 16, 16))
    return feats.select(
        "media_id",
        F.round("mean_intensity", 6).alias("mean_intensity"),
        F.round("std_intensity", 6).alias("std_intensity"),
    )


_SCRAPE_MONTHS = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]
_SCRAPE_THEMES = [
    "Economic Survey", "Census Housing", "Labour Force", "Price Index",
    "Trade Statistics",
]


def _sentinel_scrape(spark, sf_dir):
    """S7/F13 sentinel-substring metadata scrape (reference
    pdf_to_json.py:272-385) as pure JVM string expressions. A synthetic
    page-text column is constructed deterministically from `documents` in
    three layouts (full sentinels / fallback-year layout / no sentinels);
    the oracle derives the EXPECTED metadata directly from the same columns
    — an independent derivation, not a SQL re-implementation of the scrape.

    Uses the STAGED sentinel_metadata_cols: the one-Column form would
    inline the synthetic `page` when-chain at each of its ~350 reference
    sites and ×4 again per struct field (measured 20-30 s of pure Catalyst
    analysis/codegen for 500 rows; staged: <1 s, identical values)."""
    from statschat_ke_spark.functions.refops import sentinel_metadata_cols

    docs = _t(spark, sf_dir, "documents")
    months = F.array(*[F.lit(x) for x in _SCRAPE_MONTHS])
    themes = F.array(*[F.lit(x) for x in _SCRAPE_THEMES])
    m = F.pmod("doc_id", F.lit(3))
    yr = (F.lit(1990) + F.pmod("doc_id", F.lit(40))).cast("string")
    mon = F.element_at(months, (F.pmod("doc_id", F.lit(12)) + 1).cast("int"))
    theme = F.element_at(themes, (F.pmod("doc_id", F.lit(5)) + 1).cast("int"))
    ov = F.substring(F.lower("text"), 1, 40)
    yr2 = (F.lit(1954) + F.pmod("doc_id", F.lit(90))).cast("string")
    page = (
        F.when(
            m == 0,
            F.concat(
                F.lit("Hdr About Report Report "), theme, F.lit(" "), mon,
                F.lit(" "), yr, F.lit(" Overview "), ov,
                F.lit(" Share This Page ft"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("Hdr Main Report published in "), yr2,
                F.lit(" blah Visit the KNBS ft"),
            ),
        )
        .otherwise(F.concat(F.lit("plain "), ov))
    )
    return sentinel_metadata_cols(docs.select("doc_id", "text"), page).select(
        "doc_id", "date", "overview", "publication_type", "publication_theme"
    )


_EVAL_KEYWORDS = ["the", "county", "report", "data"]


def _sim_cosine_pairs(spark, sf_dir):
    """Embedding-cosine pair join (near-dup baseline): all pairs with
    cosine ≥ 0.45, exact, broadcast self-join, JVM-side dot products."""
    from statschat_ke_spark.operators.similarity import cosine_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_pairs(emb, 0.45)


def _eval_keyword_recall(spark, sf_dir):
    """A5 keyword-recall metric (evaluation.py:176-194) as a distributed
    aggregation: per-language mean recall of a fixed keyword set."""
    from statschat_ke_spark.operators.evaluation import keyword_recall

    docs = _t(spark, sf_dir, "documents")
    kw = F.array(*[F.lit(k) for k in _EVAL_KEYWORDS])
    return (
        docs.select("lang", keyword_recall(F.col("text"), kw).alias("recall"))
        .groupBy("lang")
        .agg(
            F.round(F.avg("recall"), 6).alias("mean_recall"),
            F.count("*").alias("n_docs"),
        )
    )


def _eval_reciprocal_rank(spark, sf_dir):
    """A6 reciprocal-rank metric (evaluation.py:202-232): 1/rank of the
    expected doc in each source's top-10 (by n_chars desc). Uses
    match="exact" (integer doc ids); the reference's substring-containment
    variant incl. the empty-expected 1.0/0.0 branch is the default and is
    pytest-covered."""
    from statschat_ke_spark.operators.evaluation import reciprocal_rank

    docs = _t(spark, sf_dir, "documents")
    ranked = F.transform(
        F.slice(
            F.array_sort(
                F.collect_list(F.struct((-F.col("n_chars")).alias("neg_nc"), "doc_id"))
            ),
            1,
            10,
        ),
        lambda s: s.doc_id,
    )
    return (
        docs.groupBy("source")
        .agg(ranked.alias("ranked"), F.min("doc_id").alias("expected"))
        .select(
            "source",
            F.round(
                reciprocal_rank(F.col("ranked"), F.col("expected"), match="exact"), 6
            ).alias("rr"),
        )
    )


def _containment_join_chunks_docs(spark, sf_dir):
    """J4 substring-containment join (latest_updates.py:97-111
    ``doc[:60] in metadata["source"]``) demoed on part names: chunk sources
    are derived from p_name two ways — half START with the name (covered by
    the prefix equi fast path), half embed it mid-string (covered by the
    broadcast contains() fallback) — so BOTH paths of the two-path plan
    produce rows. prefix=7 (the minimum p_name length in the table) instead
    of the reference's 60, so the equi key is a true prefix for every name
    and the fast path carries the name-prefixed half, as designed."""
    from statschat_ke_spark.operators.latest import containment_join

    part = _t(spark, sf_dir, "part")
    docs = part.filter(F.col("p_partkey") % 7 == 0).select(
        F.col("p_name").alias("title")
    )
    chunks = part.filter(F.col("p_partkey") % 3 == 0).select(
        F.when(
            F.col("p_partkey") % 2 == 0,
            F.concat(F.col("p_name"), F.lit(" (chunk 1 of 3)")),
        )
        .otherwise(F.concat(F.lit("extracted chunk: "), F.col("p_name")))
        .alias("source")
    )
    return containment_join(chunks, docs, prefix=7)


_EVAL_PIPE_KEYWORDS = ["stream", "window", "zebra"]


def _eval_retrieval_pipeline(spark, sf_dir):
    """P9 + A4-A6 composed end to end (evaluation.py:250-326): derive a
    deterministic ranked-results relation and a golden-questions relation
    from `documents`, run the DISTRIBUTED evaluate_retrieval join (reference
    'contains' semantics for both reciprocal rank and top-1), and reduce
    with mean_metrics — the one-row summary the reference writes per
    evaluation run. Exercises the default contains matcher + mean_metrics,
    which the per-metric entries (eval_keyword_recall / eval_reciprocal_rank)
    don't touch."""
    from pyspark.sql import Window

    from statschat_ke_spark.operators.evaluation import (
        evaluate_retrieval,
        mean_metrics,
    )

    docs = _t(spark, sf_dir, "documents")
    results = (
        docs.withColumn("query_id", F.col("doc_id") % 20)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("n_chars").desc(), F.col("doc_id")
                )
            ),
        )
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "rank",
            F.concat(F.lit("doc-"), F.col("doc_id")).alias("url"),
            "text",
        )
    )
    questions = (
        docs.groupBy((F.col("doc_id") % 20).alias("query_id"))
        .agg(F.concat(F.lit("doc-"), F.min("doc_id")).alias("expected_url"))
        .withColumn(
            "expected_keywords",
            F.array(*[F.lit(k) for k in _EVAL_PIPE_KEYWORDS]),
        )
    )
    return mean_metrics(evaluate_retrieval(questions, results))


def _refops_dates(spark, sf_dir):
    """F1/F2/F3/F4/F11 reference date-and-filename chains (pdf_to_json.py:
    98-121, 124-178, 181-216, 388-413, 453-454) over `orders`-derived pdf
    metadata: creation date from 'D:YYYYMMDD' metadata with filename-year
    and injected-default fallbacks (all three branches populated), the
    >1825-day modification-date clamp (both branches), '%B %Y'/'%Y' period
    parsing (both shapes), title-from-filename, and url keyword extraction.
    Dates are stringified on both sides per the contract convention."""
    from statschat_ke_spark.functions.refops import (
        convert_to_date,
        extract_creation_date,
        extract_modification_date,
        title_from_filename,
        url_keywords,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    od = F.col("o_orderdate").cast("date")
    filename = F.when(
        F.col("o_orderkey") % 7 == 0, F.lit("annual-report.pdf")
    ).otherwise(
        F.concat(
            F.lit("economic-survey-"),
            F.year(od).cast("string"),
            F.lit("-q"),
            ((F.col("o_orderkey") % 4) + 1).cast("string"),
            F.lit(".pdf"),
        )
    )
    meta = F.when(
        F.col("o_orderkey") % 3 == 0,
        F.concat(F.lit("D:"), F.date_format(od, "yyyyMMdd"), F.lit("120000Z")),
    ).otherwise(F.lit("not-a-date"))
    base = o.select(
        F.col("o_orderkey").alias("okey"),
        filename.alias("filename"),
        meta.alias("meta"),
        F.date_add(od, (F.col("o_orderkey") % 3000).cast("int")).alias("mod_raw"),
        F.when(
            F.col("o_orderkey") % 2 == 0, F.date_format(od, "MMMM yyyy")
        )
        .otherwise(F.year(od).cast("string"))
        .alias("month_str"),
    )
    creation = extract_creation_date(
        F.col("meta"), F.col("filename"), F.to_date(F.lit("1900-01-01"))
    )
    d = lambda c: F.date_format(c, "yyyy-MM-dd")  # noqa: E731
    return base.select(
        "okey",
        d(creation).alias("creation_date"),
        d(extract_modification_date(F.col("mod_raw"), creation)).alias(
            "modification_date"
        ),
        d(convert_to_date(F.col("month_str"))).alias("period_date"),
        title_from_filename(F.col("filename")).alias("title"),
        F.array_join(url_keywords(F.col("filename")), ",").alias("keywords_csv"),
    )


def _latest_flag(spark, sf_dir):
    """P4 latest-version flagging (latest_flag_helpers.py window semantics):
    max-date-within-series without a self-join, incl. the NULL-date branch
    (an undated doc is never latest — coalesce keeps three-valued logic out
    of the flag) and date ties (every row at the series max flags true)."""
    from statschat_ke_spark.operators.latest import flag_latest

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 0)
    docs = o.select(
        F.col("o_orderkey").alias("okey"),
        F.concat(
            F.lit("series-"), (F.col("o_custkey") % 50).cast("string")
        ).alias("title"),
        F.when(
            F.col("o_orderkey") % 10 != 0, F.col("o_orderdate").cast("date")
        ).alias("release_date"),
    )
    out = flag_latest(docs)
    return out.select(
        "okey",
        "title",
        F.date_format("release_date", "yyyy-MM-dd").alias("release_date"),
        "latest",
    )


def _report_link_scan(spark, sf_dir):
    """S1+P1+P2 listing-page link scan (pdf_downloader.py:67-128): synthesize
    deterministic html BYTES per document (a /reports/ link, sometimes a
    census link, an /about/ distractor), run the real bytes-regex
    extract_links_udf + report predicate + first-seen dedup in NUMERIC crawl
    order. The oracle derives the same relation independently from the
    construction rule (sentinel_scrape-style independent-derivation oracle)
    rather than re-implementing the regex."""
    from statschat_ke_spark.sources.web import report_links

    docs = _t(spark, sf_dir, "documents")
    href1 = F.concat(
        F.lit("/reports/report-"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("/"),
    )
    census = F.concat(
        F.lit('<a href="/reports/census-'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('">c</a>'),
    )
    html = F.concat(
        F.lit('<html><body><a class="x" href="'),
        href1,
        F.lit('">r</a>'),
        F.when(F.col("doc_id") % 3 == 0, census).otherwise(F.lit("")),
        F.lit('<a href="/about/">about</a></body>'),
    )
    page_url = F.concat(
        F.lit("https://example.org/publications"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("/page/"),
                ((F.col("doc_id") % 12) + 1).cast("string"),
                F.lit("/"),
            ),
        ).otherwise(F.lit("")),
    )
    pages = docs.select(
        page_url.alias("url"), F.encode(html, "utf-8").alias("html")
    )
    return report_links(pages)


def _refops_escape_parse(spark, sf_dir):
    """F15 + F16 (main_api_cloud.py:97, local_llm.py:105-129,
    response_model.py:5-33): html escaping of all five significant chars
    ('&' first), smart-quote normalization, and the strict LlmResponse
    parse with its three input shapes — plain-valid JSON, smart-quoted JSON
    (valid only AFTER normalize_quotes), and malformed text (PERMISSIVE
    null struct, surfaced via llm_response_is_valid)."""
    from statschat_ke_spark.functions.refops import (
        html_escape,
        llm_response_is_valid,
        parse_llm_response,
    )

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 3 == 0)
    raw = F.concat(
        F.lit('"'), F.col("p_name"), F.lit('" & <'), F.col("p_brand"),
        F.lit(">'s ‘x’ “y”"),
    )
    plain = F.concat(
        F.lit('{"answer_provided": true, "most_likely_answer": "'),
        F.col("p_name"),
        F.lit('", "highlighting1": ["a"], "highlighting2": [], '
              '"highlighting3": ["b", "c"], "reasoning": "r"}'),
    )
    # the same JSON written with smart quotes — parseable only after F16
    smart = F.translate(plain, '"', "“")
    json_str = (
        F.when(F.col("p_partkey") % 9 == 0, F.lit("not json {"))
        .when(F.col("p_partkey") % 2 == 0, smart)
        .otherwise(plain)
    )
    parsed = parse_llm_response(json_str)
    return part.select(
        F.col("p_partkey").alias("pkey"),
        html_escape(raw).alias("escaped"),
        llm_response_is_valid(parsed).alias("valid"),
        parsed["most_likely_answer"].alias("answer"),
        F.size(parsed["highlighting3"]).alias("n_h3"),
    )


def _report_pdf_links(spark, sf_dir):
    """S2 first-pdf-link extraction (pdf_downloader.py:105-127): report
    pages synthesized with an html distractor link and 0-2 pdf links; the
    real bytes-regex UDF extracts all hrefs and first_pdf_link picks the
    first .pdf (try_element_at: NULL when a page has none). Oracle derives
    the expected pdf independently from the construction rule."""
    from statschat_ke_spark.sources.web import extract_links_udf, first_pdf_link

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<a href="/x/intro.html">i</a>'),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit('<a href="/files/doc-'),
                (F.col("doc_id") % 30).cast("string"),
                F.lit('.pdf">p</a>'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit('<a href="/files/extra-'),
                (F.col("doc_id") % 7).cast("string"),
                F.lit('.pdf">q</a>'),
            ),
        ).otherwise(F.lit("")),
    )
    return docs.select(
        F.concat(F.lit("page-"), F.col("doc_id")).alias("url"),
        first_pdf_link(extract_links_udf(F.encode(html, "utf-8"))).alias("pdf"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": _q1_pricing_summary,
        "q3_shipping_priority": _q3_shipping_priority,
        "broadcast_join_orders_by_nation": _broadcast_join_orders_by_nation,
        "anti_join_customers_without_orders": _anti_join_customers_without_orders,
        "window_top3_orders_per_customer": _window_top3_orders_per_customer,
        "dedup_first_event": _dedup_first_event,
        "set_except_clickers_non_buyers": _set_except_clickers_non_buyers,
        "events_hourly_agg": _events_hourly_agg,
        "ft_term_stats": _ft_term_stats,
        "ft_doclen_stats": _ft_doclen_stats,
        "ft_bm25_topk": _ft_bm25_topk,
        "ft_bm25_empty_query": _ft_bm25_empty_query,
        "ft_bm25_delete": _ft_bm25_delete,
        "ft_bm25_batch": _ft_bm25_batch,
        "ft_bm25_update": _ft_bm25_update,
        "ft_bm25_compact": _ft_bm25_compact,
        "ft_bm25_stream": _ft_bm25_stream,
        "dedup_exact_text": _dedup_exact_text,
        "sim_cosine_top10": _sim_cosine_top10,
        "dedup_ngram_jaccard": _dedup_ngram_jaccard,
        "dedup_minhash_lsh": _dedup_minhash_lsh,
        "dedup_simhash": _dedup_simhash,
        "ft_quality_profile": _ft_quality_profile,
        "sim_lsh_topk": _sim_lsh_topk,
        "fuzzy_supersede_parts": _fuzzy_supersede_parts,
        "sentinel_scrape": _sentinel_scrape,
        "search_postproc": _search_postproc,
        "mm_media_pipeline": _mm_media_pipeline,
        "eval_keyword_recall": _eval_keyword_recall,
        "eval_reciprocal_rank": _eval_reciprocal_rank,
        "eval_retrieval_pipeline": _eval_retrieval_pipeline,
        "sim_cosine_pairs": _sim_cosine_pairs,
        "containment_join_chunks_docs": _containment_join_chunks_docs,
        "refops_dates": _refops_dates,
        "latest_flag": _latest_flag,
        "report_link_scan": _report_link_scan,
        "refops_escape_parse": _refops_escape_parse,
        "report_pdf_links": _report_pdf_links,
    }


# --------------------------------------------------------------------------
# oracle_sql() — DuckDB equivalents
# --------------------------------------------------------------------------

_TOKS_CTE = """
toks AS (
    SELECT doc_id, t FROM (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
        FROM documents WHERE lang = 'en'
    ) WHERE t <> ''
)
"""

# stats over ALL lang-filtered docs, not just token-bearing ones: the engine
# counts every staged doc (a zero-token doc still increments n and dilutes
# avgdl), so n = count(documents WHERE lang='en') and avgdl = total_tokens/n.
_BM25_SQL = f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
alldocs AS (SELECT count(*)::DOUBLE AS n FROM documents WHERE lang = 'en'),
stats AS (
    SELECT n, (SELECT coalesce(sum(dl), 0) FROM dl) / n AS avgdl FROM alldocs
),
q(t) AS (VALUES ('slow'),('hash'),('join'),('table'),('scan')),
tf AS (
    SELECT toks.doc_id, toks.t, count(*)::DOUBLE AS tf
    FROM toks JOIN q ON toks.t = q.t GROUP BY toks.doc_id, toks.t
),
df AS (SELECT t, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY t),
scored AS (
    SELECT tf.doc_id,
           sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0)
                * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) ) AS s
    FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 6) AS score FROM scored
ORDER BY s DESC, doc_id ASC LIMIT 10
"""

# BM25 over the corpus MINUS the tombstoned docs (doc_id ≡ 2 mod 5): n,
# avgdl, df and tf are all recomputed over the survivors — the exactness
# contract delete_docs promises (negative lexicon delta + stats decrement).
_BM25_DELETE_SQL = f"""
WITH {_TOKS_CTE},
live AS (SELECT doc_id, t FROM toks WHERE doc_id % 5 <> 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM live GROUP BY doc_id),
alldocs AS (
    SELECT count(*)::DOUBLE AS n FROM documents
    WHERE lang = 'en' AND doc_id % 5 <> 2
),
stats AS (
    SELECT n, (SELECT coalesce(sum(dl), 0) FROM dl) / n AS avgdl FROM alldocs
),
q(t) AS (VALUES ('slow'),('hash'),('join'),('table'),('scan')),
tf AS (
    SELECT live.doc_id, live.t, count(*)::DOUBLE AS tf
    FROM live JOIN q ON live.t = q.t GROUP BY live.doc_id, live.t
),
df AS (SELECT t, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY t),
scored AS (
    SELECT tf.doc_id,
           sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0)
                * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) ) AS s
    FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 6) AS score FROM scored
ORDER BY s DESC, doc_id ASC LIMIT 10
"""


def _bm25_batch_sql() -> str:
    qt_rows = ", ".join(
        f"({qid}, '{t}')"
        for qid, qtext in _BATCH_QUERIES.items()
        for t in dict.fromkeys(qtext.lower().split())
    )
    return f"""
WITH {_TOKS_CTE},
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
alldocs AS (SELECT count(*)::DOUBLE AS n FROM documents WHERE lang = 'en'),
stats AS (
    SELECT n, (SELECT coalesce(sum(dl), 0) FROM dl) / n AS avgdl FROM alldocs
),
qt(query_id, t) AS (VALUES {qt_rows}),
tf AS (
    SELECT qt.query_id, toks.doc_id, toks.t, count(*)::DOUBLE AS tf
    FROM toks JOIN qt ON toks.t = qt.t GROUP BY 1, 2, 3
),
df AS (
    SELECT t, count(DISTINCT doc_id)::DOUBLE AS df FROM toks
    WHERE t IN (SELECT t FROM qt) GROUP BY t
),
scored AS (
    SELECT tf.query_id, tf.doc_id,
           sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0)
                * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) ) AS s
    FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, doc_id, s,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rnk
    FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS INT) AS rank,
       doc_id, round(s, 6) AS score
FROM ranked WHERE rnk <= 5
"""


# Mirrors the engine's semantics EXACTLY, including the hot-shingle cap:
# candidate pairs must share ≥1 shingle with df ≤ 1024 (the engine's default
# max_shingle_df — a boilerplate guard), while the jaccard itself is computed
# over the FULL shingle sets (the cap bounds the join, never the similarity
# math). On the contract corpus no shingle exceeds the cap, so this equals
# the uncapped relation — but the oracle no longer diverges from the engine
# on boilerplate-heavy corpora where a qualifying pair's shared shingles are
# all hot.
_NGRAM_JACCARD_SQL = """
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
    FROM documents
),
sh AS (
    SELECT doc_id,
           CASE WHEN len(tk) < 5 THEN [array_to_string(tk, ' ')]
                ELSE list_distinct(list_transform(range(1, len(tk)-3),
                                                  i -> array_to_string(tk[i:i+4], ' ')))
           END AS shingles
    FROM toks
),
ex AS (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh),
sdf AS (SELECT s, count(*) AS s_df FROM ex GROUP BY s),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM ex a JOIN ex b USING (s) JOIN sdf USING (s)
    WHERE a.doc_id < b.doc_id AND sdf.s_df <= 1024
),
co AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb, count(*) AS inter
    FROM ex a JOIN ex b USING (s)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
)
SELECT co.id_a, co.id_b, round(inter*1.0/(na+nb-inter), 6) AS jaccard
FROM co JOIN cand USING (id_a, id_b)
WHERE round(inter*1.0/(na+nb-inter), 6) >= 0.7
"""

# simhash over lower-64 md5 token hashes, tf-weighted, all-pairs hamming —
# the Spark side's chunk-banded join is pigeonhole-exact for hamming ≤ 3,
# so the scalable plan must EQUAL this brute-force relation.
_SIMHASH_SQL = """
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS t
    FROM documents
),
th AS (SELECT doc_id, md5_number_lower(t) AS h FROM toks),
bits AS (
    SELECT doc_id, j,
           SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS acc
    FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS j) js
    GROUP BY doc_id, j
),
sig AS (
    SELECT doc_id,
           SUM(CASE WHEN acc > 0
                    THEN CASE WHEN j = 63 THEN -9223372036854775807 - 1
                              ELSE (1::BIGINT << j::INT) END
                    ELSE 0 END)::BIGINT AS sh
    FROM bits GROUP BY doc_id
),
allsig AS (
    SELECT d.doc_id, COALESCE(s.sh, 0) AS sh
    FROM documents d LEFT JOIN sig s USING (doc_id)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM allsig a JOIN allsig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""

_FUZZY_SUPERSEDE_SQL = """
WITH new_t AS (SELECT DISTINCT p_name AS new_name FROM part WHERE p_partkey % 10 = 0),
old_t AS (SELECT DISTINCT p_name AS old_name FROM part WHERE p_partkey % 10 <> 0),
nb AS (
    SELECT new_name,
           array_to_string((list_filter(regexp_split_to_array(lower(new_name),
                            '[^a-z0-9]+'), x -> x <> ''))[1:3], ' ') AS blk
    FROM new_t
),
ob AS (
    SELECT old_name,
           array_to_string((list_filter(regexp_split_to_array(lower(old_name),
                            '[^a-z0-9]+'), x -> x <> ''))[1:3], ' ') AS blk
    FROM old_t
)
SELECT new_name, old_name,
       round(100.0 * (1.0 - levenshtein(new_name, old_name) * 1.0
                            / greatest(length(new_name), length(old_name))), 6)
         AS similarity
FROM ob JOIN nb USING (blk)
WHERE round(100.0 * (1.0 - levenshtein(new_name, old_name) * 1.0
                           / greatest(length(new_name), length(old_name))), 6) > 75
"""

_QUALITY_SQL_STOPWORDS = (
    "['the','of','and','to','in','is','that','for','it','was','with','be','on',"
    "'not','he','as','you','at','this','have']"
)

_QUALITY_SQL = f"""
WITH base AS (
    SELECT doc_id, text,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
    FROM documents
),
feat AS (
    SELECT doc_id,
           len(tk) AS n_tokens,
           length(text) AS n_chars,
           len(regexp_extract_all(lower(text), '[a-z0-9]+'))
             + len(regexp_extract_all(text, '[^\\sA-Za-z0-9]')) AS n_tokens_bpe,
           len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
           len(regexp_extract_all(text, '[0-9]')) AS n_digit,
           len(list_filter(tk, x -> list_contains({_QUALITY_SQL_STOPWORDS}, x))) AS n_stop,
           list_sum(list_transform(tk, x -> length(x))) AS tok_chars,
           len(list_intersect(tk, {_QUALITY_SQL_STOPWORDS})) AS c_en,
           len(list_intersect(tk, ['ya','na','wa','kwa','ni','za','katika','la','kuwa','hii','cha','kama','hiyo','yake','pia','ile','hizo','ndani'])) AS c_sw,
           len(list_intersect(tk, ['le','la','de','et','les','des','en','un','une','du','est','que','pour','dans','qui','sur','pas','au','ce','il'])) AS c_fr,
           len(list_intersect(tk, ['der','die','und','das','in','den','von','mit','ist','des','nicht','ein','eine','auf','für','sie','im','dem'])) AS c_de,
           len(list_intersect(tk, ['el','la','de','que','en','los','del','las','un','por','con','una','es','para','su','al','lo','como','mas'])) AS c_es
    FROM base
),
ratios AS (
    SELECT doc_id, n_tokens, n_tokens_bpe,
           round(CASE WHEN n_chars > 0 THEN n_punct*1.0/n_chars ELSE 0 END, 6) AS punct_ratio,
           round(CASE WHEN n_tokens > 0 THEN n_stop*1.0/n_tokens ELSE 0 END, 6) AS stopword_ratio,
           round(CASE WHEN n_tokens > 0 THEN tok_chars*1.0/n_tokens ELSE 0 END, 6) AS mean_word_len,
           round(CASE WHEN n_chars > 0 THEN n_digit*1.0/n_chars ELSE 0 END, 6) AS digit_ratio,
           greatest(c_en, c_sw, c_fr, c_de, c_es) AS best,
           c_en, c_sw, c_fr, c_de, c_es
    FROM feat
)
SELECT doc_id,
       CASE WHEN best <= 0 THEN 'und'
            WHEN c_en = best THEN 'en'
            WHEN c_sw = best THEN 'sw'
            WHEN c_fr = best THEN 'fr'
            WHEN c_de = best THEN 'de'
            ELSE 'es' END AS lang_guess,
       n_tokens, n_tokens_bpe, punct_ratio, stopword_ratio, mean_word_len,
       round(greatest(0.0, least(1.0,
             0.5 + least(stopword_ratio*2.0, 0.3) - least(punct_ratio*2.0, 0.3)
                 - least(digit_ratio, 0.2)
                 + CASE WHEN n_tokens BETWEEN 20 AND 5000 THEN 0.2 ELSE -0.2 END)), 6)
         AS quality_score
FROM ratios
"""


def _sim_lsh_sql() -> str:
    planes = _lsh_planes()
    plane_lits = [
        "[" + ",".join(repr(float(x)) for x in row) + "]" for row in planes
    ]
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(ve, {plane_lits[i]}) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(len(plane_lits))
    )
    q_bucket_terms = bucket_terms.replace("(ve,", "(qe,")
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
qsig AS (SELECT {q_bucket_terms} AS qbucket FROM q),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings WHERE vec_id <> 0),
sig AS (SELECT vec_id, ve, {bucket_terms} AS bucket FROM e),
cand AS (
    SELECT s.vec_id, s.ve FROM sig s CROSS JOIN qsig
    WHERE s.bucket = qsig.qbucket OR bit_count(xor(s.bucket::BIGINT, qsig.qbucket::BIGINT)) = 1
)
SELECT c.vec_id,
       ROUND(list_dot_product(c.ve, q.qe)
             / (sqrt(list_dot_product(c.ve, c.ve)) * sqrt(list_dot_product(q.qe, q.qe))),
             6) AS cosine
FROM cand c CROSS JOIN q
ORDER BY cosine DESC, c.vec_id ASC LIMIT 10
"""


_SEARCH_POSTPROC_SQL = f"""
WITH results AS (
    SELECT doc_id, source AS title,
           DATE '2020-01-01' + (((doc_id * 7) % 900)::INT) AS d,
           ((doc_id * 131) % 997) / 100.0 + 1.0 AS score
    FROM documents
),
thresh AS (SELECT * FROM results WHERE score >= 2.0),
dedup AS (
    SELECT doc_id, title, d, score FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY title, d
                                     ORDER BY score DESC, doc_id ASC) AS rn
        FROM thresh
    ) WHERE rn = 1
),
decayed AS (
    SELECT doc_id, title, d,
           score * pow(1.5 - 1.0 / (1.0 + exp(-date_diff('day', d, DATE '{_PP_NOW}')
                                              / (400.0 / 2.0))), 2.0) AS score
    FROM dedup
),
rel AS (
    SELECT * FROM (SELECT *, MAX(score) OVER () AS best FROM decayed)
    WHERE score >= best / 1.5
),
ranked AS (
    SELECT doc_id, title, d, score,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS doc_num
    FROM rel
)
SELECT doc_id, title, strftime(d, '%Y-%m-%d') AS date,
       ROUND(score, 2) AS score, doc_num
FROM ranked WHERE doc_num <= 5
"""


_KW_TERMS_SQL = " + ".join(
    f"(CASE WHEN contains(lower(text), '{k}') THEN 1 ELSE 0 END)" for k in _EVAL_KEYWORDS
)

_EVAL_KW_SQL = f"""
SELECT lang,
       ROUND(AVG(({_KW_TERMS_SQL}) / {len(_EVAL_KEYWORDS)}.0), 6) AS mean_recall,
       COUNT(*) AS n_docs
FROM documents GROUP BY lang
"""

_EVAL_RR_SQL = """
WITH lists AS (
    SELECT source,
           (list(doc_id ORDER BY n_chars DESC, doc_id ASC))[1:10] AS ranked,
           MIN(doc_id) AS expected
    FROM documents GROUP BY source
)
SELECT source,
       ROUND(COALESCE(1.0 / NULLIF(list_position(ranked, expected), 0), 0.0), 6) AS rr
FROM lists
"""


def oracle_sql() -> dict[str, str]:
    return {
        "search_postproc": _SEARCH_POSTPROC_SQL,
        "ft_bm25_empty_query": """
            SELECT doc_id, 0.0 AS score FROM documents WHERE false
        """,
        "eval_keyword_recall": _EVAL_KW_SQL,
        "eval_reciprocal_rank": _EVAL_RR_SQL,
        # mirrors evaluate_retrieval + mean_metrics exactly: ranked lists
        # restored by rank, contains-matcher for rr and top-1, keyword
        # recall on the first non-null text, then round(avg, 6)
        "eval_retrieval_pipeline": """
            WITH results AS (
                SELECT doc_id % 20 AS query_id,
                       row_number() OVER (
                           PARTITION BY doc_id % 20
                           ORDER BY n_chars DESC, doc_id
                       ) AS rank,
                       'doc-' || doc_id AS url, text
                FROM documents
            ),
            r10 AS (SELECT * FROM results WHERE rank <= 10),
            ranked AS (
                SELECT query_id,
                       list(url ORDER BY rank) AS ranked_urls,
                       (list(text ORDER BY rank)
                        FILTER (WHERE text IS NOT NULL))[1] AS top_text
                FROM r10 GROUP BY query_id
            ),
            questions AS (
                SELECT doc_id % 20 AS query_id,
                       'doc-' || min(doc_id) AS expected_url
                FROM documents GROUP BY 1
            ),
            perq AS (
                SELECT q.query_id,
                       list_position(
                           list_transform(r.ranked_urls,
                                          u -> contains(u, q.expected_url)),
                           true) AS pos,
                       coalesce(lower(r.top_text), '') AS lt,
                       coalesce(contains(r.ranked_urls[1], q.expected_url),
                                false) AS top1
                FROM questions q LEFT JOIN ranked r USING (query_id)
            ),
            m AS (
                SELECT CASE WHEN pos IS NOT NULL AND pos > 0
                            THEN 1.0 / pos ELSE 0.0 END AS rr,
                       (contains(lt, 'stream')::INT + contains(lt, 'window')::INT
                        + contains(lt, 'zebra')::INT) / 3.0 AS recall,
                       top1::INT::DOUBLE AS t1
                FROM perq
            )
            SELECT round(avg(rr), 6) AS mean_reciprocal_rank,
                   round(avg(recall), 6) AS mean_keyword_recall,
                   round(avg(t1), 6) AS top1_accuracy
            FROM m
        """,
        # mirrors containment_join's two-path plan verbatim: distinct
        # sides, 7-char prefix equi fast path, left-anti residual, then
        # the contains() theta fallback, unioned + deduplicated
        "containment_join_chunks_docs": """
            WITH c AS (
                SELECT DISTINCT
                       CASE WHEN p_partkey % 2 = 0
                            THEN p_name || ' (chunk 1 of 3)'
                            ELSE 'extracted chunk: ' || p_name END AS source
                FROM part WHERE p_partkey % 3 = 0
            ),
            d AS (
                SELECT title, substring(title, 1, 7) AS pfx
                FROM (SELECT DISTINCT p_name AS title
                      FROM part WHERE p_partkey % 7 = 0)
            ),
            eq AS (
                SELECT c.source, d.title
                FROM c JOIN d ON substring(c.source, 1, 7) = d.pfx
            ),
            unmatched AS (
                SELECT d.title, d.pfx
                FROM d LEFT JOIN (SELECT DISTINCT title FROM eq) m
                       USING (title)
                WHERE m.title IS NULL
            ),
            theta AS (
                SELECT c.source, u.title
                FROM c CROSS JOIN unmatched u
                WHERE contains(c.source, u.pfx)
            )
            SELECT DISTINCT source, title
            FROM (SELECT * FROM eq UNION ALL SELECT * FROM theta)
        """,
        # mirrors F15/F16: the same escape chain ('&' first), smart-quote
        # translate, and json_valid-guarded extraction in place of the
        # PERMISSIVE from_json null-struct
        "refops_escape_parse": """
            WITH base AS (
                SELECT p_partkey AS pkey,
                       '"' || p_name || '" & <' || p_brand
                           || '>''s ‘x’ “y”' AS raw,
                       '{"answer_provided": true, "most_likely_answer": "'
                           || p_name || '", "highlighting1": ["a"], '
                           || '"highlighting2": [], "highlighting3": '
                           || '["b", "c"], "reasoning": "r"}' AS plain
                FROM part WHERE p_partkey % 3 = 0
            ),
            shaped AS (
                SELECT pkey, raw,
                       CASE WHEN pkey % 9 = 0 THEN 'not json {'
                            WHEN pkey % 2 = 0 THEN replace(plain, '"', '“')
                            ELSE plain END AS js
                FROM base
            ),
            norm AS (
                SELECT pkey, raw, translate(js, '‘’“”', '''''""') AS ns
                FROM shaped
            ),
            -- json_extract THROWS on malformed input (AND does not
            -- short-circuit), so null out invalid JSON first: the
            -- PERMISSIVE from_json null-struct analog
            v AS (
                SELECT pkey, raw,
                       CASE WHEN json_valid(ns) THEN ns END AS vjs
                FROM norm
            )
            SELECT pkey,
                   replace(replace(replace(replace(replace(raw,
                       '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
                       '"', '&#34;'), '''', '&#39;') AS escaped,
                   coalesce(
                       json_extract(vjs, '$.answer_provided') IS NOT NULL
                       AND json_extract(vjs, '$.highlighting1') IS NOT NULL
                       AND json_extract(vjs, '$.highlighting2') IS NOT NULL
                       AND json_extract(vjs, '$.highlighting3') IS NOT NULL,
                       false) AS valid,
                   json_extract_string(vjs, '$.most_likely_answer') AS answer,
                   json_array_length(vjs, '$.highlighting3') AS n_h3
            FROM v
        """,
        # independent derivation of the first-pdf-link rule from the html
        # construction (the Spark side runs the real bytes-regex UDF +
        # try_element_at)
        "report_pdf_links": """
            SELECT 'page-' || doc_id AS url,
                   CASE WHEN doc_id % 2 = 0
                        THEN '/files/doc-' || (doc_id % 30) || '.pdf'
                        WHEN doc_id % 5 = 0
                        THEN '/files/extra-' || (doc_id % 7) || '.pdf'
                   END AS pdf
            FROM documents
        """,
        # mirrors flag_latest: window max per series, NULL-date rows never
        # latest, ties at the max all flag true
        "latest_flag": """
            WITH docs AS (
                SELECT o_orderkey AS okey,
                       'series-' || (o_custkey % 50) AS title,
                       CASE WHEN o_orderkey % 10 != 0
                            THEN o_orderdate::DATE END AS rd
                FROM orders WHERE o_orderkey % 4 = 0
            )
            SELECT okey, title,
                   strftime(rd, '%Y-%m-%d') AS release_date,
                   coalesce(rd = max(rd) OVER (PARTITION BY title), false)
                       AS latest
            FROM docs
        """,
        # independent derivation of the link-scan pipeline from the html
        # CONSTRUCTION rule (the Spark side runs the real bytes-regex UDF):
        # report link at pos 0, census link at pos 1 when present, the
        # /about/ distractor never matches the /reports/ predicate; dedup
        # is first-seen in numeric crawl-page order
        "report_link_scan": """
            WITH pages AS (
                SELECT doc_id,
                       'https://example.org/publications' ||
                       CASE WHEN doc_id % 4 = 0
                            THEN '/page/' || (doc_id % 12 + 1) || '/'
                            ELSE '' END AS page_url,
                       doc_id % 40 AS r, doc_id % 5 AS c,
                       doc_id % 3 = 0 AS has_census
                FROM documents
            ),
            links AS (
                SELECT page_url, 0 AS pos,
                       '/reports/report-' || r || '/' AS href
                FROM pages
                UNION ALL
                SELECT page_url, 1, '/reports/census-' || c
                FROM pages WHERE has_census
            ),
            dedup AS (
                SELECT page_url, pos, href,
                       row_number() OVER (PARTITION BY href ORDER BY
                           coalesce(try_cast(regexp_extract(page_url,
                               '/page/(\\d+)', 1) AS BIGINT), 1),
                           page_url, pos) AS rn
                FROM links
            )
            SELECT page_url, pos, href FROM dedup WHERE rn = 1
        """,
        # mirrors the refops date chains: D:YYYYMMDD metadata parse with
        # filename-year (max, word-bounded) and default fallbacks, the
        # >1825-day modification clamp, %B %Y / %Y period parse, title and
        # keyword derivation from the filename
        "refops_dates": """
            WITH base AS (
                SELECT o_orderkey AS okey,
                       o_orderdate::DATE AS od,
                       CASE WHEN o_orderkey % 7 = 0 THEN 'annual-report.pdf'
                            ELSE 'economic-survey-' || year(o_orderdate::DATE)
                                 || '-q' || (o_orderkey % 4 + 1) || '.pdf'
                       END AS filename,
                       CASE WHEN o_orderkey % 3 = 0
                            THEN 'D:' || strftime(o_orderdate::DATE, '%Y%m%d')
                                 || '120000Z'
                            ELSE 'not-a-date' END AS meta,
                       o_orderdate::DATE + (o_orderkey % 3000)::INT AS mod_raw,
                       CASE WHEN o_orderkey % 2 = 0
                            THEN strftime(o_orderdate::DATE, '%B %Y')
                            ELSE year(o_orderdate::DATE)::VARCHAR
                       END AS month_str
                FROM orders WHERE o_orderkey % 5 = 0
            ),
            cr AS (
                SELECT *,
                       coalesce(
                           try_strptime(regexp_extract(meta, '^D:(\\d{8})', 1),
                                        '%Y%m%d')::DATE,
                           CASE WHEN len(regexp_extract_all(
                                    filename,
                                    '\\b(19\\d{2}|20\\d{2})\\b', 1)) > 0
                                THEN try_strptime(
                                    list_max(regexp_extract_all(
                                        filename,
                                        '\\b(19\\d{2}|20\\d{2})\\b', 1))
                                    || '-01-01', '%Y-%m-%d')::DATE
                           END,
                           DATE '1900-01-01') AS creation,
                       list_filter(
                           string_split(
                               regexp_replace(filename, '\\.(pdf|html?)$', ''),
                               '-'),
                           x -> x <> '') AS kw
                FROM base
            )
            SELECT okey,
                   strftime(creation, '%Y-%m-%d') AS creation_date,
                   strftime(
                       CASE WHEN date_diff('day', creation, mod_raw) > 1825
                            THEN creation
                            ELSE coalesce(mod_raw, creation) END,
                       '%Y-%m-%d') AS modification_date,
                   strftime(
                       coalesce(
                           try_strptime(month_str, '%B %Y')::DATE,
                           CASE WHEN regexp_matches(month_str, '^\\d{4}$')
                                THEN try_strptime(month_str || '-01-01',
                                                  '%Y-%m-%d')::DATE
                           END),
                       '%Y-%m-%d') AS period_date,
                   replace(regexp_replace(filename, '\\.(pdf|html?)$', ''),
                           '-', ' ') AS title,
                   -- order-preserving dedup, like Spark's array_distinct:
                   -- keep element i only at its first position
                   array_to_string(
                       list_filter(kw, (x, i) -> list_position(kw, x) = i),
                       ',') AS keywords_csv
            FROM cr
        """,
        "sim_cosine_pairs": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE ROUND(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45
        """,
        "dedup_ngram_jaccard": _NGRAM_JACCARD_SQL,
        # recall contract: LSH candidate gen + exact verify must reproduce
        # the exact all-pairs Jaccard relation (see _dedup_minhash_lsh doc)
        "dedup_minhash_lsh": _NGRAM_JACCARD_SQL,
        "dedup_simhash": _SIMHASH_SQL,
        "fuzzy_supersede_parts": _FUZZY_SUPERSEDE_SQL,
        # the stub image decode is deterministic byte-tiling, so the whole
        # binary pipeline (tile -> nearest-neighbour 16x16 resize -> mean/std)
        # is reproducible from hex(encode(text)) byte sampling in pure SQL
        "mm_media_pipeline": """
            WITH img AS (
                SELECT doc_id, length(text) AS len,
                       octet_length(encode(text)) AS n,
                       hex(encode(text)) AS hx
                FROM documents WHERE doc_id < 200 AND doc_id % 3 = 0
            ),
            dims AS (
                SELECT doc_id, n, hx,
                       (len % 48 + 16) AS w, (len % 32 + 16) AS h
                FROM img
            ),
            grid AS (
                SELECT y, x, ch
                FROM range(16) t1(y), range(16) t2(x), range(3) t3(ch)
            ),
            px AS (
                SELECT d.doc_id,
                       CASE WHEN d.n = 0 THEN 0
                            ELSE ('0x' || substring(d.hx,
                                  2 * (((((y * d.h) // 16) * d.w
                                         + ((x * d.w) // 16)) * 3 + ch) % d.n)
                                  + 1, 2))::INT
                       END AS v
                FROM dims d CROSS JOIN grid
            ),
            st AS (SELECT doc_id, avg(v::DOUBLE) AS m FROM px GROUP BY doc_id)
            SELECT px.doc_id AS media_id,
                   ROUND(avg(v::DOUBLE), 6) AS mean_intensity,
                   ROUND(sqrt(avg((v::DOUBLE - st.m) * (v::DOUBLE - st.m))), 6)
                     AS std_intensity
            FROM px JOIN st USING (doc_id)
            GROUP BY px.doc_id
        """,
        "sentinel_scrape": f"""
            WITH base AS (
                SELECT doc_id, doc_id % 3 AS m,
                       CAST(1990 + (doc_id % 40) AS VARCHAR) AS yr,
                       {_SCRAPE_MONTHS!r}[(doc_id % 12) + 1] AS mon,
                       {_SCRAPE_THEMES!r}[(doc_id % 5) + 1] AS theme,
                       substring(lower(text), 1, 40) AS ov,
                       CAST(1954 + (doc_id % 90) AS VARCHAR) AS yr2
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN m = 0 THEN mon || ' ' || yr
                        WHEN m = 1 THEN yr2
                        ELSE 'Unknown' END AS date,
                   CASE WHEN m = 0 THEN ov || ' ' ELSE '' END AS overview,
                   CASE WHEN m = 0 THEN 'Report' ELSE 'Unknown' END
                     AS publication_type,
                   CASE WHEN m = 0 THEN theme ELSE 'Unknown' END
                     AS publication_theme
            FROM base
        """,
        "ft_quality_profile": _QUALITY_SQL,
        "sim_lsh_topk": _sim_lsh_sql(),
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 6) AS avg_qty,
                   ROUND(AVG(l_discount), 6) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
              AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "broadcast_join_orders_by_nation": """
            SELECT n_name AS nation, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "anti_join_customers_without_orders": """
            SELECT c_custkey, c_name, c_mktsegment
            FROM customer c
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '1998-06-01 00:00:00'
            )
        """,
        "window_top3_orders_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
                FROM orders
            ) WHERE rn <= 3
        """,
        "dedup_first_event": """
            SELECT user_id, event_type, event_id, value FROM (
                SELECT user_id, event_type, event_id, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts ASC, event_id ASC) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "set_except_clickers_non_buyers": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND value > 300.0
        """,
        "events_hourly_agg": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
                   COUNT(*) AS n, ROUND(AVG(value), 6) AS avg_value
            FROM events GROUP BY 1, 2
        """,
        "ft_term_stats": f"""
            WITH {_TOKS_CTE}
            SELECT t AS term, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS cf
            FROM toks GROUP BY t
            ORDER BY df DESC, term ASC LIMIT 50
        """,
        "ft_doclen_stats": """
            WITH toks AS (
                SELECT lang, doc_id, t FROM (
                    SELECT lang, doc_id,
                           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
                    FROM documents
                ) WHERE t <> ''
            ),
            dl AS (
                SELECT lang, doc_id, count(*) AS doclen
                FROM toks GROUP BY lang, doc_id
            ),
            all_docs AS (
                SELECT d.lang, d.doc_id, COALESCE(dl.doclen, 0) AS doclen
                FROM documents d LEFT JOIN dl
                  ON d.doc_id = dl.doc_id AND d.lang = dl.lang
            )
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(doclen) AS BIGINT) AS total_tokens,
                   ROUND(AVG(doclen), 6) AS avgdl
            FROM all_docs GROUP BY lang
        """,
        "ft_bm25_topk": _BM25_SQL,
        "ft_bm25_delete": _BM25_DELETE_SQL,
        "ft_bm25_batch": _bm25_batch_sql(),
        # update==rebuild, compact==rebuild, streaming==batch: every
        # lifecycle must land on the IDENTICAL full-corpus BM25 as the
        # from-scratch build, so the oracle is _BM25_SQL verbatim — any
        # segment-composition error (df double-count, stale avgdl, lost
        # wave, lossy compaction rewrite) breaks the hash
        "ft_bm25_update": _BM25_SQL,
        "ft_bm25_compact": _BM25_SQL,
        "ft_bm25_stream": _BM25_SQL,
        "dedup_exact_text": """
            SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id,
                   COUNT(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "sim_cosine_top10": """
            WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id,
                   ROUND(
                     list_dot_product(e.embedding::DOUBLE[], q.q_emb::DOUBLE[])
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[]))),
                     6) AS cosine
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> 0
            ORDER BY cosine DESC, e.vec_id ASC LIMIT 10
        """,
    }
