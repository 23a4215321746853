"""statschat_ke_spark — a PySpark-native full-text index + BM25 query engine.

From-scratch re-expression of the capabilities of KNBS-StatsChat/statschat-ke
(reference surveyed in SURVEY.md) as an idiomatic Spark engine:

- ``corpus``            deterministic synthetic Common-Crawl-style corpus
- ``functions.extract``  HTML→text extraction (vectorized pandas UDF)
- ``functions.tokenize`` frozen tokenizer spec (rank-identity contract)
- ``functions.hashing``  pure-Python XXH64 matching Spark's xxhash64
- ``index.build``        distributed inverted-index build (sort-based agg,
                         salted term-range merge, delta-gap+vbyte, avgdl-free
                         block bounds, doc-disjoint incremental segments)
- ``index.query``        BM25 top-k (block-max WAND with essential-term
                         pruning; one scoring plan for topk and topk_batch)
- ``api``                the reference's make_query surface composed
                         end-to-end (search → postproc → highlight)
- ``index.oracle``       single-node numpy oracle for rank-identity tests
- ``operators``          dedup / similarity / latest-version / post-processing
                         / golden-question evaluation ops
- ``sources.web``        link extraction + crawl-frontier shaping (S1/S2)
- ``streaming.ingest``   Trigger.AvailableNow landing-zone drain sharing the
                         batch phase-A staging + lineage path and
                         update_index's publish step
- ``functions.multimodal`` binary media columns: stub-codec decode / resize /
                         features / frame-sample over mapInPandas
- ``functions.textstats`` language-ID, quality scoring, token counts (JVM)
"""

__version__ = "0.1.0"
