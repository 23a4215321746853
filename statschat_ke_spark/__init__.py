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
- ``index.query``        BM25 top-k (block-max WAND in rounds of
                         descending-bound intervals, one joined block decode
                         per term and column per round; one scoring plan for
                         topk and topk_batch)
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

import sys

__version__ = "0.1.0"


def _stat_checked(read):
    """``zipimporter.invalidate_caches`` that re-reads an archive only when
    its ``(st_ino, st_size, st_mtime_ns)`` changed since this process last
    read it; otherwise the instance takes the shared
    ``zipimport._zip_directory_cache`` entry. Before CPython 3.13 every
    zipimporter instance re-reads its whole archive directory on each
    ``importlib.invalidate_caches()``, which a Spark Python worker calls at
    the start of every task: ~16 instances over ``pyspark.zip`` and the py4j
    zip cost 0.1-0.2 s per task. A changed archive is still re-read."""
    import os
    import zipimport

    seen = {}  # archive -> its stat at this process's last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and seen.get(self.archive) == stamp and files is not None:
            self._files = files
            return
        read(self)
        seen[self.archive] = stamp

    return invalidate_caches


# Every engine UDF imports this package when a Spark Python worker unpickles
# it, so the worker's later tasks skip the archive re-reads (CPython 3.13
# made them lazy; the driver and other processes are left alone).
if sys.version_info < (3, 13) and "pyspark.worker" in sys.modules:
    import zipimport

    zipimport.zipimporter.invalidate_caches = _stat_checked(
        zipimport.zipimporter.invalidate_caches
    )
