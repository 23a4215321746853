"""Structured-Streaming ingest: continuous/batch-incremental index feed.

The reference's incremental story is batch SETUP/UPDATE subprocess modes
(/root/reference/statschat/pdf_runner.py:51-79); SURVEY.md §2.8 maps it to an
optional ``Trigger.AvailableNow`` stream over the landing zone. This module
implements that mapping:

- ``readStream`` over a parquet landing directory (new files = new docs)
- ``foreachBatch``: each micro-batch runs the SAME phase-A staging as
  update_index (``_stage_unseen``: extract → drop urls already staged →
  tokenize pandas UDF → staged chunk + lineage row, under the next chunk
  id), so a re-crawled or deleted url is not staged again, and batch and
  streaming ingest share one code path and one checkpoint story. The
  streaming checkpoint gives at-least-once foreachBatch; a replayed epoch
  finds its urls in a committed chunk and stages nothing, which makes
  staging effectively-once
- after the AvailableNow drain, the same phase-B publish step as
  update_index (``_publish_pending``) packs all drained chunks into one
  segment — or, with no committed base, merges all staged chunks, batch
  and stream chunks alike — and publishes it with the one commit every
  writer uses
- the whole call holds the index's writer lock, so a concurrent update,
  delete or drain is refused before it stages anything

At web scale the same topology runs with a real trigger interval and an
Iceberg ``MERGE INTO`` in place of the segment commit; the landing-zone
pattern, checkpoint dir, and url-keyed staging carry over unchanged.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from statschat_ke_spark.corpus import CONTRACT_SCHEMA
from statschat_ke_spark.index.build import (
    BuildResult,
    _publish_pending,
    _stage_unseen,
    _writer_lock,
)


def ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    *,
    lang: str | None = "en",
    schema: str = CONTRACT_SCHEMA,
) -> BuildResult:
    """Drain the landing zone into the index with Trigger.AvailableNow and
    return the publish result. Repeated invocation picks up only files not
    yet recorded in the stream checkpoint, and of those stages only urls
    that no staged chunk holds yet — the new-vs-existing rule
    (``_stage_unseen``) update_index uses, so a re-landed url, live or
    deleted, adds nothing.

    The chunks of one drain are packed into one doc-disjoint index segment,
    so continuous ingest cost stays ∝ new data — the shape a real trigger
    interval needs; past ``build.MAX_SEGMENTS`` data segments the index is
    folded into one compacted segment. Falls back to full compaction
    when no committed snapshot exists (a fresh dir). Either way the publish
    step is ``_publish_pending``, which update_index shares; a caller that
    wants a full re-merge calls ``merge_index`` after the drain. The whole
    drain holds the writer lock, so a second writer is refused
    (WriterConflict) before it stages anything.
    """
    t0 = time.time()
    stream = spark.readStream.schema(schema).parquet(landing_dir)

    def stage_batch(batch_df: DataFrame, epoch_id: int) -> None:
        _stage_unseen(spark, batch_df, index_dir, lang)

    with _writer_lock(index_dir):
        q = (
            stream.writeStream.foreachBatch(stage_batch)
            .option(
                "checkpointLocation", os.path.join(index_dir, "_stream_checkpoint")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        result = _publish_pending(spark, index_dir)
    result.wall_s = time.time() - t0
    return result
