"""Structured-Streaming ingest: continuous/batch-incremental index feed.

The reference's incremental story is batch SETUP/UPDATE subprocess modes
(/root/reference/statschat/pdf_runner.py:51-79); SURVEY.md §2.8 maps it to an
optional ``Trigger.AvailableNow`` stream over the landing zone. This module
implements that mapping:

- ``readStream`` over a parquet landing directory (new files = new docs)
- ``foreachBatch``: each micro-batch runs the SAME phase-A staging as the
  batch builder (extract → tokenize pandas UDF → staged chunk + lineage row),
  so batch and streaming ingest share one code path and one checkpoint story
- micro-batch chunk ids live in a reserved namespace (STREAM_CHUNK_BASE +
  epoch id) and stage with overwrite, making batch REPLAY after a crash
  idempotent (the streaming checkpoint gives at-least-once foreachBatch;
  overwrite-by-epoch upgrades it to effectively-once staging)
- after the AvailableNow drain, the same phase-B publish step as
  update_index (``_publish_pending``) appends each drained chunk as a segment
  — or, with no committed base or ``strategy='compact'``, re-merges all
  staged chunks, batch and stream chunks alike

At web scale the same topology runs with a real trigger interval and an
Iceberg ``MERGE INTO`` in place of the directory swap; the landing-zone
pattern, checkpoint dir, and epoch-idempotent staging carry over unchanged.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from statschat_ke_spark.corpus import CONTRACT_SCHEMA
from statschat_ke_spark.index.build import (
    DEFAULT_MAX_SEGMENTS,
    BuildResult,
    _prepare_base,
    _stage_chunk,
    _publish_pending,
)

STREAM_CHUNK_BASE = 1_000_000


def ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    *,
    lang: str | None = "en",
    schema: str = CONTRACT_SCHEMA,
    max_files_per_trigger: int | None = None,
    merge: bool = True,
    strategy: str = "segment",
    max_segments: int | None = DEFAULT_MAX_SEGMENTS,
) -> BuildResult | None:
    """Drain the landing zone into the index with Trigger.AvailableNow.

    Returns the merge result (or None with ``merge=False`` when several
    drains are batched before one merge). Repeated invocation picks up only
    files not yet recorded in the stream checkpoint — the streaming analog of
    update_index's anti-join.

    ``strategy='segment'`` (default): every drained micro-batch chunk is
    appended as its own doc-disjoint index segment (``append_segment``), so
    continuous ingest cost stays ∝ new data — the shape a real trigger
    interval needs; past ``max_segments`` the index is folded back to seg=0
    (``maybe_compact``). Falls back to full compaction when no committed
    snapshot exists (fresh dir, or a compaction that did not finish).
    ``strategy='compact'``: full phase-B re-merge per drain. Both go through
    ``_publish_pending``, the phase-B step update_index shares.
    """
    if strategy not in ("segment", "compact"):
        # validate BEFORE any work: an unknown strategy must fail on the
        # first call, not silently compact on a fresh dir (or never validate
        # at all under merge=False) and only blow up on the second drain
        raise ValueError(f"unknown strategy {strategy!r}")
    t0 = time.time()
    os.makedirs(index_dir, exist_ok=True)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(landing_dir)

    def stage_batch(batch_df: DataFrame, epoch_id: int) -> None:
        base = _prepare_base(batch_df, lang)
        # deterministic chunk id per epoch + overwrite staging ⇒ idempotent
        # under checkpoint replay
        _stage_chunk(spark, base, index_dir, STREAM_CHUNK_BASE + int(epoch_id))

    q = (
        stream.writeStream.foreachBatch(stage_batch)
        .option("checkpointLocation", os.path.join(index_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    if not merge:
        return None
    result = _publish_pending(
        spark, index_dir, strategy=strategy, max_segments=max_segments
    )
    result.wall_s = time.time() - t0
    return result
