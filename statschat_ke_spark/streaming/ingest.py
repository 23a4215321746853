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
- after the AvailableNow drain, phase B (merge_index) rebuilds
  lexicon/postings from all staged chunks — batch and stream chunks alike

At web scale the same topology runs with a real trigger interval and an
Iceberg ``MERGE INTO`` in place of the directory swap; the landing-zone
pattern, checkpoint dir, and epoch-idempotent staging carry over unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from statschat_ke_spark.corpus import CONTRACT_SCHEMA
from statschat_ke_spark.index.build import (
    DEFAULT_MAX_SEGMENTS,
    BuildResult,
    _prepare_base,
    _stage_chunk,
    append_segment,
    committed_record,
    maybe_compact,
    merge_index,
    staged_chunks,
)

STREAM_CHUNK_BASE = 1_000_000


def ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    *,
    lang: str | None = "en",
    num_partitions: int | None = None,
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
    interval needs. Falls back to full compaction when no committed
    snapshot exists (fresh dir, or a compaction that did not finish).
    ``strategy='compact'``: full phase-B re-merge per drain.
    """
    if strategy not in ("segment", "compact"):
        # validate BEFORE any work: an unknown strategy must fail on the
        # first call, not silently compact on a fresh dir (or never validate
        # at all under merge=False) and only blow up on the second drain
        raise ValueError(f"unknown strategy {strategy!r}")
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
    base = committed_record(index_dir)
    if strategy == "compact" or base is None:
        return merge_index(spark, index_dir, num_partitions=num_partitions)
    staged = staged_chunks(spark, index_dir)
    pending = sorted(staged - set(base["covered_chunks"]))
    if not pending:
        # nothing new landed: report the unchanged index
        return BuildResult(
            index_dir=index_dir,
            n_docs=int(base["n_docs"]),
            avgdl=float(base["avgdl"]),
            wall_s=0.0,
            chunks_processed=0,
            chunks_skipped=len(staged),
        )
    result = None
    for chunk in pending:
        result = append_segment(spark, index_dir, chunk, num_partitions=num_partitions)
    # lifecycle policy: a long-running drain appends one segment per
    # micro-batch; bound the segment count (and with it query-probe
    # fan-out) by folding back to seg=0 past the threshold
    compacted = maybe_compact(
        spark, index_dir, max_segments=max_segments, num_partitions=num_partitions
    )
    return compacted if compacted is not None else result
