"""Near-real-time incremental indexing via Structured Streaming.

The reference's NRT model — uncommitted flushes become searchable through a
refreshed point-in-time reader (``index/DirectoryReader.java``,
``search/SearcherManager.java``) — maps to Structured Streaming
``foreachBatch``: every micro-batch builds new immutable segments under
fresh ids from the catalog's allocator and commits a new snapshot
generation; readers that re-open the catalog see the new snapshot, readers
holding an old snapshot id keep their point-in-time view. Lucene has no
watermark/event-time concept (SURVEY.md §2.5); the deliverable here is
incremental build + checkpointed resume, which Structured Streaming's own
checkpoint dir guarantees (exactly-once per micro-batch on top of keyed
builds: a replayed micro-batch resumes the build its first run keyed with
the checkpoint and batch id, and writes no segment twice).
"""

from __future__ import annotations

import os
import zlib

from ..operators.build import build_index


def start_incremental_build(spark, source_stream_df, index_dir: str, *,
                            segments_per_batch: int = 8,
                            checkpoint_dir: str,
                            trigger_available_now: bool = True,
                            **build_kwargs):
    """Start a streaming query that indexes each micro-batch into
    ``index_dir``. ``source_stream_df`` is any streaming DataFrame with the
    corpus schema (must include a globally-unique int64 doc_id)."""
    stream = zlib.crc32(os.path.abspath(checkpoint_dir).encode())

    def process_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        build_index(batch_df.sparkSession, batch_df, index_dir,
                    num_segments=segments_per_batch,
                    build_id=f"stream-{stream:08x}-{int(batch_id)}",
                    **build_kwargs)

    writer = (source_stream_df.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
