"""Structured Streaming front-end for the CDC ingest engine.

`readStream` tails the WAL directory as a file source (the sandbox stand-in
for a Kafka/binlog topic — swap `.format("parquet")` for `.format("kafka")`
plus a deserializer on a real deployment) and `foreachBatch` drives the SAME
exactly-once merge as batch replay (engine/ingest.py). Idempotence is
two-layer:

- Spark's streaming checkpoint guarantees each file lands in exactly one
  micro-batch id;
- the engine's committed-epoch markers make re-delivery of a whole batch
  (checkpoint rollback, manual replay) a no-op.

Watermark note: classic event-time watermarking drops late data; CDC-LWW
semantics instead *apply* late events idempotently (they lose the
(warc_ts, lsn) comparison), so no watermark is configured — late arrivals are
correct, not discarded (SURVEY.md §2.3 streaming row).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..engine.ingest import CdcIngestJob
from ..sources.wal import WalSource


def start_stream_ingest(spark: SparkSession, job: CdcIngestJob, wal_dir: str,
                        checkpoint_dir: str, event_schema: str | None = None,
                        max_files_per_trigger: int = 64,
                        trigger_available_now: bool = True):
    """Start a streaming query applying WAL events through the merge engine.

    Epochs named by the `epoch` column of arriving events are treated as
    TRIGGERS only: `maxFilesPerTrigger` batches *files*, not epochs, so a
    micro-batch can hold a partial slice of an epoch's part files. Applying
    that slice would commit the epoch marker and silently drop the rest of
    the epoch arriving in the next batch. Instead EVERY micro-batch sweeps
    the WAL directory for uncommitted epochs (not just the epochs whose
    files happen to be in the batch — an epoch deferred as not-yet-closed is
    re-examined on every subsequent trigger even if none of ITS files arrive
    again, closing the listing/_SUCCESS race that could otherwise drop it
    while the streaming checkpoint advanced past its files). Each candidate
    epoch is re-read in full from the WAL directory; the committed-epoch
    marker makes duplicate application a no-op, so exactly-once is preserved
    under re-delivery from either layer (checkpoint rollback or file
    re-listing).

    An epoch is considered closed when its `_SUCCESS` marker exists or a
    later epoch segment exists (the WAL writer is epoch-ordered) — so a
    writer that never emits `_SUCCESS` only leaves its FINAL epoch
    undecidable (indistinguishable from still-being-written). For
    availableNow drains where the caller knows the writer is done, apply
    the tail explicitly with `drain_open_epochs` after termination.
    """
    reader = (spark.readStream.format("parquet")
              .option("maxFilesPerTrigger", max_files_per_trigger))
    if event_schema is not None:
        reader = reader.schema(event_schema)
    else:
        sample = spark.read.parquet(wal_dir)
        reader = reader.schema(sample.schema)
    stream = reader.load(wal_dir)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        # Crash repair first, mirroring CdcIngestJob.run's sweep: an epoch
        # that committed to the lake but crashed before its chunk-store
        # append is ALREADY excluded from `candidates` below (it is
        # lake-committed), so without this sweep the streaming path would
        # never repair it.
        job.repair_chunk_store_gaps()
        # the batch content is only the trigger; candidates come from a WAL
        # sweep so previously-deferred epochs are always retried
        on_disk = set(WalSource(wal_dir).epochs())
        max_on_disk = max(on_disk) if on_disk else None
        candidates = sorted(on_disk - job.lake.committed_epochs())
        for ep in candidates:
            seg = os.path.join(wal_dir, f"epoch={ep:06d}")
            closed = (os.path.exists(os.path.join(seg, "_SUCCESS"))
                      or (max_on_disk is not None and max_on_disk > ep))
            if not closed:
                continue
            events = spark.read.parquet(seg)
            if job.apply_epoch(events, ep) is None:
                # Already committed to the lake (re-delivery or a crash
                # between the lake commit and the chunk-store append): make
                # sure the derived chunk store catches up, mirroring
                # CdcIngestJob.run.
                job._repair_chunk_store(ep)

    writer = (stream.writeStream
              .foreachBatch(apply_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def drain_open_epochs(spark: SparkSession, job: CdcIngestJob,
                      wal_dir: str) -> list[int]:
    """Apply any WAL epochs still uncommitted after a stream drain — the
    final epoch of a writer that never emits `_SUCCESS` is undecidable from
    inside the stream (it may still be being written), so the caller, who
    knows the writer finished, applies it explicitly. Idempotent: committed
    epochs are skipped by their markers. Returns the epochs applied."""
    applied = []
    for ep in sorted(set(WalSource(wal_dir).epochs())
                     - job.lake.committed_epochs()):
        seg = os.path.join(wal_dir, f"epoch={ep:06d}")
        if job.apply_epoch(spark.read.parquet(seg), ep) is not None:
            applied.append(ep)
        else:
            job._repair_chunk_store(ep)
    return applied
