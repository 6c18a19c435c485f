"""spark-submit entry point for the CDC ingest engine.

The north-star deployment shape (BASELINE.json): ship via
``spark-submit --py-files rust_chunking_spark.zip -m rust_chunking_spark.ingest_cli``
against a WAL directory of epoch-numbered parquet segments, at N or 4N
executors. Locally:

  python -m rust_chunking_spark.ingest_cli --wal WAL_DIR --lake LAKE_DIR \\
      [--algo super] [--buckets 32] [--epochs 0 1 2] \\
      [--stream] [--salt-lww] [--cpus 8] \\
      [--compact-store] [--compact-lake] [--rebucket N] [--expire KEEP]

Batch mode replays the requested epochs (default: every epoch on disk)
through the exactly-once merge into the merge-on-read lake; already-committed
epochs are skipped (resume-from-checkpoint). Each epoch commits its
chunk-store append (exact dedup stats) and its metrics row set (decision
lineage + chunk-length histogram) as it is applied; batch mode prints one
JSON line per applied epoch. --stream drives the same engine through Structured
Streaming's foreachBatch with availableNow semantics. The maintenance flags
may run without --wal.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--wal", default=None,
                    help="WAL dir (epoch=NNNNNN/ segments); optional when "
                         "only maintenance flags are given")
    ap.add_argument("--lake", required=True, help="lake root directory")
    ap.add_argument("--algo", default="super",
                    choices=["super", "ae", "ram", "rabin", "seq", "ultra", "leap"])
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--epochs", type=int, nargs="*", default=None)
    ap.add_argument("--stream", action="store_true",
                    help="drive through Structured Streaming (availableNow)")
    ap.add_argument("--salt-lww", action="store_true")
    ap.add_argument("--compact-store", action="store_true",
                    help="fold the chunk store's per-epoch files into "
                         "one after the replay")
    ap.add_argument("--compact-lake", action="store_true",
                    help="fold each bucket's files to one after the replay "
                         "(bounds MoR read amplification)")
    ap.add_argument("--rebucket", type=int, default=0, metavar="N",
                    help="evolve the lake's bucket spec to N buckets "
                         "(full rewrite; runs before any replay)")
    ap.add_argument("--expire", type=int, default=0, metavar="KEEP",
                    help="after everything else, expire lake + chunk-store "
                         "snapshots keeping the last KEEP, reclaiming "
                         "unreferenced data dirs")
    ap.add_argument("--cpus", type=int, default=0,
                    help="local[N] when no master is configured (0 = all)")
    args = ap.parse_args(argv)
    if args.wal is None and not (args.rebucket or args.compact_lake
                                 or args.compact_store or args.expire):
        # validate BEFORE any side effect (session boot, lake dir creation)
        ap.error("--wal is required unless a maintenance flag "
                 "(--rebucket/--compact-lake/--compact-store/--expire) "
                 "is given")

    from .engine import CdcIngestJob, ChunkStore, MorBucketedLake
    from .engine.lake import AppendOnlyTable
    from .session import get_spark
    from .sources.wal import WalSource

    spark = get_spark(app_name="cdc-ingest", cpus=args.cpus or None)
    lake = MorBucketedLake(f"{args.lake}/lake", n_buckets=args.buckets)
    job = CdcIngestJob(spark, lake,
                       ChunkStore(f"{args.lake}/chunks"),
                       AppendOnlyTable(f"{args.lake}/metrics"),
                       algo=args.algo, salt_lww=args.salt_lww)
    try:
        if args.rebucket:
            old = lake.rebucket(spark, args.rebucket)
            print(json.dumps({"rebucketed": {"from": old,
                                             "to": lake.n_buckets}}))
        if args.wal is None:
            results = []
        elif args.stream:
            from .streaming import drain_open_epochs, start_stream_ingest

            q = start_stream_ingest(spark, job, args.wal,
                                    f"{args.lake}/checkpoint")
            q.awaitTermination()
            # The CLI is the caller that knows the WAL writer is done, so it
            # closes the gap the availableNow drain can't decide from inside
            # the stream: a tail epoch segment with no _SUCCESS marker.
            drained = drain_open_epochs(spark, job, args.wal)
            if drained:
                print(json.dumps({"drained_epochs": drained}))
            results = []
        else:
            epochs = (args.epochs if args.epochs
                      else WalSource(args.wal).epochs())
            results = job.run(args.wal, epochs)
        if args.compact_store or args.compact_lake or args.expire:
            # Repair BEFORE any maintenance op (ADVICE r4 #2): a crash
            # between a lake commit and the chunk-store append leaves the
            # store an epoch behind, and compact/expire would supersede
            # then delete the very merge/delta dirs that repair reads.
            repaired = job.repair_chunk_store_gaps()
            if repaired:
                print(json.dumps({"repaired_chunk_store_epochs": repaired}))
        if args.compact_store:
            job.chunk_store.compact(spark)
        if args.compact_lake:
            lake.compact(spark)
        if args.expire:
            removed = (lake.expire_snapshots(keep_last=args.expire)
                       + job.chunk_store.expire_snapshots(
                           keep_last=args.expire))
            print(json.dumps({"expired_data_dirs": removed}))
        for m in results:
            print(json.dumps({
                "epoch": m.epoch, "seen": m.events_seen,
                "insert": m.applied_insert, "update": m.applied_update,
                "delete": m.applied_delete, "noop": m.skipped_noop,
                "late": m.skipped_late, "dup": m.skipped_duplicate,
                "chunks_new": m.chunks_new, "dedup_ratio": m.dedup_ratio,
            }))
        print(json.dumps({
            "committed_epochs": sorted(lake.committed_epochs()),
        }))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
