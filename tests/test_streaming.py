"""Structured Streaming ingest: same final state as batch replay + oracle."""

import pytest
from pyspark.sql import functions as F

from rust_chunking_spark.datagen import expected_final_state, generate_wal
from rust_chunking_spark.engine import CdcIngestJob, MorBucketedLake
from rust_chunking_spark.engine.lake import AppendOnlyTable
from rust_chunking_spark.streaming import start_stream_ingest

N_EPOCHS = 4


@pytest.fixture(scope="module")
def wal():
    return generate_wal(n_pages=0, n_epochs=N_EPOCHS, events_per_epoch=40,
                        seed=99)


def test_stream_ingest_matches_oracle(spark, wal, tmp_path):
    wal_dir = str(tmp_path / "wal")
    for ep, events in enumerate(wal):
        df = spark.createDataFrame([dict(e) for e in events])
        df.write.mode("overwrite").parquet(f"{wal_dir}/epoch={ep:06d}")

    lake = MorBucketedLake(str(tmp_path / "lake"), n_buckets=8)
    job = CdcIngestJob(spark, lake, AppendOnlyTable(str(tmp_path / "chunks")),
                       AppendOnlyTable(str(tmp_path / "metrics")))
    q = start_stream_ingest(spark, job, wal_dir, str(tmp_path / "ckpt"),
                            max_files_per_trigger=16)
    q.awaitTermination(300)

    assert job.lake.committed_epochs() == set(range(N_EPOCHS))
    oracle = expected_final_state(wal)
    rows = {r.url: r for r in lake.read(spark).filter(~F.col("deleted")).collect()}
    assert set(rows) == set(oracle)
    for url, exp in oracle.items():
        assert rows[url].text == exp["text"]
        assert rows[url].lsn == exp["lsn"]

    # restart with the same checkpoint: nothing new to process, state stable
    v1 = lake.current_snapshot()["version"]
    q2 = start_stream_ingest(spark, job, wal_dir, str(tmp_path / "ckpt"),
                             max_files_per_trigger=16)
    q2.awaitTermination(120)
    assert lake.current_snapshot()["version"] == v1


def test_stream_epoch_split_across_microbatches(spark, wal, tmp_path):
    """maxFilesPerTrigger batches FILES, so one epoch's part files can span
    several micro-batches. The engine must still apply every event exactly
    once (regression: a partial first slice used to commit the epoch marker
    and silently drop the remainder)."""
    wal_dir = str(tmp_path / "wal")
    for ep, events in enumerate(wal):
        df = spark.createDataFrame([dict(e) for e in events])
        # many part files per epoch + tiny trigger -> guaranteed epoch splits
        (df.repartition(6).write.mode("overwrite")
         .parquet(f"{wal_dir}/epoch={ep:06d}"))

    lake = MorBucketedLake(str(tmp_path / "lake"), n_buckets=8)
    job = CdcIngestJob(spark, lake, AppendOnlyTable(str(tmp_path / "chunks")),
                       AppendOnlyTable(str(tmp_path / "metrics")))
    q = start_stream_ingest(spark, job, wal_dir, str(tmp_path / "ckpt"),
                            max_files_per_trigger=4)
    q.awaitTermination(300)

    assert job.lake.committed_epochs() == set(range(N_EPOCHS))
    # the derived chunk store kept up too (repair path on re-delivery)
    assert job.chunk_store.committed_epochs() == set(range(N_EPOCHS))
    oracle = expected_final_state(wal)
    rows = {r.url: r for r in
            lake.read(spark).filter(~F.col("deleted")).collect()}
    assert set(rows) == set(oracle)
    for url, exp in oracle.items():
        assert rows[url].text == exp["text"]
        assert rows[url].lsn == exp["lsn"]


def test_stream_ingest_into_mor_lake(spark, wal, tmp_path):
    """The streaming front-end into the merge-on-read lake: one pass over
    the WAL, oracle match on text and lsn."""
    wal_dir = str(tmp_path / "wal")
    for ep, events in enumerate(wal):
        df = spark.createDataFrame([dict(e) for e in events])
        df.write.mode("overwrite").parquet(f"{wal_dir}/epoch={ep:06d}")

    lake = MorBucketedLake(str(tmp_path / "lake"), n_buckets=8)
    job = CdcIngestJob(spark, lake, AppendOnlyTable(str(tmp_path / "chunks")),
                       AppendOnlyTable(str(tmp_path / "metrics")))
    q = start_stream_ingest(spark, job, wal_dir, str(tmp_path / "ckpt"),
                            max_files_per_trigger=16)
    q.awaitTermination(300)
    assert job.lake.committed_epochs() == set(range(N_EPOCHS))
    oracle = expected_final_state(wal)
    rows = {r.url: r for r in
            lake.read(spark).filter(~F.col("deleted")).collect()}
    assert set(rows) == set(oracle)
    for url, exp in oracle.items():
        assert rows[url].text == exp["text"]
        assert rows[url].lsn == exp["lsn"]


def test_stream_sweep_applies_epochs_without_success_markers(spark, wal,
                                                             tmp_path):
    """A WAL writer that never emits _SUCCESS (marksuccessfuljobs=false, or a
    non-Spark writer): every epoch with a later sibling on disk is still
    applied — the per-batch WAL sweep re-examines deferred epochs even when
    none of their files arrive in that batch (ADVICE r2 #1). The final epoch
    is undecidable from inside the stream and is drained explicitly."""
    wal_dir = str(tmp_path / "wal")
    for ep, events in enumerate(wal):
        df = spark.createDataFrame([dict(e) for e in events])
        (df.repartition(5).write.mode("overwrite")
         .parquet(f"{wal_dir}/epoch={ep:06d}"))
    # strip every _SUCCESS marker
    import glob
    import os

    for m in glob.glob(f"{wal_dir}/epoch=*/_SUCCESS"):
        os.remove(m)

    lake = MorBucketedLake(str(tmp_path / "lake"), n_buckets=8)
    job = CdcIngestJob(spark, lake, AppendOnlyTable(str(tmp_path / "chunks")),
                       AppendOnlyTable(str(tmp_path / "metrics")))
    q = start_stream_ingest(spark, job, wal_dir, str(tmp_path / "ckpt"),
                            max_files_per_trigger=3)
    q.awaitTermination(300)

    # all but the final epoch applied (closed by a later sibling); the final
    # epoch is indistinguishable from still-being-written
    assert job.lake.committed_epochs() == set(range(N_EPOCHS - 1))
    from rust_chunking_spark.streaming import drain_open_epochs

    assert drain_open_epochs(spark, job, wal_dir) == [N_EPOCHS - 1]
    assert job.lake.committed_epochs() == set(range(N_EPOCHS))
    oracle = expected_final_state(wal)
    rows = {r.url: r for r in
            lake.read(spark).filter(~F.col("deleted")).collect()}
    assert set(rows) == set(oracle)
    for url, exp in oracle.items():
        assert rows[url].text == exp["text"]
        assert rows[url].lsn == exp["lsn"]

def test_stream_repairs_chunk_store_after_partial_crash(spark, wal, tmp_path):
    """Crash between the lake commit and the chunk-store append: when the
    stream restarts, the per-batch repair sweep rebuilds the missing epochs'
    chunk deltas from the snapshot's recorded merge files — even though
    those epochs are lake-committed and therefore never re-enter the normal
    apply path (code-review r3 finding #1)."""
    wal_dir = str(tmp_path / "wal")
    for ep, events in enumerate(wal):
        df = spark.createDataFrame([dict(e) for e in events])
        df.write.mode("overwrite").parquet(f"{wal_dir}/epoch={ep:06d}")

    lake = MorBucketedLake(str(tmp_path / "lake"), n_buckets=8)
    job = CdcIngestJob(spark, lake, AppendOnlyTable(str(tmp_path / "chunks")),
                       AppendOnlyTable(str(tmp_path / "metrics")))
    q = start_stream_ingest(spark, job, wal_dir, str(tmp_path / "ckpt"),
                            max_files_per_trigger=16)
    q.awaitTermination(300)
    assert job.chunk_store.committed_epochs() == set(range(N_EPOCHS))
    before = {bytes(r.chunk_hash) for r in
              job.chunk_store.read(spark).collect()}

    # simulate the crash window: the lake committed but the chunk store never
    # saw epochs >= 1 (wipe the store back to epoch 0 only)
    import shutil

    shutil.rmtree(str(tmp_path / "chunks"))
    store2 = AppendOnlyTable(str(tmp_path / "chunks"))
    job2 = CdcIngestJob(spark, lake, store2,
                        AppendOnlyTable(str(tmp_path / "metrics2")))
    assert store2.committed_epochs() == set()

    # restart the stream on a FRESH checkpoint with no new WAL data: no
    # epoch re-applies (all lake-committed), so only the repair sweep can
    # restore the store
    q2 = start_stream_ingest(spark, job2, wal_dir, str(tmp_path / "ckpt2"),
                             max_files_per_trigger=16)
    q2.awaitTermination(300)
    assert store2.committed_epochs() == set(range(N_EPOCHS))
    after = {bytes(r.chunk_hash) for r in store2.read(spark).collect()}
    assert after == before


def test_stream_cli_drains_tail_epoch_without_success(spark, wal, tmp_path,
                                                      monkeypatch, capsys):
    """ingest_cli --stream must not leave a markerless tail epoch unapplied:
    after awaitTermination it calls drain_open_epochs itself — the CLI is the
    caller position that knows the WAL writer is done (ADVICE r3 #4)."""
    import glob
    import os

    from rust_chunking_spark import ingest_cli

    wal_dir = str(tmp_path / "wal")
    for ep, events in enumerate(wal):
        df = spark.createDataFrame([dict(e) for e in events])
        df.write.mode("overwrite").parquet(f"{wal_dir}/epoch={ep:06d}")
    for m in glob.glob(f"{wal_dir}/epoch=*/_SUCCESS"):
        os.remove(m)

    # keep the shared test session alive through main()'s finally-stop
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = ingest_cli.main(["--wal", wal_dir, "--lake", str(tmp_path / "lk"),
                          "--buckets", "8", "--stream"])
    assert rc == 0
    lake = MorBucketedLake(str(tmp_path / "lk" / "lake"), n_buckets=8)
    assert lake.committed_epochs() == set(range(N_EPOCHS))
    out = capsys.readouterr().out
    assert f'"drained_epochs": [{N_EPOCHS - 1}]' in out

    oracle = expected_final_state(wal)
    rows = {r.url: r for r in
            lake.read(spark).filter(~F.col("deleted")).collect()}
    assert set(rows) == set(oracle)


def test_cli_maintenance_flags(spark, wal, tmp_path, monkeypatch, capsys):
    """--rebucket (maintenance-only invocation, no --wal), then replay with
    --compact-store/--compact-lake/--expire: final state still matches the
    oracle, the persisted bucket spec survives a stale-ctor reopen, and
    expiry reclaims superseded data dirs."""
    from rust_chunking_spark import ingest_cli

    wal_dir = str(tmp_path / "wal")
    for ep, events in enumerate(wal):
        spark.createDataFrame([dict(e) for e in events]).write.mode(
            "overwrite").parquet(f"{wal_dir}/epoch={ep:06d}")
    monkeypatch.setattr(spark, "stop", lambda: None)
    lk_root = str(tmp_path / "lk")
    assert ingest_cli.main(["--wal", wal_dir, "--lake", lk_root,
                            "--buckets", "8", "--epochs", "0", "1",
                            "--steady"]) == 0
    assert ingest_cli.main(["--lake", lk_root, "--rebucket", "16"]) == 0
    assert ingest_cli.main(["--wal", wal_dir, "--lake", lk_root, "--steady",
                            "--compact-store", "--compact-lake",
                            "--expire", "1"]) == 0
    out = capsys.readouterr().out
    assert '"rebucketed": {"from": 8, "to": 16}' in out
    assert '"expired_data_dirs"' in out

    lake = MorBucketedLake(f"{lk_root}/lake", n_buckets=8)  # stale ctor arg
    assert lake.n_buckets == 16
    assert lake.committed_epochs() == set(range(N_EPOCHS))
    oracle = expected_final_state(wal)
    rows = {r.url: r for r in
            lake.read(spark).filter(~F.col("deleted")).collect()}
    assert set(rows) == set(oracle)
    for url, exp in oracle.items():
        assert rows[url].text == exp["text"]
