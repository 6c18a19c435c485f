"""Crash-injection tests for exactly-once guarantees.

Simulated failure points:
1. after the lake snapshot commit but BEFORE the chunk-store append
   (run() must repair the store from merge_files recorded in the snapshot);
2. after the delta and meta writes but before the snapshot flip (CURRENT
   still points at the old snapshot; replay reconverges, orphaned data
   files are ignored);
3. after the delta write but before the commit (orphan deltas stay
   invisible and expire collects them).
"""

import pytest
from pyspark.sql import functions as F

from rust_chunking_spark.datagen import expected_final_state, generate_wal
from rust_chunking_spark.engine import CdcIngestJob, MorBucketedLake
from rust_chunking_spark.engine.lake import AppendOnlyTable

N_EPOCHS = 3


@pytest.fixture(scope="module")
def wal():
    return generate_wal(n_pages=0, n_epochs=N_EPOCHS, events_per_epoch=40,
                        seed=21)


def _write_wal(spark, wal, path):
    for ep, events in enumerate(wal):
        spark.createDataFrame([dict(e) for e in events]).write.mode(
            "overwrite").parquet(f"{path}/epoch={ep:06d}")


def _mk(spark, tmp):
    lake = MorBucketedLake(f"{tmp}/lake", n_buckets=4)
    return CdcIngestJob(spark, lake, AppendOnlyTable(f"{tmp}/chunks"),
                        AppendOnlyTable(f"{tmp}/metrics"))


def test_crash_between_lake_commit_and_store_append(spark, wal, tmp_path):
    _write_wal(spark, wal, f"{tmp_path}/wal")
    job = _mk(spark, str(tmp_path))

    # crash injection: chunk-store append raises AFTER the lake committed
    def boom(*a, **k):
        raise RuntimeError("injected crash")

    job._update_chunk_store = boom
    with pytest.raises(RuntimeError):
        job.apply_epoch(spark.read.parquet(f"{tmp_path}/wal/epoch=000000"), 0)
    assert 0 in job.lake.committed_epochs()
    assert 0 not in job.chunk_store.committed_epochs()

    # fresh job resumes: epoch 0 skipped by marker, store repaired, 1..2 applied
    job2 = _mk(spark, str(tmp_path))
    results = job2.run(f"{tmp_path}/wal", list(range(N_EPOCHS)))
    assert [m.epoch for m in results] == [1, 2]
    assert job2.chunk_store.committed_epochs() == {0, 1, 2}

    # store integrity: unique hashes, covers all live content chunks
    store = job2.chunk_store.read(spark)
    assert store.count() == store.select("chunk_hash").distinct().count()
    live = job2.lake.read(spark).filter(~F.col("deleted"))
    live_hashes = (live.select(F.explode("chunks").alias("c"))
                   .select(F.col("c.hash").alias("chunk_hash")).distinct())
    missing = live_hashes.join(store, "chunk_hash", "left_anti").count()
    assert missing == 0

    # final state still matches the oracle
    oracle = expected_final_state(wal)
    rows = {r.url: r for r in live.collect()}
    assert set(rows) == set(oracle)
    for url, exp in oracle.items():
        assert rows[url].text == exp["text"]


def test_crash_before_snapshot_flip(spark, wal, tmp_path):
    _write_wal(spark, wal, f"{tmp_path}/wal")
    job = _mk(spark, str(tmp_path))
    job.run(f"{tmp_path}/wal", [0])
    v1 = job.lake.current_snapshot()["version"]

    # crash injection: the snapshot commit itself fails (data files already
    # written become orphans; CURRENT still points at v1)
    orig_commit = job.lake._commit

    def boom(snap):
        raise RuntimeError("injected crash before flip")

    job.lake._commit = boom
    with pytest.raises(RuntimeError):
        job.apply_epoch(spark.read.parquet(f"{tmp_path}/wal/epoch=000001"), 1)
    job.lake._commit = orig_commit
    assert job.lake.current_snapshot()["version"] == v1
    assert job.lake.committed_epochs() == {0}

    # replay epoch 1 + 2: reconverges to the oracle despite orphaned files
    job2 = _mk(spark, str(tmp_path))
    results = job2.run(f"{tmp_path}/wal", list(range(N_EPOCHS)))
    assert [m.epoch for m in results] == [1, 2]
    oracle = expected_final_state(wal)
    rows = {r.url: r for r in
            job2.lake.read(spark).filter(~F.col("deleted")).collect()}
    assert set(rows) == set(oracle)
    for url, exp in oracle.items():
        assert bytes(rows[url].html) == exp["html"]


def test_mor_crash_between_commit_and_store_append(spark, wal, tmp_path):
    """Lake committed, chunk-store append crashed -> repair on resume, with
    the live chunk hashes all present in the store."""
    _write_wal(spark, wal, f"{tmp_path}/wal")
    job = _mk(spark, str(tmp_path))
    job._update_chunk_store = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("injected crash"))
    with pytest.raises(RuntimeError):
        job.apply_epoch(spark.read.parquet(f"{tmp_path}/wal/epoch=000000"), 0)
    assert 0 in job.lake.committed_epochs()
    assert 0 not in job.chunk_store.committed_epochs()

    job2 = _mk(spark, str(tmp_path))
    results = job2.run(f"{tmp_path}/wal", list(range(N_EPOCHS)))
    assert [m.epoch for m in results] == [1, 2]
    assert job2.chunk_store.committed_epochs() == {0, 1, 2}
    store = job2.chunk_store.read(spark)
    assert store.count() == store.select("chunk_hash").distinct().count()
    live = job2.lake.read(spark).filter(~F.col("deleted"))
    live_hashes = (live.select(F.explode("chunks").alias("c"))
                   .select(F.col("c.hash").alias("chunk_hash")).distinct())
    assert live_hashes.join(store, "chunk_hash", "left_anti").count() == 0
    oracle = expected_final_state(wal)
    rows = {r.url: r for r in live.collect()}
    assert set(rows) == set(oracle)
    for url, exp in oracle.items():
        assert rows[url].text == exp["text"]


def test_mor_crash_between_delta_write_and_commit(spark, wal, tmp_path):
    """Wide delta files written, snapshot commit crashed -> files stay
    orphans (invisible), replay reconverges, expire collects the orphans."""
    import os

    _write_wal(spark, wal, f"{tmp_path}/wal")
    job = _mk(spark, str(tmp_path))
    job.run(f"{tmp_path}/wal", [0])
    v1 = job.lake.current_snapshot()["version"]

    orig = job.lake.commit_delta
    job.lake.commit_delta = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("injected crash before commit"))
    with pytest.raises(RuntimeError):
        job.apply_epoch(spark.read.parquet(f"{tmp_path}/wal/epoch=000001"), 1)
    job.lake.commit_delta = orig
    assert job.lake.current_snapshot()["version"] == v1
    assert job.lake.committed_epochs() == {0}
    n_dirs_after_crash = len(os.listdir(f"{tmp_path}/lake/data"))

    job2 = _mk(spark, str(tmp_path))
    results = job2.run(f"{tmp_path}/wal", list(range(N_EPOCHS)))
    assert [m.epoch for m in results] == [1, 2]
    oracle = expected_final_state(wal)
    rows = {r.url: r for r in
            job2.lake.read(spark).filter(~F.col("deleted")).collect()}
    assert set(rows) == set(oracle)
    for url, exp in oracle.items():
        assert bytes(rows[url].html) == exp["html"]
    # orphan delta dirs from the crashed attempt are collected by expire
    before = {r.url: r.lsn for r in
              job2.lake.read(spark).select("url", "lsn").collect()}
    job2.lake.expire_snapshots(keep_last=1)
    assert len(os.listdir(f"{tmp_path}/lake/data")) < n_dirs_after_crash + 4
    after = {r.url: r.lsn for r in
             job2.lake.read(spark).select("url", "lsn").collect()}
    assert after == before
