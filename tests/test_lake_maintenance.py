"""Lake maintenance: time travel, compaction, snapshot expiry."""

from pyspark.sql import functions as F

from rust_chunking_spark.datagen import generate_wal
from rust_chunking_spark.engine import CdcIngestJob, MorBucketedLake
from rust_chunking_spark.engine.lake import AppendOnlyTable


def _replayed(spark, tmp_path, epochs=3):
    wal = generate_wal(n_pages=0, n_epochs=epochs, events_per_epoch=40, seed=13)
    for ep, events in enumerate(wal):
        spark.createDataFrame([dict(e) for e in events]).write.mode(
            "overwrite").parquet(f"{tmp_path}/wal/epoch={ep:06d}")
    lake = MorBucketedLake(str(tmp_path / "lake"), n_buckets=4)
    job = CdcIngestJob(spark, lake, AppendOnlyTable(str(tmp_path / "chunks")),
                       AppendOnlyTable(str(tmp_path / "metrics")))
    job.run(f"{tmp_path}/wal", list(range(epochs)))
    return lake


def test_time_travel(spark, tmp_path):
    lake = _replayed(spark, tmp_path)
    versions = lake.snapshot_versions()
    assert len(versions) >= 3
    # current vs first-epoch snapshot differ; both readable
    now = lake.read(spark).filter(~F.col("deleted")).count()
    v_first = lake.read_version(spark, versions[0]).filter(
        ~F.col("deleted")).count()
    assert v_first > 0 and now != v_first


def test_compact_and_expire(spark, tmp_path):
    lake = _replayed(spark, tmp_path)
    before = lake.read(spark).orderBy("url").collect()
    n = lake.compact(spark)
    assert n >= 0
    after = lake.read(spark).orderBy("url").collect()
    assert [r.url for r in after] == [r.url for r in before]
    assert [r.lsn for r in after] == [r.lsn for r in before]
    # every bucket now has at most one file
    snap = lake.current_snapshot()
    assert all(len(fl) <= 1 for fl in snap["files"].values())

    removed = lake.expire_snapshots(keep_last=1)
    assert removed >= 1
    again = lake.read(spark).orderBy("url").collect()
    assert [r.url for r in again] == [r.url for r in before]


def test_expire_keeps_current_after_crash_orphan(spark, tmp_path):
    """Crash between writing vN.json and the CURRENT flip leaves an orphan
    manifest NEWER than CURRENT. expire_snapshots must keep the snapshot
    CURRENT names (regression: keeping the newest by version number deleted
    the live manifest + its data, bricking the table)."""
    import json
    import os

    lake = _replayed(spark, tmp_path)
    before = lake.read(spark).orderBy("url").collect()
    cur_v = lake._current_version()

    # simulate the torn commit: orphan manifest newer than CURRENT, pointing
    # at a data directory that was never fully written
    orphan_v = cur_v + 1
    snap = lake.current_snapshot()
    orphan = {**snap, "version": orphan_v,
              "files": {"0": ["merge-orphan/never-written"]}}
    with open(os.path.join(lake.path, "snapshots",
                           f"v{orphan_v:08d}.json"), "w") as f:
        json.dump(orphan, f)

    lake.expire_snapshots(keep_last=1)
    # CURRENT's manifest survived and the table is intact
    assert lake._current_version() == cur_v
    after = lake.read(spark).orderBy("url").collect()
    assert [r.url for r in after] == [r.url for r in before]
    # the orphan manifest was cleaned up, not promoted
    assert orphan_v not in lake.snapshot_versions()


def _wal_to_disk(spark, tmp_path, n_epochs=6, seed=21):
    wal = generate_wal(n_pages=0, n_epochs=n_epochs, events_per_epoch=40,
                       seed=seed)
    for ep, events in enumerate(wal):
        spark.createDataFrame([dict(e) for e in events]).write.mode(
            "overwrite").parquet(f"{tmp_path}/wal/epoch={ep:06d}")
    return wal


def _state(spark, lake):
    return sorted(
        (r.url, r.lsn, r.text)
        for r in lake.read(spark).filter(~F.col("deleted")).collect())


def _mk_job(spark, tmp_path, tag, n_buckets=32):
    lake = MorBucketedLake(f"{tmp_path}/{tag}/lake", n_buckets=n_buckets)
    return lake, CdcIngestJob(
        spark, lake, AppendOnlyTable(f"{tmp_path}/{tag}/chunks"),
        AppendOnlyTable(f"{tmp_path}/{tag}/metrics"))


def test_rebucket_mid_replay(spark, tmp_path):
    """Bucket-count evolution (VERDICT r3 missing #1): ingest at 32 buckets,
    rebucket to 128 mid-replay, ingest more epochs — final state identical
    to an un-rebucketed run, committed epochs/schema carried, and the
    post-rebucket epochs' dirty-bucket sets follow the NEW spec (including
    through a fresh lake handle, which must adopt the persisted count over
    its constructor arg)."""
    wal = _wal_to_disk(spark, tmp_path)
    half = 3
    lake, job = _mk_job(spark, tmp_path, "re")
    job.run(f"{tmp_path}/wal", list(range(half)))
    assert lake.rebucket(spark, 128) == 32
    assert lake.n_buckets == 128
    assert lake.committed_epochs() == set(range(half))
    # post-rebucket epochs through a FRESH handle with a stale ctor arg:
    # the persisted spec must win, or every key mis-routes
    lake2, job2 = _mk_job(spark, tmp_path, "re", n_buckets=32)
    assert lake2.n_buckets == 128
    job2.run(f"{tmp_path}/wal", list(range(half, len(wal))))
    # dirty buckets of the new epochs follow the new spec
    stats = lake2.current_snapshot()["stats"]
    new_buckets = {
        int(f.split("__bucket=", 1)[1].split("/", 1)[0])
        for ep in range(half, len(wal))
        for f in stats[str(ep)]["merge_files"]}
    assert max(new_buckets) > 31, new_buckets

    baseline, base_job = _mk_job(spark, tmp_path, "base")
    base_job.run(f"{tmp_path}/wal", list(range(len(wal))))
    assert _state(spark, lake2) == _state(spark, baseline)
    # old data dirs become unreferenced and are GC'd by expire
    lake2.expire_snapshots(keep_last=1)
    assert _state(spark, lake2) == _state(spark, baseline)


def test_lake_mode_is_persisted_metadata(tmp_path):
    """Lake mode is table metadata like the bucket spec. Copy-on-write lakes
    (manifest stamped ``"mor": false``) are no longer supported and must be
    refused on open: read through the merge-on-read class they would look
    empty, and a rebucket would commit an empty rewrite over a non-empty
    snapshot (code-review r4 finding #1). MoR manifests still open."""
    import json
    import os

    import pytest

    def plant(path, mor):
        os.makedirs(f"{path}/snapshots")
        with open(f"{path}/snapshots/v00000001.json", "w") as f:
            json.dump({"version": 1, "files": {"0": ["merge-x/__bucket=0"]},
                       "committed_epochs": [0], "schema": None, "stats": {},
                       "n_buckets": 4, "mor": mor}, f)
        with open(f"{path}/snapshots/CURRENT", "w") as f:
            f.write("v00000001.json")

    plant(tmp_path / "cow", False)
    with pytest.raises(ValueError, match="COW lakes are no longer supported"):
        MorBucketedLake(str(tmp_path / "cow"))

    plant(tmp_path / "mor", True)
    lake = MorBucketedLake(str(tmp_path / "mor"), n_buckets=8)
    assert lake.n_buckets == 4 and lake.committed_epochs() == {0}


def test_append_table_legacy_manifest_stamps_schema(spark, tmp_path):
    """An append-only table whose manifest records no schema (written
    before schemas were recorded) still reads, by inference; its next
    append stamps the schema, and reads use it from then on."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "metrics"
    os.makedirs(path / "data" / "append-e000000-legacy")
    os.makedirs(path / "snapshots")
    pq.write_table(pa.table({"bucket": [1], "decision": ["insert"],
                             "cnt": [3], "epoch": [0]}),
                   path / "data" / "append-e000000-legacy" / "part-0.parquet")
    with open(path / "snapshots" / "v00000001.json", "w") as f:
        json.dump({"version": 1, "files": {"0": ["append-e000000-legacy"]},
                   "committed_epochs": [0], "schema": None, "stats": {}}, f)
    with open(path / "snapshots" / "CURRENT", "w") as f:
        f.write("v00000001.json")

    table = AppendOnlyTable(str(path))
    assert [tuple(r) for r in table.read(spark).collect()] == [
        (1, "insert", 3, 0)]
    table.append(spark.createDataFrame(
        [(2, "noop", 5, 1)], "bucket long, decision string, cnt long, "
                             "epoch long"), 1)
    snap = table.current_snapshot()
    assert snap["committed_epochs"] == [0, 1] and snap["schema"] is not None
    got = table.read(spark)
    assert got.dtypes == [("bucket", "bigint"), ("decision", "string"),
                          ("cnt", "bigint"), ("epoch", "bigint")]
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, "insert", 3, 0), (2, "noop", 5, 1)]


def test_pyarrow_append_invisible_until_flip(spark, tmp_path, monkeypatch):
    """A pyarrow-written append lands in an uncommitted directory, like a
    Spark-written one: a crash before the manifest flip leaves an orphan
    that reads never see and expiry collects, and the retried append
    commits the epoch once."""
    import os

    import pyarrow as pa
    import pytest

    def rows(epoch):
        return pa.Table.from_pylist(
            [{"bucket": 1, "decision": "insert", "cnt": 2, "epoch": epoch}],
            schema=CdcIngestJob.LINEAGE_SCHEMA)

    table = AppendOnlyTable(str(tmp_path / "metrics"))
    table.append(rows(0), 0)

    def crash(snap):
        raise RuntimeError("crash before the manifest flip")

    monkeypatch.setattr(table, "_commit", crash)
    with pytest.raises(RuntimeError):
        table.append(rows(1), 1)
    monkeypatch.undo()
    assert len(os.listdir(tmp_path / "metrics" / "data")) == 2
    assert table.committed_epochs() == {0}
    assert [tuple(r) for r in table.read(spark).collect()] == [
        (1, "insert", 2, 0)]
    assert table.expire_snapshots() == 1          # the orphan directory
    table.append(rows(1), 1)
    table.append(rows(1), 1)                      # committed: a no-op
    assert sorted(tuple(r) for r in table.read(spark).collect()) == [
        (1, "insert", 2, 0), (1, "insert", 2, 1)]
