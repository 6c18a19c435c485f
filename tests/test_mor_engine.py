"""Merge-on-read lake: CDC semantics through the same oracle as the engine
tests in test_cdc_engine.py, writing only wide deltas per epoch; per-epoch
metrics (decision lineage + chunk-length histogram) on resumed, reverted
and re-inserted content; chunk-store maintenance.
"""

import pytest
from pyspark.sql import functions as F

from rust_chunking_spark.datagen import generate_wal
from rust_chunking_spark.engine import CdcIngestJob
from rust_chunking_spark.engine.lake import (AppendOnlyTable, ChunkStore,
                                             MorBucketedLake)

from tests.test_cdc_engine import (
    _assert_matches_oracle,
    _chunk_len_hist,
    _write_wal,
)

N_EPOCHS = 6
EVENTS_PER_EPOCH = 60
# The histogram tests below keep the lake mode in their ids, and the
# "flush" in their names from when histograms were written at an
# end-of-replay flush; merge-on-read is the only mode the engine has, and
# every epoch now writes its own metrics.
LAKE_MODES = ["mor"]


@pytest.fixture(scope="module")
def wal():
    return generate_wal(n_pages=0, n_epochs=N_EPOCHS,
                        events_per_epoch=EVENTS_PER_EPOCH, seed=7)


def _mk_mor_job(spark, tmp, n_buckets=8):
    lake = MorBucketedLake(f"{tmp}/lake", n_buckets=n_buckets)
    return CdcIngestJob(spark, lake, AppendOnlyTable(f"{tmp}/chunks"),
                        AppendOnlyTable(f"{tmp}/metrics"))


def test_mor_full_replay_matches_oracle(spark, wal, tmp_path):
    _write_wal(spark, wal, str(tmp_path / "wal"))
    job = _mk_mor_job(spark, str(tmp_path))
    results = job.run(str(tmp_path / "wal"), list(range(N_EPOCHS)))
    assert len(results) == N_EPOCHS
    _assert_matches_oracle(spark, job.lake, wal)
    # verdict mix exercised (noop/late/dup/delete all present)
    assert sum(m.skipped_noop for m in results) > 0
    assert sum(m.skipped_late for m in results) > 0
    assert sum(m.applied_delete for m in results) > 0
    # chunk store never duplicates a hash
    store = job.chunk_store.read(spark)
    assert store.count() == store.select("chunk_hash").distinct().count() > 0


def test_mor_writes_only_content_candidates(spark, wal, tmp_path):
    """The point of MoR: the per-epoch wide delta holds only the APPLIED
    content rows (inserts + updates) — never the carry set, and since the
    round-8 unchanged-fp drop not the no-op recrawls either (the fused
    UDF compares each candidate's fingerprint against current state and
    unchanged rows are filtered before the bucket shuffle): per-epoch
    delta IO is O(changed bytes), not O(candidate bytes)."""
    _write_wal(spark, wal, str(tmp_path / "wal"))
    job = _mk_mor_job(spark, str(tmp_path))
    results = job.run(str(tmp_path / "wal"), list(range(N_EPOCHS)))
    saw_noop = False
    for m in results[1:]:
        stats = job.lake.current_snapshot()["stats"][str(m.epoch)]
        files = stats["merge_files"]
        written = job.lake.read_files(spark, files)
        n_written = written.count() if written is not None else 0
        assert n_written == m.applied_insert + m.applied_update
        assert n_written < m.events_seen  # never the whole batch, post-LWW
        saw_noop = saw_noop or m.skipped_noop > 0
    assert saw_noop  # the drop was actually exercised


def test_mor_replay_idempotent_and_resumable(spark, wal, tmp_path):
    _write_wal(spark, wal, str(tmp_path / "wal"))
    job = _mk_mor_job(spark, str(tmp_path))
    job.run(str(tmp_path / "wal"), [0, 1, 2])
    job2 = _mk_mor_job(spark, str(tmp_path))
    results = job2.run(str(tmp_path / "wal"), list(range(N_EPOCHS)))
    assert [m.epoch for m in results] == [3, 4, 5]
    v1 = job2.lake.current_snapshot()["version"]
    assert job2.run(str(tmp_path / "wal"), list(range(N_EPOCHS))) == []
    assert job2.lake.current_snapshot()["version"] == v1
    _assert_matches_oracle(spark, job2.lake, wal)


def test_mor_schema_evolution_additive(spark, wal, tmp_path):
    _write_wal(spark, wal, str(tmp_path / "wal"))
    job = _mk_mor_job(spark, str(tmp_path))
    job.run(str(tmp_path / "wal"), list(range(N_EPOCHS)))
    df = job.lake.read(spark)
    assert "fetch_status" in df.columns
    live = df.filter(~F.col("deleted"))
    assert live.filter(F.col("fetch_status").isNull()).count() > 0
    assert live.filter(F.col("fetch_status").isNotNull()).count() > 0


def test_mor_compaction_preserves_state(spark, wal, tmp_path):
    _write_wal(spark, wal, str(tmp_path / "wal"))
    job = _mk_mor_job(spark, str(tmp_path))
    job.run(str(tmp_path / "wal"), list(range(N_EPOCHS)))
    snap = job.lake.current_snapshot()
    assert any(len(fl) > 1 for fl in snap["files"].values())  # real deltas
    n = job.lake.compact(spark)
    assert n > 0
    snap2 = job.lake.current_snapshot()
    assert all(len(fl) <= 1 for fl in snap2["files"].values())
    _assert_matches_oracle(spark, job.lake, wal)


def test_mor_reinsert_after_delete_identical_content(spark, tmp_path):
    """Edge of the unchanged-fp drop: tombstone meta retains the stale
    content_fp, so an insert-after-delete with IDENTICAL bytes must NOT
    be skipped as unchanged — the new content row has to land in the
    delta or the re-insert's meta pointer would resolve to nothing (the
    drop therefore applies to content_check candidates only)."""
    import datetime as dt

    t = lambda m: dt.datetime(2026, 3, 1) + dt.timedelta(minutes=m)
    A = b"<html>same bytes before and after the delete</html>" * 8
    schema = ("url string, warc_ts timestamp, lsn long, op string, "
              "html binary, text string, lang string")
    epochs = [
        [("u1", t(0), 1, "I", A, "a", "en")],
        [("u1", t(10), 2, "D", None, None, "en")],
        [("u1", t(20), 3, "I", A, "a", "en")],
    ]
    wal_dir = str(tmp_path / "wal")
    for ep, events in enumerate(epochs):
        spark.createDataFrame(events, schema).write.mode(
            "overwrite").parquet(f"{wal_dir}/epoch={ep:06d}")
    job = _mk_mor_job(spark, str(tmp_path))
    results = job.run(wal_dir, [0, 1, 2])
    assert results[2].applied_insert == 1
    rows = job.lake.read(spark).filter(~F.col("deleted")).collect()
    assert len(rows) == 1 and bytes(rows[0].html) == A
    assert rows[0].chunks is not None and len(rows[0].chunks) > 0


def test_mor_expire_keeps_live_meta(spark, wal, tmp_path):
    """expire_snapshots must treat meta directories as live references
    (regression: the live set was computed from wide files only)."""
    _write_wal(spark, wal, str(tmp_path / "wal"))
    job = _mk_mor_job(spark, str(tmp_path))
    job.run(str(tmp_path / "wal"), list(range(N_EPOCHS)))
    before = {r.url: r.lsn for r in
              job.lake.read(spark).select("url", "lsn").collect()}
    job.lake.expire_snapshots(keep_last=1)
    after = {r.url: r.lsn for r in
             job.lake.read(spark).select("url", "lsn").collect()}
    assert after == before


def test_chunk_store_compact(spark, wal, tmp_path):
    """Every epoch appends its own chunk-store directory, anti-joined
    against the store; ChunkStore.compact() folds them into ONE file with
    the same rows — same hashes, same first_seen_epoch — while committed
    epochs survive (VERDICT r2 #4)."""
    _write_wal(spark, wal, str(tmp_path / "wal"))
    lake = MorBucketedLake(f"{tmp_path}/lake", n_buckets=8)
    store = ChunkStore(f"{tmp_path}/chunks")
    job = CdcIngestJob(spark, lake, store,
                       AppendOnlyTable(f"{tmp_path}/metrics"))
    job.run(str(tmp_path / "wal"), list(range(N_EPOCHS)))
    snap = store.current_snapshot()
    assert len(snap["files"]["0"]) == N_EPOCHS      # one append per epoch
    raw = store.read(spark)
    assert raw.count() == raw.select("chunk_hash").distinct().count()
    before = {bytes(r.chunk_hash): (r.len, r.first_seen_epoch)
              for r in raw.collect()}
    assert min(e for _, e in before.values()) == 0
    assert max(e for _, e in before.values()) > 0   # later epochs added some

    folded = store.compact(spark)
    assert folded == N_EPOCHS
    snap2 = store.current_snapshot()
    assert len(snap2["files"]["0"]) == 1
    assert store.committed_epochs() == set(range(N_EPOCHS))
    after = {bytes(r.chunk_hash): (r.len, r.first_seen_epoch)
             for r in store.read(spark).collect()}
    assert after == before
    # compact is idempotent at target
    assert store.compact(spark) == 0


def _metric_rows(spark, path):
    rows = AppendOnlyTable(path).read(spark).collect()
    return sorted((int(r.epoch), r.decision, int(r.bucket), int(r.cnt))
                  for r in rows)


def test_chunk_store_expire_collects_compacted_orphans(spark, wal, tmp_path):
    """compact() supersedes the per-epoch append dirs but leaves them on
    disk; expire_snapshots() must reclaim them — afterwards only live data
    dirs remain and the store reads identically (VERDICT r3 #8)."""
    import os

    _write_wal(spark, wal, str(tmp_path / "wal"))
    lake = MorBucketedLake(f"{tmp_path}/lake", n_buckets=8)
    store = ChunkStore(f"{tmp_path}/chunks")
    job = CdcIngestJob(spark, lake, store,
                       AppendOnlyTable(f"{tmp_path}/metrics"))
    job.run(str(tmp_path / "wal"), list(range(N_EPOCHS)))
    assert store.compact(spark) == N_EPOCHS
    data_dir = f"{tmp_path}/chunks/data"
    # the superseded per-epoch dirs + the compacted one
    assert len(os.listdir(data_dir)) == N_EPOCHS + 1
    before = {bytes(r.chunk_hash): (r.len, r.first_seen_epoch)
              for r in store.read(spark).collect()}

    removed = store.expire_snapshots(keep_last=1)
    assert removed == N_EPOCHS
    live = store.current_snapshot()["files"]["0"]
    assert sorted(os.listdir(data_dir)) == sorted(live) and len(live) == 1
    after = {bytes(r.chunk_hash): (r.len, r.first_seen_epoch)
             for r in store.read(spark).collect()}
    assert after == before
    assert store.committed_epochs() == set(range(N_EPOCHS))


def _write_epochs(spark, wal_dir, epochs, schema=None):
    for ep, events in enumerate(epochs):
        spark.createDataFrame(events, schema).write.mode(
            "overwrite").parquet(f"{wal_dir}/epoch={ep:06d}")


def _hist_rows(spark, path):
    return [r for r in _metric_rows(spark, path) if r[1] == "chunk_len_hist"]


def _expected_hist(epoch, *pages):
    """Independent chunk-length histogram rows of an epoch that applied
    ``pages``."""
    return [(epoch, "chunk_len_hist", b, c)
            for b, c in sorted(_chunk_len_hist(pages).items())]


def _decisions(rows):
    """Lineage rows summed over buckets: {(epoch, decision): count}."""
    out: dict = {}
    for e, d, _, c in rows:
        if d != "chunk_len_hist":
            out[(e, d)] = out.get((e, d), 0) + c
    return out


@pytest.mark.parametrize("mode", LAKE_MODES)
def test_flush_histogram_parity_on_resumed_replay(spark, tmp_path, mode):
    """ADVICE r4 #1: a RESUMED replay (epochs 0-1 by one job, 2-3 by a
    second) writes the same metrics rows as one uninterrupted replay. The
    second job's first epoch is a literal no-op re-crawl of earlier
    content (must not count) and its last a revert to earlier content
    (must count), so the histogram epochs are {0, 1, 3}."""
    import datetime as dt

    t = lambda m: dt.datetime(2026, 3, 1) + dt.timedelta(minutes=m)
    A = b"<html>first content body AAAA</html>" * 8
    B = b"<html>second content body BB</html>" * 8
    Z = b"<html>steady content zzzz</html>" * 8
    epochs = [
        # first job
        [dict(url="u1", warc_ts=t(0), lsn=1, op="I", html=A, text="a", lang="en"),
         dict(url="u2", warc_ts=t(1), lsn=2, op="I", html=Z, text="z", lang="en")],
        [dict(url="u1", warc_ts=t(10), lsn=3, op="U", html=B, text="b", lang="en")],
        # second job (resume): u2 re-crawled with UNCHANGED content (no-op —
        # must not count)
        [dict(url="u2", warc_ts=t(20), lsn=4, op="U", html=Z, text="z", lang="en")],
        # second job: revert u1 to earlier content A (must count)
        [dict(url="u1", warc_ts=t(30), lsn=5, op="U", html=A, text="a", lang="en")],
    ]
    wal_dir = str(tmp_path / "wal")
    _write_epochs(spark, wal_dir, epochs)

    _mk_mor_job(spark, tmp_path / "once", 2).run(wal_dir, [0, 1, 2, 3])
    _mk_mor_job(spark, tmp_path / "rs", 2).run(wal_dir, [0, 1])
    _mk_mor_job(spark, tmp_path / "rs", 2).run(wal_dir, [2, 3])  # fresh job

    rows = _metric_rows(spark, f"{tmp_path}/rs/metrics")
    assert rows == _metric_rows(spark, f"{tmp_path}/once/metrics")
    assert _hist_rows(spark, f"{tmp_path}/rs/metrics") == (
        _expected_hist(0, A, Z) + _expected_hist(1, B) + _expected_hist(3, A))
    assert _decisions(rows) == {(0, "insert"): 2, (1, "update"): 1,
                                (2, "noop"): 1, (3, "update"): 1}


@pytest.mark.parametrize("mode", LAKE_MODES)
def test_flush_histogram_ignores_orphan_snapshot(spark, tmp_path, mode):
    """ADVICE r5 #4: a crash between _commit's snapshot write and the
    CURRENT flip leaves an orphan v*.json ABOVE the CURRENT pointer —
    never-committed state that a resumed job must not read. Here the
    orphan is a stale copy of the epoch-0 state (u1 = content A); a job
    that consulted it would take the revert-to-A for a no-op and
    silently drop that epoch's histogram mass."""
    import datetime as dt
    import json
    import os
    import shutil

    t = lambda m: dt.datetime(2026, 3, 1) + dt.timedelta(minutes=m)
    A = b"<html>first content body AAAA</html>" * 8
    B = b"<html>second content body BB</html>" * 8
    epochs = [
        [dict(url="u1", warc_ts=t(0), lsn=1, op="I", html=A, text="a",
              lang="en")],
        [dict(url="u1", warc_ts=t(10), lsn=2, op="U", html=B, text="b",
              lang="en")],
        # resumed job: revert to earlier content A — applied
        [dict(url="u1", warc_ts=t(20), lsn=3, op="U", html=A, text="a",
              lang="en")],
    ]
    wal_dir = str(tmp_path / "wal")
    _write_epochs(spark, wal_dir, epochs)

    j1 = _mk_mor_job(spark, tmp_path, 2)
    j1.run(wal_dir, [0, 1])

    # plant the orphan: the snapshot whose committed_epochs == [0] (u1=A),
    # re-versioned above CURRENT, exactly what a crashed commit leaves
    snap_dir = os.path.join(f"{tmp_path}/lake", "snapshots")
    lake = j1.lake
    cur = lake._current_version()
    donor = None
    for v in lake.snapshot_versions():
        with open(os.path.join(snap_dir, f"v{v:08d}.json")) as f:
            if json.load(f)["committed_epochs"] == [0]:
                donor = v
                break
    assert donor is not None and cur is not None
    shutil.copy(os.path.join(snap_dir, f"v{donor:08d}.json"),
                os.path.join(snap_dir, f"v{cur + 7:08d}.json"))

    j2 = _mk_mor_job(spark, tmp_path, 2)      # resume in a fresh process
    (m,) = j2.run(wal_dir, [2])
    assert m.applied_update == 1 and m.skipped_noop == 0

    rows = _metric_rows(spark, f"{tmp_path}/metrics")
    assert _hist_rows(spark, f"{tmp_path}/metrics") == (
        _expected_hist(0, A) + _expected_hist(1, B) + _expected_hist(2, A))
    assert _decisions(rows) == {(0, "insert"): 1, (1, "update"): 1,
                                (2, "update"): 1}


@pytest.mark.parametrize("mode", LAKE_MODES)
def test_flush_histogram_counts_reverted_content(spark, tmp_path, mode):
    """A revert (content A -> B -> A across three epochs) is an APPLIED
    update in its own epoch; the histogram must count it there —
    fp-collapsing across epochs would attribute it to the first epoch
    (code-review r4 finding #2). No-op re-crawls (same fp as the url's
    previous version) must still be excluded."""
    import datetime as dt

    t = lambda m: dt.datetime(2026, 2, 1) + dt.timedelta(minutes=m)
    A = b"<html>content A body with some bytes</html>" * 8
    B = b"<html>content B entirely different !</html>" * 8
    Z = b"<html>steady content z</html>" * 8
    epochs = [
        [dict(url="u1", warc_ts=t(0), lsn=1, op="I", html=A, text="a", lang="en"),
         dict(url="u2", warc_ts=t(1), lsn=2, op="I", html=Z, text="z", lang="en")],
        [dict(url="u1", warc_ts=t(10), lsn=3, op="U", html=B, text="b", lang="en")],
        [dict(url="u2", warc_ts=t(11), lsn=4, op="U", html=Z, text="z", lang="en")],  # noop only
        [dict(url="u1", warc_ts=t(20), lsn=5, op="U", html=A, text="a", lang="en")],  # revert
    ]
    wal_dir = str(tmp_path / "wal")
    _write_epochs(spark, wal_dir, epochs)
    _mk_mor_job(spark, tmp_path, 4).run(wal_dir, [0, 1, 2, 3])
    rows = _metric_rows(spark, f"{tmp_path}/metrics")
    # revert epoch (3) has histogram mass; noop-only epoch (2) has none
    assert _hist_rows(spark, f"{tmp_path}/metrics") == (
        _expected_hist(0, A, Z) + _expected_hist(1, B) + _expected_hist(3, A))
    assert _decisions(rows) == {(0, "insert"): 2, (1, "update"): 1,
                                (2, "noop"): 1, (3, "update"): 1}


def test_flush_histogram_counts_reinsert_after_delete(spark, tmp_path):
    """Delete, then re-insert of IDENTICAL content: the re-insert is an
    applied insert in its own epoch, so that epoch writes its chunk-length
    histogram. Deltas hold no tombstones, so an attribution that compares
    a url's delta rows across epochs sees A -> A and drops the
    re-insert."""
    import datetime as dt

    t = lambda m: dt.datetime(2026, 3, 1) + dt.timedelta(minutes=m)
    A = b"<html>same bytes before and after the delete</html>" * 8
    schema = ("url string, warc_ts timestamp, lsn long, op string, "
              "html binary, text string, lang string")
    epochs = [
        [("u1", t(0), 1, "I", A, "a", "en")],
        [("u1", t(10), 2, "D", None, None, "en")],
        [("u1", t(20), 3, "I", A, "a", "en")],
    ]
    wal_dir = str(tmp_path / "wal")
    _write_epochs(spark, wal_dir, epochs, schema)
    _mk_mor_job(spark, tmp_path, 2).run(wal_dir, [0, 1, 2])
    rows = _metric_rows(spark, f"{tmp_path}/metrics")
    assert _hist_rows(spark, f"{tmp_path}/metrics") == (
        _expected_hist(0, A) + _expected_hist(2, A))
    assert _decisions(rows) == {(0, "insert"): 1, (1, "delete"): 1,
                                (2, "insert"): 1}
