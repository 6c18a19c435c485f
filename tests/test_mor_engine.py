"""Merge-on-read lake: CDC semantics through the same oracle as the engine
tests in test_cdc_engine.py, writing only wide deltas per epoch; steady-state
vs observability-mode metrics parity; chunk-store maintenance.
"""

import pytest
from pyspark.sql import functions as F

from rust_chunking_spark.datagen import generate_wal
from rust_chunking_spark.engine import CdcIngestJob
from rust_chunking_spark.engine.lake import AppendOnlyTable, MorBucketedLake

from tests.test_cdc_engine import (
    _assert_matches_oracle,
    _write_wal,
)

N_EPOCHS = 6
EVENTS_PER_EPOCH = 60
# The parity tests below keep the lake mode in their ids; merge-on-read is
# the only mode the engine has.
LAKE_MODES = ["mor"]


@pytest.fixture(scope="module")
def wal():
    return generate_wal(n_pages=0, n_epochs=N_EPOCHS,
                        events_per_epoch=EVENTS_PER_EPOCH, seed=7)


def _mk_mor_job(spark, tmp, algo="super"):
    lake = MorBucketedLake(f"{tmp}/lake", n_buckets=8)
    return CdcIngestJob(spark, lake, AppendOnlyTable(f"{tmp}/chunks"),
                        AppendOnlyTable(f"{tmp}/metrics"), algo=algo)


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


def test_steady_state_chunk_store_delta_appends(spark, wal, tmp_path):
    """collect_metrics=False does ZERO per-epoch chunk-store work (neither
    the O(store) anti-join nor a per-epoch append scales); flush() folds all
    pending epochs into one delta append, and chunk_store_current() is the
    deduplicated read that recovers global uniqueness and still covers all
    live content. The store manifest records deduped=false (mode flag)."""
    _write_wal(spark, wal, str(tmp_path / "wal"))
    lake = MorBucketedLake(f"{tmp_path}/lake", n_buckets=8)
    store = AppendOnlyTable(f"{tmp_path}/chunks")
    job = CdcIngestJob(spark, lake, store,
                       AppendOnlyTable(f"{tmp_path}/metrics"),
                       collect_metrics=False)
    job.run(str(tmp_path / "wal"), list(range(N_EPOCHS)))
    # nothing hits the store until flush (deferred), then one append commits
    # every epoch's marker
    assert store.committed_epochs() == set()
    job.flush()
    assert store.committed_epochs() == set(range(N_EPOCHS))
    assert store.props().get("deduped") is False
    cur = job.chunk_store_current()
    assert cur.count() == cur.select("chunk_hash").distinct().count() > 0
    live = lake.read(spark).filter(~F.col("deleted"))
    live_hashes = (live.select(F.explode("chunks").alias("c"))
                   .select(F.col("c.hash").alias("chunk_hash")).distinct())
    assert live_hashes.join(cur, "chunk_hash", "left_anti").count() == 0
    # first_seen_epoch is the EARLIEST sighting even across delta re-appends
    assert cur.agg(F.min("first_seen_epoch")).collect()[0][0] == 0


def test_chunk_store_compact(spark, wal, tmp_path):
    """ChunkStore.compact() folds N steady-state delta files into ONE whose
    content equals current() before compaction — same hashes, same min
    first_seen_epoch — restoring the deduped=true contract while committed
    epochs survive (VERDICT r2 #4)."""
    from rust_chunking_spark.engine.lake import ChunkStore

    _write_wal(spark, wal, str(tmp_path / "wal"))
    lake = MorBucketedLake(f"{tmp_path}/lake", n_buckets=8)
    store = ChunkStore(f"{tmp_path}/chunks")
    job = CdcIngestJob(spark, lake, store,
                       AppendOnlyTable(f"{tmp_path}/metrics"),
                       collect_metrics=False)
    half = N_EPOCHS // 2
    job.run(str(tmp_path / "wal"), list(range(half)))
    job.flush()
    job.run(str(tmp_path / "wal"), list(range(half, N_EPOCHS)))
    job.flush()
    snap = store.current_snapshot()
    assert len(snap["files"]["0"]) == 2
    assert store.props().get("deduped") is False
    before = {bytes(r.chunk_hash): (r.len, r.first_seen_epoch)
              for r in store.current(spark).collect()}
    assert min(e for _, e in before.values()) == 0

    folded = store.compact(spark)
    assert folded == 2
    snap2 = store.current_snapshot()
    assert len(snap2["files"]["0"]) == 1
    assert store.props().get("deduped") is True
    assert store.committed_epochs() == set(range(N_EPOCHS))
    # raw read is now globally unique AND identical to the pre-compact view
    raw = store.read(spark)
    assert raw.count() == raw.select("chunk_hash").distinct().count()
    after = {bytes(r.chunk_hash): (r.len, r.first_seen_epoch)
             for r in raw.collect()}
    assert after == before
    # compact is idempotent at target
    assert store.compact(spark) == 0


def _metric_rows(spark, path):
    rows = AppendOnlyTable(path).read(spark).collect()
    return sorted((int(r.epoch), r.decision, int(r.bucket), int(r.cnt))
                  for r in rows)


VERDICT_FIELDS = ("events_seen", "applied_insert", "applied_update",
                  "applied_delete", "skipped_noop", "skipped_late",
                  "skipped_duplicate")


@pytest.mark.parametrize("mode", LAKE_MODES)
def test_metrics_mode_parity_collect_vs_steady(spark, wal, tmp_path, mode):
    """collect_metrics=True and =False must commit IDENTICAL metrics-table
    rows — per-(bucket, decision) lineage AND chunk-length histograms — and
    identical per-epoch verdict fields, on the same WAL (ADVICE r3 #3).
    Histogram parity additionally proves the steady-state flush counts
    APPLIED rows only (ADVICE r3 #2): no-op recrawls never reach the delta
    it counts."""
    _write_wal(spark, wal, str(tmp_path / "wal"))
    jobs = {}
    for tag, collect in (("obs", True), ("steady", False)):
        job = CdcIngestJob(
            spark, MorBucketedLake(f"{tmp_path}/{tag}/lake", n_buckets=8),
            AppendOnlyTable(f"{tmp_path}/{tag}/chunks"),
            AppendOnlyTable(f"{tmp_path}/{tag}/metrics"),
            collect_metrics=collect)
        jobs[tag] = (job, job.run(str(tmp_path / "wal"), list(range(N_EPOCHS))))
        job.flush()
    res_a, res_b = jobs["obs"][1], jobs["steady"][1]
    for ma, mb in zip(res_a, res_b):
        for f in VERDICT_FIELDS:
            assert getattr(ma, f) == getattr(mb, f), (ma.epoch, f)
    assert (_metric_rows(spark, f"{tmp_path}/obs/metrics")
            == _metric_rows(spark, f"{tmp_path}/steady/metrics"))
    # below the observe bound, steady state must NOT have run the
    # dedicated lineage action (the 3-actions/epoch throughput shape)
    assert "decide_collect" not in jobs["steady"][0].last_phase_timings


def test_steady_lineage_bounded_above_obs_bucket_limit(spark, tmp_path):
    """>obs_lineage_max_buckets dirty buckets: the steady-state MoR epoch
    must NOT build the 7 x |dirty| observe expression tree (VERDICT r3 #1 —
    it explodes planning at the 10^3-10^4 buckets of a 100x lake); it falls
    back to the skinny _collect_lineage groupBy, with lineage output and
    verdict fields identical to observability mode."""
    import datetime as dt

    n_urls, n_buckets = 1500, 1024
    events = [{"url": f"https://ex{u:05d}.test/p", "op": "I",
               "warc_ts": dt.datetime(2026, 1, 1) + dt.timedelta(minutes=u),
               "lsn": u + 1, "html": (b"<html>%05d</html>" % u) * 20,
               "text": f"doc {u}", "lang": "en"} for u in range(n_urls)]
    wal_dir = str(tmp_path / "wal")
    spark.createDataFrame(events).write.mode("overwrite").parquet(
        f"{wal_dir}/epoch=000000")

    jobs = {}
    for tag, collect in (("obs", True), ("steady", False)):
        job = CdcIngestJob(
            spark, MorBucketedLake(f"{tmp_path}/{tag}/lake",
                                   n_buckets=n_buckets),
            AppendOnlyTable(f"{tmp_path}/{tag}/chunks"),
            AppendOnlyTable(f"{tmp_path}/{tag}/metrics"),
            collect_metrics=collect)
        res = job.run(wal_dir, [0])
        job.flush()
        jobs[tag] = (job, res[0])
    steady_job, m = jobs["steady"]
    # the scenario is real: well above the observe bound
    rows = _metric_rows(spark, f"{tmp_path}/steady/metrics")
    dirty = {b for _, d, b, _ in rows if d == "insert"}
    assert len(dirty) > 512 > steady_job.obs_lineage_max_buckets
    # fallback engaged: the dedicated lineage action ran
    assert "decide_collect" in steady_job.last_phase_timings
    assert m.applied_insert == n_urls
    for f in VERDICT_FIELDS:
        assert getattr(m, f) == getattr(jobs["obs"][1], f)
    assert rows == _metric_rows(spark, f"{tmp_path}/obs/metrics")


def test_chunk_store_expire_collects_compacted_orphans(spark, wal, tmp_path):
    """compact() supersedes the delta append dirs but leaves them on disk;
    expire_snapshots() must reclaim them — afterwards only live data dirs
    remain and the store reads identically (VERDICT r3 #8)."""
    import os

    from rust_chunking_spark.engine.lake import ChunkStore

    _write_wal(spark, wal, str(tmp_path / "wal"))
    lake = MorBucketedLake(f"{tmp_path}/lake", n_buckets=8)
    store = ChunkStore(f"{tmp_path}/chunks")
    job = CdcIngestJob(spark, lake, store,
                       AppendOnlyTable(f"{tmp_path}/metrics"),
                       collect_metrics=False)
    half = N_EPOCHS // 2
    job.run(str(tmp_path / "wal"), list(range(half)))
    job.flush()
    job.run(str(tmp_path / "wal"), list(range(half, N_EPOCHS)))
    job.flush()
    assert store.compact(spark) == 2
    data_dir = f"{tmp_path}/chunks/data"
    assert len(os.listdir(data_dir)) == 3   # 2 superseded deltas + compacted
    before = {bytes(r.chunk_hash): (r.len, r.first_seen_epoch)
              for r in store.read(spark).collect()}

    removed = store.expire_snapshots(keep_last=1)
    assert removed == 2
    live = store.current_snapshot()["files"]["0"]
    assert sorted(os.listdir(data_dir)) == sorted(live) and len(live) == 1
    after = {bytes(r.chunk_hash): (r.len, r.first_seen_epoch)
             for r in store.read(spark).collect()}
    assert after == before
    assert store.committed_epochs() == set(range(N_EPOCHS))
    assert store.props().get("deduped") is True


def _write_epochs(spark, wal_dir, epochs, schema=None):
    for ep, events in enumerate(epochs):
        spark.createDataFrame(events, schema).write.mode(
            "overwrite").parquet(f"{wal_dir}/epoch={ep:06d}")


def _hist_rows(spark, path):
    return [r for r in _metric_rows(spark, path) if r[1] == "chunk_len_hist"]


def _obs_vs_steady(spark, tmp_path, wal_dir, epochs, n_buckets):
    """Replay ``epochs`` once per metrics mode (one flush window each);
    returns the (observability, steady-state) metrics-table rows."""
    rows = {}
    for tag, collect in (("obs", True), ("steady", False)):
        job = CdcIngestJob(
            spark, MorBucketedLake(f"{tmp_path}/{tag}/lake",
                                   n_buckets=n_buckets),
            AppendOnlyTable(f"{tmp_path}/{tag}/chunks"),
            AppendOnlyTable(f"{tmp_path}/{tag}/metrics"),
            collect_metrics=collect)
        job.run(wal_dir, epochs)
        job.flush()
        rows[tag] = _metric_rows(spark, f"{tmp_path}/{tag}/metrics")
    return rows["obs"], rows["steady"]


@pytest.mark.parametrize("mode", LAKE_MODES)
def test_flush_histogram_parity_on_resumed_replay(spark, tmp_path, mode):
    """ADVICE r4 #1: a RESUMED replay (epochs 0-1 flushed by one job, 2-3
    by a second) must produce the same per-epoch flush histograms as
    observability mode. The second window's first epoch is a literal no-op
    re-crawl of pre-window content (must not count) and its last a revert
    to pre-window content (must count)."""
    import datetime as dt

    t = lambda m: dt.datetime(2026, 3, 1) + dt.timedelta(minutes=m)
    A = b"<html>first content body AAAA</html>" * 8
    B = b"<html>second content body BB</html>" * 8
    Z = b"<html>steady content zzzz</html>" * 8
    epochs = [
        # window 1
        [dict(url="u1", warc_ts=t(0), lsn=1, op="I", html=A, text="a", lang="en"),
         dict(url="u2", warc_ts=t(1), lsn=2, op="I", html=Z, text="z", lang="en")],
        [dict(url="u1", warc_ts=t(10), lsn=3, op="U", html=B, text="b", lang="en")],
        # window 2 (resume): u2 re-crawled with UNCHANGED content (no-op —
        # must not count)
        [dict(url="u2", warc_ts=t(20), lsn=4, op="U", html=Z, text="z", lang="en")],
        # window 2: revert u1 to pre-window content A (must count)
        [dict(url="u1", warc_ts=t(30), lsn=5, op="U", html=A, text="a", lang="en")],
    ]
    wal_dir = str(tmp_path / "wal")
    _write_epochs(spark, wal_dir, epochs)

    obs = CdcIngestJob(
        spark, MorBucketedLake(f"{tmp_path}/obs/lake", n_buckets=2),
        AppendOnlyTable(f"{tmp_path}/obs/chunks"),
        AppendOnlyTable(f"{tmp_path}/obs/metrics"), collect_metrics=True)
    obs.run(wal_dir, [0, 1, 2, 3])

    mk = lambda: CdcIngestJob(
        spark, MorBucketedLake(f"{tmp_path}/ss/lake", n_buckets=2),
        AppendOnlyTable(f"{tmp_path}/ss/chunks"),
        AppendOnlyTable(f"{tmp_path}/ss/metrics"), collect_metrics=False)
    j1 = mk()
    j1.run(wal_dir, [0, 1])
    j1.flush()
    j2 = mk()                                   # resume in a fresh process
    j2.run(wal_dir, [2, 3])
    j2.flush()

    ss_h = _hist_rows(spark, f"{tmp_path}/ss/metrics")
    assert ss_h == _hist_rows(spark, f"{tmp_path}/obs/metrics")
    # and the histogram epochs are exactly the content-applying ones
    assert {e for e, *_ in ss_h} == {0, 1, 3}


@pytest.mark.parametrize("mode", LAKE_MODES)
def test_flush_histogram_ignores_orphan_snapshot(spark, tmp_path, mode):
    """ADVICE r5 #4: a crash between _commit's snapshot write and the
    CURRENT flip leaves an orphan v*.json ABOVE the CURRENT pointer —
    never-committed state that a resumed flush must not read. Here the
    orphan is a stale copy of the epoch-0 state (u1 = content A); a flush
    that consulted it would take the window's revert-to-A for a no-op and
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
        # window 2 (resume): revert to pre-window content A — applied
        [dict(url="u1", warc_ts=t(20), lsn=3, op="U", html=A, text="a",
              lang="en")],
    ]
    wal_dir = str(tmp_path / "wal")
    _write_epochs(spark, wal_dir, epochs)

    obs = CdcIngestJob(
        spark, MorBucketedLake(f"{tmp_path}/obs/lake", n_buckets=2),
        AppendOnlyTable(f"{tmp_path}/obs/chunks"),
        AppendOnlyTable(f"{tmp_path}/obs/metrics"), collect_metrics=True)
    obs.run(wal_dir, [0, 1, 2])

    mk = lambda: CdcIngestJob(
        spark, MorBucketedLake(f"{tmp_path}/ss/lake", n_buckets=2),
        AppendOnlyTable(f"{tmp_path}/ss/chunks"),
        AppendOnlyTable(f"{tmp_path}/ss/metrics"), collect_metrics=False)
    j1 = mk()
    j1.run(wal_dir, [0, 1])
    j1.flush()

    # plant the orphan: the snapshot whose committed_epochs == [0] (u1=A),
    # re-versioned above CURRENT, exactly what a crashed commit leaves
    snap_dir = os.path.join(f"{tmp_path}/ss/lake", "snapshots")
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

    j2 = mk()                                   # resume in a fresh process
    j2.run(wal_dir, [2])
    j2.flush()

    ss_h = _hist_rows(spark, f"{tmp_path}/ss/metrics")
    assert ss_h == _hist_rows(spark, f"{tmp_path}/obs/metrics")
    assert {e for e, *_ in ss_h} == {0, 1, 2}   # the revert epoch counted


@pytest.mark.parametrize("mode", LAKE_MODES)
def test_flush_histogram_counts_reverted_content(spark, tmp_path, mode):
    """A revert (content A -> B -> A across three epochs) is an APPLIED
    update in its own epoch; the steady-state flush histogram must count it
    there — fp-collapsing across the whole window would attribute it to the
    first epoch (code-review r4 finding #2). No-op re-crawls (same fp as
    the url's previous version) must still be excluded. Exact parity with
    observability mode is the oracle."""
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
    obs, steady = _obs_vs_steady(spark, tmp_path, wal_dir, [0, 1, 2, 3],
                                 n_buckets=4)
    assert steady == obs
    # revert epoch (3) has histogram mass; noop-only epoch (2) has none
    assert {e for e, d, _, _ in steady if d == "chunk_len_hist"} == {0, 1, 3}


def test_flush_histogram_counts_reinsert_after_delete(spark, tmp_path):
    """Delete, then re-insert of IDENTICAL content, inside one flush window:
    the re-insert is an applied insert in its own epoch, so steady state
    must write that epoch's chunk-length histogram exactly as
    observability mode does. Deltas hold no tombstones, so an attribution
    that compares a url's delta rows across epochs sees A -> A and drops
    the re-insert."""
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
    obs, steady = _obs_vs_steady(spark, tmp_path, wal_dir, [0, 1, 2],
                                 n_buckets=2)
    assert steady == obs
    assert {e for e, d, _, _ in steady if d == "chunk_len_hist"} == {0, 2}
