"""End-to-end CDC replay: final lake state must equal the plain-Python oracle.

Covers the north_rule requirements: exactly-once MERGE under replay, LWW by
(warc_ts, lsn), no-op / duplicate / late-arrival skipping, deletes with
tombstones, additive schema evolution, resume-from-checkpoint reconvergence,
and the byte-identical-text invariant.
"""

import pytest
from pyspark.sql import functions as F

from rust_chunking_spark.datagen import (
    expected_final_state,
    extract_text,
    generate_wal,
)
from rust_chunking_spark.engine import CdcIngestJob, MorBucketedLake
from rust_chunking_spark.engine.lake import AppendOnlyTable

N_EPOCHS = 6
EVENTS_PER_EPOCH = 60


@pytest.fixture(scope="module")
def wal():
    return generate_wal(n_pages=0, n_epochs=N_EPOCHS,
                        events_per_epoch=EVENTS_PER_EPOCH, seed=7)


def _write_wal(spark, wal, path):
    for ep, events in enumerate(wal):
        rows = [{k: v for k, v in e.items()} for e in events]
        df = spark.createDataFrame(rows)
        df.write.mode("overwrite").parquet(f"{path}/epoch={ep:06d}")


def _mk_job(spark, tmp, algo="super"):
    lake = MorBucketedLake(f"{tmp}/lake", n_buckets=8)
    store = AppendOnlyTable(f"{tmp}/chunks")
    metrics = AppendOnlyTable(f"{tmp}/metrics")
    return CdcIngestJob(spark, lake, store, metrics, algo=algo)


def _final_state_dict(spark, lake):
    df = lake.read(spark)
    rows = df.filter(~F.col("deleted")).collect()
    return {r.url: r for r in rows}


def _assert_matches_oracle(spark, lake, wal):
    oracle = expected_final_state(wal)
    got = _final_state_dict(spark, lake)
    assert set(got) == set(oracle)
    for url, exp in oracle.items():
        row = got[url]
        assert bytes(row.html) == exp["html"], url
        assert row.text == exp["text"], url
        # byte-identical extracted text invariant (input_hint)
        assert extract_text(bytes(row.html)) == exp["text"], url
        assert row.warc_ts.replace(tzinfo=None) == exp["warc_ts"].replace(tzinfo=None), url
        assert row.lsn == exp["lsn"], url
        if "fetch_status" in exp:
            assert row.fetch_status == exp["fetch_status"], url


def test_full_replay_matches_oracle(spark, wal, tmp_path):
    _write_wal(spark, wal, str(tmp_path / "wal"))
    job = _mk_job(spark, str(tmp_path))
    results = job.run(str(tmp_path / "wal"), list(range(N_EPOCHS)))
    assert len(results) == N_EPOCHS
    _assert_matches_oracle(spark, job.lake, wal)

    # lineage sanity: every epoch saw its events and skips were recorded
    total_seen = sum(m.events_seen for m in results)
    assert total_seen == sum(len(e) for e in wal)
    assert sum(m.skipped_noop for m in results) > 0
    assert (sum(m.skipped_duplicate for m in results)
            + sum(m.in_batch_superseded for m in results)) > 0
    assert sum(m.skipped_late for m in results) > 0
    assert sum(m.applied_delete for m in results) > 0

    # chunk-store dedup: no-op and unchanged content must dedup chunks
    total = sum(m.chunks_total for m in results)
    new = sum(m.chunks_new for m in results)
    assert 0 < new <= total

    # metrics table has per-bucket lineage rows for each epoch
    mt = job.metrics.read(spark)
    eps = {r.epoch for r in mt.select("epoch").distinct().collect()}
    assert eps == set(range(N_EPOCHS))


def test_replay_is_idempotent(spark, wal, tmp_path):
    _write_wal(spark, wal, str(tmp_path / "wal"))
    job = _mk_job(spark, str(tmp_path))
    job.run(str(tmp_path / "wal"), list(range(N_EPOCHS)))
    v1 = job.lake.current_snapshot()["version"]
    # replaying every epoch again must be a pure no-op (exactly-once)
    again = job.run(str(tmp_path / "wal"), list(range(N_EPOCHS)))
    assert again == []
    assert job.lake.current_snapshot()["version"] == v1
    _assert_matches_oracle(spark, job.lake, wal)


def test_resume_from_checkpoint(spark, wal, tmp_path):
    """Simulated crash after epoch 2: a fresh job resumes and reconverges."""
    _write_wal(spark, wal, str(tmp_path / "wal"))
    job = _mk_job(spark, str(tmp_path))
    job.run(str(tmp_path / "wal"), [0, 1, 2])
    # "crash" -> new job instance over the same storage; replays from 0
    job2 = _mk_job(spark, str(tmp_path))
    results = job2.run(str(tmp_path / "wal"), list(range(N_EPOCHS)))
    assert [m.epoch for m in results] == [3, 4, 5]   # 0-2 skipped via markers
    _assert_matches_oracle(spark, job2.lake, wal)


def test_schema_evolution_additive(spark, wal, tmp_path):
    """fetch_status appears mid-replay; earlier rows read as null."""
    _write_wal(spark, wal, str(tmp_path / "wal"))
    job = _mk_job(spark, str(tmp_path))
    job.run(str(tmp_path / "wal"), list(range(N_EPOCHS)))
    df = job.lake.read(spark)
    assert "fetch_status" in df.columns
    live = df.filter(~F.col("deleted"))
    n_null = live.filter(F.col("fetch_status").isNull()).count()
    n_set = live.filter(F.col("fetch_status").isNotNull()).count()
    assert n_set > 0 and n_null > 0   # both pre- and post-evolution rows present


def test_chunk_store_consistency(spark, wal, tmp_path):
    """Chunk store holds exactly the distinct chunk hashes of all live+dead content."""
    _write_wal(spark, wal, str(tmp_path / "wal"))
    job = _mk_job(spark, str(tmp_path))
    job.run(str(tmp_path / "wal"), list(range(N_EPOCHS)))
    store = job.chunk_store.read(spark)
    n = store.count()
    nd = store.select("chunk_hash").distinct().count()
    assert n == nd > 0   # append path never duplicates a hash


def test_lww_uid_stable_under_recomputation(spark, tmp_path):
    """The LWW tie-break uid must be identical when the event scan is
    re-executed (the join-back recomputes it): for file sources it derives
    from (_metadata.file_path, row_index), not from partition-dependent
    monotonically_increasing_id."""
    rows = [{"url": f"u{i % 3}", "lsn": i, "op": "U"} for i in range(30)]
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows).repartition(4).write.parquet(src)
    ev = CdcIngestJob._with_uid(spark.read.parquet(src))
    a = sorted(r[0] for r in ev.select("__uid").collect())
    b = sorted(r[0] for r in ev.select("__uid").collect())
    assert a == b
    assert len(set(a)) == len(rows)   # unique per event


def test_kafka_style_source_prepopulated_uid(spark, wal, tmp_path):
    """The documented non-file-source contract (ingest.py:_with_uid): a
    source that pre-populates __uid — as a Kafka reader must, from
    (partition, offset) — is used AS-IS, and no winner rows are dropped by
    the LWW join-back even though the source has no _metadata columns.
    Verifies the contract VERDICT r2 #6 flagged as documented-but-untested."""
    job = _mk_job(spark, str(tmp_path))
    for ep, events in enumerate(wal):
        # kafka-like identity: (partition, offset) -> stable 64-bit uid,
        # assigned BEFORE the engine sees the rows
        rows = [{**e, "__uid": (i % 4) * 1_000_000 + i}
                for i, e in enumerate(events)]
        df = spark.createDataFrame(rows)
        m = job.apply_epoch(df, ep)
        assert m is not None
        assert m.events_seen == len(events)
    _assert_matches_oracle(spark, job.lake, wal)


def test_engine_supercdc_record_seeding(spark, tmp_path):
    """records= threads a SuperCDC seed map through the ENGINE's fused
    content UDF: every stored row's chunk boundaries equal the local seeded
    kernel (fresh copy per row — Chunker::with_records semantics,
    supercdc.rs:49-59), and at least one row differs from unseeded chunking
    (the seed map demonstrably flowed into ingest)."""
    import datetime

    import numpy as np

    from rust_chunking_spark.functions.chunking import extract_super_records
    from rust_chunking_spark.kernels import vectorized as V

    rng = np.random.default_rng(23)
    seed_docs = [rng.integers(0, 256, 20000, dtype=np.uint8).tobytes()
                 for _ in range(3)]
    htmls = [seed_docs[0],
             seed_docs[1][:15000] + seed_docs[2][:5000],
             rng.integers(0, 4, 30000, dtype=np.uint8).tobytes()]
    params = dict(min_size=2048, avg_size=4096, max_size=32768)
    seed = extract_super_records(seed_docs, **params)
    assert seed

    lake = MorBucketedLake(f"{tmp_path}/lake", n_buckets=4)
    job = CdcIngestJob(spark, lake, AppendOnlyTable(f"{tmp_path}/chunks"),
                       AppendOnlyTable(f"{tmp_path}/metrics"),
                       algo="super", chunk_params=params, records=seed)
    events = [{"url": f"https://ex.com/{i}", "op": "I", "lsn": i + 1,
               "warc_ts": datetime.datetime(2026, 1, 1, 0, i),
               "html": h, "text": f"t{i}", "lang": "en"}
              for i, h in enumerate(htmls)]
    job.apply_epoch(spark.createDataFrame(events), 0)

    got = {r.url: [(c.pos, c.len) for c in r.chunks]
           for r in lake.read(spark).collect()}
    any_diff = False
    for i, h in enumerate(htmls):
        exp_seeded = [(int(p), int(ln))
                      for p, ln in V.super_chunks(h, records=dict(seed),
                                                  **params)]
        exp_unseeded = [(int(p), int(ln))
                        for p, ln in V.super_chunks(h, **params)]
        assert got[f"https://ex.com/{i}"] == exp_seeded
        any_diff = any_diff or exp_seeded != exp_unseeded
    assert any_diff


def _chunk_len_hist(pages):
    """Chunk-length histogram of ``pages`` chunked by the numpy SuperCDC
    kernel, every chunk occurrence counted in its HIST_BUCKET bucket."""
    from collections import Counter

    from rust_chunking_spark.kernels import vectorized as V

    width = CdcIngestJob.HIST_BUCKET
    return dict(Counter(int(ln) // width * width
                        for p in pages for _, ln in V.super_chunks(p)))


def _expected_chunk_len_hist(wal, epoch):
    """Independent count of one epoch's chunk-length histogram over the
    pages the epoch applied: live after it, and new or changed against the
    state before it (a no-op recrawl applies nothing)."""
    before = expected_final_state(wal[:epoch])
    after = expected_final_state(wal[:epoch + 1])
    return _chunk_len_hist(
        ev["html"] for url, ev in after.items()
        if url not in before or before[url]["html"] != ev["html"])


def test_chunk_len_histogram_in_metrics(spark, wal, tmp_path):
    """Boundary-count histograms (north-star lineage item) land in the
    metrics table alongside the decision lineage, and each epoch's rows
    equal an independent count over the pages that epoch applied. Since
    the table's per-epoch commit marker no-ops repeat appends, this also
    guards the one-append-per-epoch merge (a split write would silently
    drop whichever half came second)."""
    wal_dir = str(tmp_path / "wal")
    _write_wal(spark, wal, wal_dir)
    job = _mk_job(spark, str(tmp_path))
    results = job.run(wal_dir, list(range(N_EPOCHS)))
    mt = job.metrics.read(spark).collect()
    assert job.metrics.committed_epochs() == set(range(N_EPOCHS))
    hist, lineage = {}, {}
    for r in mt:
        if r.decision == "chunk_len_hist":
            hist.setdefault(r.epoch, {})[r.bucket] = r.cnt
        else:
            per = lineage.setdefault(r.epoch, {})
            per[r.decision] = per.get(r.decision, 0) + r.cnt
    for m in results:
        assert hist.get(m.epoch, {}) == _expected_chunk_len_hist(wal, m.epoch)
        # histogram mass == chunk instances counted by the store update
        assert sum(hist.get(m.epoch, {}).values()) == m.chunks_total
        got = lineage[m.epoch]
        assert got.get("insert", 0) == m.applied_insert
        assert got.get("update", 0) == m.applied_update
        assert got.get("noop", 0) == m.skipped_noop
    assert sum(len(h) for h in hist.values()) > N_EPOCHS  # several buckets

    # one more epoch: two new urls carrying one live page's bytes, so every
    # chunk occurs twice in the epoch and is already in the store. The
    # histogram counts occurrences, not distinct hashes; none of it is new.
    import datetime

    page = next(iter(expected_final_state(wal).values()))["html"]
    dup = [{"url": f"https://dup.test/{i}", "op": "I", "lsn": 10**6 + i,
            "warc_ts": datetime.datetime(2030, 1, 1), "html": page,
            "text": "dup", "lang": "en"} for i in range(2)]
    m = job.apply_epoch(spark.createDataFrame(dup), N_EPOCHS)
    once = _chunk_len_hist([page])
    got = {r.bucket: r.cnt for r in job.metrics.read(spark).collect()
           if r.epoch == N_EPOCHS and r.decision == "chunk_len_hist"}
    assert got == {b: 2 * c for b, c in once.items()}
    assert m.chunks_total == 2 * sum(once.values()) and m.chunks_new == 0
