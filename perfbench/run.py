"""CDC-ingest benchmark: one workload, one seed, one fresh Spark process.

    python3 perfbench/run.py --workload recrawl --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates a seeded WAL, loads the
lake from its epoch 0 (untimed), applies one warm epoch of the workload
(timed into set-up only), then replays the timed epochs in a closed loop
(each epoch is read and applied only after the previous one committed)
and flushes once, through the same public API ``ingest_cli`` uses. It
then checks the lake against a DuckDB last-writer-wins over the WAL and
prints one JSON line as the last line of stdout. ``--trace 1`` turns on the Spark event log and adds the per-layer
figures; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import layers
import oracle
import walgen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Both replay workloads load the same lake (epoch 0 depends only on the
#: seed) and apply the same number of events; they differ only in the
#: event mix (walgen.MIXES).
LAKE_PAGES = 1000
#: the warm epoch has the timed epochs' size and mix
EPOCH_EVENTS = 900
TIMED_EPOCHS = 2
N_BUCKETS = 32          # ingest_cli's default
SCAN_REPEATS = 2
DRIVER_MEM = "3g"
#: kernel and UDF layer benchmarks run on this many of the workload's pages
LAYER_PAGES = 200

T_START = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}] {msg}",
          file=sys.stderr, flush=True)


def _host() -> dict:
    with open("/proc/meminfo") as f:
        mem = {ln.split(":")[0]: int(ln.split()[1]) for ln in f}
    return {"nproc": len(os.sched_getaffinity(0)),
            "load1": os.getloadavg()[0],
            "mem_avail_mb": mem["MemAvailable"] // 1024}


def _control_env(work: str, nproc: int, trace: bool) -> dict:
    """Fix the knobs that move results between runs; return them."""
    env = {
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for k in ("SPARK_GRAFT_EVENT_LOG_DIR", "SPARK_GRAFT_PARQUET_CODEC",
              "SPARK_GRAFT_LAKE"):
        os.environ.pop(k, None)
    if trace:
        env["SPARK_GRAFT_EVENT_LOG_DIR"] = os.path.join(work, "eventlog")
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    return env


def replay(workload: str, seed: int, trace: bool, work: str,
           nproc: int) -> dict:
    sys.path.insert(0, ROOT)
    from rust_chunking_spark.engine import (CdcIngestJob, ChunkStore,
                                            MorBucketedLake)
    from rust_chunking_spark.engine.lake import AppendOnlyTable
    from rust_chunking_spark.session import get_spark
    from rust_chunking_spark.sources.wal import WalSource

    wal_dir = os.path.join(work, "wal")
    last = 1 + TIMED_EPOCHS
    writer = walgen.WalWriter(wal_dir, workload, seed, LAKE_PAGES,
                              [EPOCH_EVENTS] * last)
    env = _control_env(work, nproc, trace)
    src = WalSource(wal_dir)
    lake_root = os.path.join(work, "lake")
    out: dict = {"metrics": {}, "layers": {}, "failed": 0,
                 "attempted": last + 1}
    m, lay = out["metrics"], out["layers"]

    with layers.RssSampler() as rss, \
            concurrent.futures.ThreadPoolExecutor(1) as pool:
        # the WAL is written while the JVM starts (the session start waits
        # on another process) and while the untimed lake load runs
        head_wal = pool.submit(writer.write, 0)
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", cpus=nproc,
            extra_conf={"spark.eventLog.compress": "false",
                        "spark.ui.showConsoleProgress": "false",
                        "spark.driver.extraJavaOptions":
                            f"-Djava.io.tmpdir={env['TMPDIR']} "
                            f"-Xms{DRIVER_MEM} -XX:-UsePerfData"})
        session_s = time.perf_counter() - t0
        try:
            head_wal.result()
            timed_wal = pool.submit(writer.write, last)
            lake = MorBucketedLake(f"{lake_root}/lake", n_buckets=N_BUCKETS)
            job = CdcIngestJob(spark, lake,
                               ChunkStore(f"{lake_root}/chunks"),
                               AppendOnlyTable(f"{lake_root}/metrics"),
                               algo="super")
            t0 = time.perf_counter()
            job.apply_epoch(src.read_epoch(spark, 0), 0)
            load_s = time.perf_counter() - t0
            timed_wal.result()
            t0 = time.perf_counter()
            job.apply_epoch(src.read_epoch(spark, 1), 1)
            warm_s = time.perf_counter() - t0
            _log(f"session {session_s:.1f}s, load {load_s:.1f}s, "
                 f"warm {warm_s:.1f}s {job.last_phase_timings}")

            timed = list(range(2, last + 1))
            epoch_s, windows, phases, counts = [], [], [], []
            for ep in timed:
                w0, t0 = time.time(), time.perf_counter()
                r = job.apply_epoch(src.read_epoch(spark, ep), ep)
                epoch_s.append(time.perf_counter() - t0)
                windows.append((w0, time.time()))
                phases.append(dict(job.last_phase_timings))
                counts.append(r)
                _log(f"epoch {ep} {epoch_s[-1]:.2f}s {phases[-1]}")
            t0 = time.perf_counter()
            job.flush()
            flush_s = time.perf_counter() - t0

            scans = []
            for _ in range(SCAN_REPEATS):
                t0 = time.perf_counter()
                lake.read(spark).write.format("noop").mode("overwrite").save()
                scans.append(time.perf_counter() - t0)
            _log(f"flush {flush_s:.2f}s scans {scans}")

            m["setup_s"] = session_s + warm_s
            m["events_per_s"] = (EPOCH_EVENTS * len(epoch_s)
                                 / (sum(epoch_s) + flush_s))
            m["epoch_s_p50"] = statistics.median(epoch_s)
            m["scan_s"] = statistics.median(scans)

            # ------------------------------------------ correctness (untimed)
            got_n, got_dig, live_bytes = oracle.lake_state(spark, lake)
            want_n, want_dig = oracle.expected_state(wal_dir, last, nproc)
            checks = {
                "rows": got_n == want_n,
                "digest": got_dig == want_dig,
                "committed_once": (lake.current_snapshot()["committed_epochs"]
                                   == list(range(last + 1))),
                "events_seen": all(c.events_seen == EPOCH_EVENTS
                                   for c in counts),
            }
            out["checks"] = checks
            _log(f"checked {checks}")
            if not all(checks.values()):
                _log(f"correctness mismatch; lake rows {got_n}, "
                     f"expected {want_n}")
                out["failed"] = last + 1

            if trace:
                lay.update(_engine_layers(spark, job, lake, src, timed,
                                          phases, counts, flush_s,
                                          live_bytes))
                lay["setup.session_s"] = session_s
                lay["setup.warm_s"] = warm_s
                lay["setup.load_s"] = load_s
                for k in ("setup_s", "events_per_s", "epoch_s_p50", "scan_s"):
                    lay[f"trace.{k}"] = m[k]
        finally:
            spark.stop()
            _stop_jvm()
    m["peak_rss_mb"] = rss.peak / 1e6
    out["wal_digest"] = writer.digest
    _log("spark stopped")

    if trace:
        lay.update(layers.epoch_task_stats(env["SPARK_GRAFT_EVENT_LOG_DIR"],
                                           windows, nproc))
        pages = _layer_pages(wal_dir, last)
        lay.update(layers.kernel_and_udf_rates(pages))
    return out


def _stop_jvm() -> None:
    """End the JVM pyspark launched (it exits when its stdin closes) and
    wait until no process this run started is left."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while layers.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _engine_layers(spark, job, lake, src, timed, phases, counts, flush_s,
                   live_bytes) -> dict:
    out = {}
    for key in sorted({k for p in phases for k in p}):
        out[f"epoch.{key}_s"] = statistics.median(p.get(key, 0.0)
                                                  for p in phases)
    out["flush_s"] = flush_s
    out["engine.events_seen"] = sum(c.events_seen for c in counts)
    out["engine.chunked_rows"] = sum(c.applied_insert + c.applied_update
                                     for c in counts)
    out["engine.noop_rows"] = sum(c.skipped_noop for c in counts)
    out["engine.superseded_rows"] = sum(c.in_batch_superseded
                                        for c in counts)
    total = sum(c.chunks_total for c in counts)
    out["chunks.dedup_ratio"] = (sum(c.chunks_new for c in counts) / total
                                 if total else 1.0)
    n_files, n_bytes = layers.lake_files(lake.path, lake.current_snapshot())
    out["lake.files"] = n_files
    out["lake.bytes_per_live_byte"] = n_bytes / live_bytes
    out["chunks.store_rows"] = job.chunk_store.read(spark).count()
    scans = []
    for ep in timed:
        t0 = time.perf_counter()
        src.read_epoch(spark, ep).write.format("noop").mode("overwrite").save()
        scans.append(time.perf_counter() - t0)
    out["wal.scan_s"] = statistics.median(scans)
    return out


def _layer_pages(wal_dir: str, epoch: int) -> list[bytes]:
    """The first LAYER_PAGES non-null html values of one WAL segment."""
    import pyarrow.parquet as pq

    col = pq.read_table(os.path.join(wal_dir, f"epoch={epoch:06d}"),
                        columns=["html"]).column("html").to_pylist()
    return [h for h in col if h is not None][:LAYER_PAGES]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(walgen.MIXES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15,
                    help="nominal timed length; the timed work is fixed "
                         "(TIMED_EPOCHS x EPOCH_EVENTS) and sized to about "
                         "this on a 4-vCPU host")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    nproc = len(os.sched_getaffinity(0))
    host0 = _host()
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        res = replay(args.workload, args.seed, bool(args.trace), work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)

    source = res["layers"] if args.trace else res["metrics"]
    missing = [s["name"] for s in wanted if s["name"] not in source]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    # the run's settings and host state, one line before the result
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "seconds": args.seconds, "trace": args.trace,
                      "host_start": host0,
                      "host_end": _host(),
                      "settings": {"master": f"local[{nproc}]",
                                   "driver_mem": DRIVER_MEM,
                                   "lake_pages": LAKE_PAGES,
                                   "epoch_events": EPOCH_EVENTS,
                                   "timed_epochs": TIMED_EPOCHS,
                                   "buckets": N_BUCKETS},
                      "checks": res["checks"],
                      "wal_digest": res["wal_digest"]}))
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {s["name"]: {"value": source[s["name"]], "unit": s["unit"]}
                    for s in wanted}}))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
