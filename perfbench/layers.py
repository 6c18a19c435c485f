"""Per-layer measurements, all taken from outside the program.

- ``RssSampler``: peak resident memory of the process tree under the
  benchmark (the JVM and its Python workers).
- ``epoch_task_stats``: Spark event-log task and job records, assigned to
  timed epochs by timestamp.
- ``kernel_and_udf_rates``: the chunking kernels and the ingest UDF body
  on the workload's own pages, in this process, no Spark.
- ``lake_files``: data files and bytes a lake snapshot references.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import statistics
import threading
import time

#: seconds between RSS samples; reading smaps_rollup walks the JVM's page
#: tables, so sampling faster would perturb the run it measures
RSS_SAMPLE_S = 0.5


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    """Every live process below `root` in the process tree."""
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of every descendant of `root` (not `root` itself).

    Uses the proportional set size, so pages that forked Python workers
    share with their parent are counted once, not once per worker."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the descendant tree's RSS; keeps the peak."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(RSS_SAMPLE_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ----------------------------------------------------------- event log

def _log_events(log_dir: str):
    """Every event of the one application log under `log_dir`. A rolling
    log (Spark's default) is a directory of ``events_<n>_...`` files."""
    (app,) = glob.glob(os.path.join(log_dir, "*"))
    paths = (sorted(glob.glob(os.path.join(app, "events_*")),
                    key=lambda p: int(os.path.basename(p).split("_")[1]))
             if os.path.isdir(app) else [app])
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def epoch_task_stats(log_dir: str, windows: list[tuple[float, float]],
                     cores: int) -> dict[str, float]:
    """Median per-epoch task statistics from a Spark event log.

    `windows` are the timed epochs' (start, end) wall clock seconds. A task
    belongs to the epoch whose window holds its launch time; a job to the
    one that holds its submission time.
    """
    tasks, jobs = [], []
    for ev in _log_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerTaskEnd":
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.append((info["Launch Time"] / 1e3,
                          info["Finish Time"] / 1e3,
                          sw.get("Shuffle Bytes Written", 0)))
        elif kind == "SparkListenerJobStart":
            jobs.append(ev["Submission Time"] / 1e3)
    per = {"task_s": [], "core_util": [], "driver_idle_s": [],
           "shuffle_write_mb": [], "jobs": []}
    for ws, we in windows:
        mine = sorted((a, min(b, we), w) for a, b, w in tasks if ws <= a < we)
        busy, cur_a, cur_b = 0.0, None, None
        for a, b, _ in mine:                     # union of task intervals
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        wall = we - ws
        task_s = sum(b - a for a, b, _ in mine)
        per["task_s"].append(task_s)
        per["core_util"].append(task_s / (wall * cores))
        per["driver_idle_s"].append(wall - busy)
        per["shuffle_write_mb"].append(sum(w for *_, w in mine) / 1e6)
        per["jobs"].append(sum(1 for t in jobs if ws <= t < we))
    return {f"epoch.{k}": statistics.median(v) for k, v in per.items()}


# -------------------------------------------------- kernels and UDF body

def kernel_and_udf_rates(pages: list[bytes], rounds: int = 7
                         ) -> dict[str, float]:
    """The seven kernels and the MoR ingest UDF body over `pages`.

    Calls are interleaved round-robin and each figure is the median of its
    rounds, so a slow patch of the host hits every figure alike and the
    ratios (``udf.kernel_share``) stay comparable."""
    import pandas as pd

    from rust_chunking_spark.functions.chunking import content_skip_udf
    from rust_chunking_spark.kernels.vectorized import ALGORITHMS

    body = content_skip_udf("super").func
    html = pd.Series(pages)
    changed = pd.Series([None] * len(pages), dtype=object)
    same = pd.Series([hashlib.sha3_256(p).digest() for p in pages])
    calls = {f"kernels.{name}": (lambda fn=fn: [fn(p) for p in pages])
             for name, fn in ALGORITHMS.items()}
    calls["udf.content"] = lambda: body(html, changed)   # changed pages
    calls["udf.skip"] = lambda: body(html, same)         # unchanged pages
    for _ in range(3):                           # warm caches and imports
        for call in calls.values():
            call()
    times: dict[str, list[float]] = {k: [] for k in calls}
    for _ in range(rounds):
        for k, call in calls.items():
            t0 = time.perf_counter()
            call()
            times[k].append(time.perf_counter() - t0)
    sec = {k: statistics.median(v) for k, v in times.items()}
    n_bytes = sum(map(len, pages))
    n_chunks = sum(len(ALGORITHMS["super"](p)) for p in pages)
    out = {f"{k}_mb_s": n_bytes / s / 1e6 for k, s in sec.items()}
    out["kernels.super_us_per_chunk"] = sec["kernels.super"] / n_chunks * 1e6
    out["udf.kernel_share"] = sec["kernels.super"] / sec["udf.content"]
    return out


# ---------------------------------------------------------------- lake

def lake_files(root: str, snap: dict) -> tuple[int, int]:
    """(parquet files, bytes) that a snapshot's file lists reference."""
    rels = [r for key in ("files", "meta_files")
            for lst in snap.get(key, {}).values() for r in lst]
    n = size = 0
    for rel in rels:
        for dirpath, _, names in os.walk(os.path.join(root, "data", rel)):
            for name in names:
                if name.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, name))
    return n, size
