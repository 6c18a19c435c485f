#!/usr/bin/env python
"""Interleaved same-window A/B of the replay hot path between two source
trees (VERDICT r5 next #4): alternate legs tree-A/tree-B so host-noise
windows hit both sides, best-of-k per side, report the ratio.

Usage:
  python tools/ab_replay.py --tree-a /root/repo --tree-b /tmp/r4tree \
      --wal /dev/shm/bench-wal2-100000-800000-2500-3 --pairs 3 --cpus 4

Each leg is `bench.py --replay` run FROM its tree's directory with the
same WAL, pinned to the same top cpu ids (taskset). The
protocol is the one the round-5 seq-kernel revert used: never compare
numbers from different windows on this host (BENCH.md host-noise log).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def leg(tree: str, wal: str, events: int, cpus: int) -> dict:
    cmd = [sys.executable, os.path.join(tree, "bench.py"), "--replay",
           "--cpus", str(cpus), "--wal-dir", wal, "--events", str(events)]
    if shutil.which("taskset") and cpus < CPUS:
        lo, hi = CPUS - cpus, CPUS - 1
        cmd = ["taskset", "-c", f"{lo}-{hi}" if cpus > 1 else str(hi)] + cmd
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=tree,
                       timeout=3600)
    line = [l for l in p.stdout.splitlines() if l.startswith("REPLAY_JSON:")]
    if not line:
        # Spark/py4j failures often land on stdout (log4j console) — print
        # both tails, as bench.py's replay_at does.
        print(p.stdout[-2000:], file=sys.stderr)
        print(p.stderr[-2000:], file=sys.stderr)
        raise RuntimeError(f"leg failed in {tree} (rc {p.returncode})")
    r = json.loads(line[0][len("REPLAY_JSON:"):])
    r["wall"] = round(time.perf_counter() - t0, 1)
    return r


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--tree-a", required=True, help="current code")
    ap.add_argument("--tree-b", required=True, help="baseline code")
    ap.add_argument("--wal", required=True)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()

    events = int(open(os.path.join(args.wal, "_DONE")).read())
    out = {"a": [], "b": [], "events": events, "cpus": args.cpus}
    for i in range(args.pairs):
        for side, tree in (("a", args.tree_a), ("b", args.tree_b)):
            r = leg(tree, args.wal, events, args.cpus)
            out[side].append(round(r["events_per_sec"], 1))
            print(f"pair {i} side {side} ({tree}): "
                  f"{r['events_per_sec']:.1f} ev/s ({r['seconds']:.1f}s)",
                  flush=True)
    best_a, best_b = max(out["a"]), max(out["b"])
    out["best_a"] = best_a
    out["best_b"] = best_b
    out["a_over_b"] = round(best_a / best_b, 3)
    print("AB_JSON:" + json.dumps(out))


if __name__ == "__main__":
    main()
