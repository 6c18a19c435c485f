"""The benchmark's WAL generator: determinism and event mix.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import walgen  # noqa: E402

PAGES, EVENTS = 1500, [1200, 1200]


def _write(tmp_path, name, workload, seed):
    w = walgen.WalWriter(str(tmp_path / name), workload, seed, PAGES, EVENTS)
    w.write(len(EVENTS))
    return w


def _classify(wal_dir: str) -> collections.Counter:
    """Event kinds of epochs >= 1, recovered from the files alone: events
    replay in lsn order (generation order) against per-url state."""
    cur: dict[str, tuple] = {}
    kinds = collections.Counter()
    for ep in range(len(EVENTS) + 1):
        tbl = pq.read_table(os.path.join(wal_dir, f"epoch={ep:06d}"))
        rows = sorted(tbl.to_pylist(), key=lambda r: r["lsn"])
        seen = set()
        for r in rows:
            if r["lsn"] in seen:
                kind = "dup"
            elif r["op"] in ("I", "D"):
                kind = {"I": "insert", "D": "delete"}[r["op"]]
            elif r["warc_ts"] < cur[r["url"]][0]:
                kind = "late"
            else:
                kind = "recrawl" if r["html"] == cur[r["url"]][1] else "edit"
            seen.add(r["lsn"])
            if kind not in ("dup", "late"):
                cur[r["url"]] = (r["warc_ts"], r["html"])
            if ep:
                kinds[kind] += 1
    return kinds


def test_same_seed_gives_byte_identical_wal(tmp_path):
    a = _write(tmp_path, "a", "recrawl", 7)
    b = _write(tmp_path, "b", "recrawl", 7)
    c = _write(tmp_path, "c", "recrawl", 8)
    assert a.digest == b.digest
    assert a.digest != c.digest


def test_both_workloads_load_the_same_lake(tmp_path):
    a = _write(tmp_path, "a", "recrawl", 7)
    b = _write(tmp_path, "b", "churn", 7)
    seg = "epoch=000000/part-0.parquet"
    with open(os.path.join(a.out_dir, seg), "rb") as fa, \
            open(os.path.join(b.out_dir, seg), "rb") as fb:
        assert fa.read() == fb.read()


@pytest.mark.parametrize("workload", sorted(walgen.MIXES))
def test_event_mix_within_one_point(tmp_path, workload):
    w = _write(tmp_path, "w", workload, 3)
    kinds = _classify(w.out_dir)
    total = sum(kinds.values())
    assert total == sum(EVENTS)
    for kind in set(kinds) | set(walgen.MIXES[workload]):
        share = kinds[kind] / total
        assert abs(share - walgen.MIXES[workload].get(kind, 0.0)) <= 0.01, \
            (kind, share)


def test_edits_are_small_and_domains_skewed(tmp_path):
    w = _write(tmp_path, "w", "churn", 5)
    load = pq.read_table(os.path.join(w.out_dir, "epoch=000000")).to_pylist()
    first = {r["url"]: r["html"] for r in load}
    ep1 = pq.read_table(os.path.join(w.out_dir, "epoch=000001")).to_pylist()
    edits = [(first[r["url"]], r["html"]) for r in ep1 if r["url"] in first]
    assert edits
    for old, new in edits:
        prefix = len(os.path.commonprefix([old, new]))
        suffix = len(os.path.commonprefix([old[::-1], new[::-1]]))
        assert len(new) - prefix - suffix < 600      # one small span changed
    domains = collections.Counter(r["url"].split("/")[2] for r in load)
    top = domains.most_common(1)[0][1] / len(load)
    assert top > 10 / walgen.N_DOMAINS               # Zipf: far above uniform
