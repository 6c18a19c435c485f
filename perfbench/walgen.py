"""Seeded generator for the benchmark's replay input.

Writes an epoch-partitioned WAL (``epoch=NNNNNN/part-0.parquet``) in the
engine's event schema: url, warc_ts, html, text, lang, op, lsn, epoch.

Epoch 0 loads the lake: one insert per page, pages of about 17 KB of
Common-Crawl-style html. Every later epoch follows one workload's event
mix. Each changed version is a small in-place edit of the page's previous
version, so most chunks of the new version already sit in the chunk store.
Pages belong to Zipf-skewed domains and events pick pages uniformly, so
hot domains take most of the events.

Everything is a function of the seed. The generator runs in one process;
the only threads are pyarrow's, capped at the cpu count.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import operator
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: share of each event kind in one epoch, per workload. Counts are
#: allocated exactly per epoch (largest remainder), then shuffled.
#:   recrawl  unchanged re-fetch with a newer timestamp
#:   edit     small in-place edit of the current version
#:   delete   tombstone with a newer timestamp
#:   late     re-delivery of an older version with an older timestamp
#:   dup      exact re-delivery (same lsn) of an event of the same epoch
#:   insert   a new url
MIXES = {
    "recrawl": {"recrawl": 0.66, "edit": 0.12, "delete": 0.06,
                "late": 0.08, "dup": 0.08},
    "churn": {"edit": 0.80, "insert": 0.20},
}

N_DOMAINS = 200
ZIPF_EXP = 1.1
#: minutes between epoch starts; events of epoch e are stamped in
#: [e * EPOCH_MINUTES, e * EPOCH_MINUTES + EPOCH_MINUTES // 2)
EPOCH_MINUTES = 2000
TS0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
LANGS = ("en", "en", "en", "de", "fr", "es")
#: mean words per page; about 17 KB of html
PAGE_WORDS = 2300
ROWS_PER_GROUP = 128

SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("op", pa.string()),
    ("lsn", pa.int64()),
    ("epoch", pa.int64()),
])


def _vocab() -> list[bytes]:
    """Fixed 4096-word pseudo-vocabulary (seed independent)."""
    r = np.random.default_rng(0x5EED)
    letters = np.frombuffer(b"etaoinshrdlcumwfgypbvkjxqz", dtype=np.uint8)
    p = np.linspace(2.0, 0.2, len(letters))
    p /= p.sum()
    words = set()
    while len(words) < 4096:
        n = int(r.integers(2, 11))
        words.add(bytes(r.choice(letters, n, p=p)))
    return sorted(words)


VOCAB = _vocab()


def _words(r: np.random.Generator, n: int) -> bytes:
    idx = r.integers(0, len(VOCAB), n)
    return b" ".join(operator.itemgetter(*idx)(VOCAB)) if n > 1 else VOCAB[idx[0]]


def make_html(url: str, lang: str, text: bytes) -> bytes:
    head = (f'<html lang="{lang}"><head><title>{url}</title>'
            f'<meta charset="utf-8"/></head><body><main id="content">')
    return head.encode() + text + b"</main><footer>crawl-sim</footer></body></html>"


def _alloc(mix: dict[str, float], n: int) -> list[str]:
    """Exactly n kinds in the mix's proportions (largest remainder)."""
    raw = {k: v * n for k, v in mix.items()}
    cnt = {k: int(v) for k, v in raw.items()}
    for k in sorted(raw, key=lambda k: raw[k] - cnt[k],
                    reverse=True)[:n - sum(cnt.values())]:
        cnt[k] += 1
    return [k for k in mix for _ in range(cnt[k])]


class WalGenerator:
    """Stateful CDC source: holds each live page's current version."""

    def __init__(self, seed: int):
        self.seed = seed
        ranks = np.arange(1, N_DOMAINS + 1, dtype=np.float64) ** -ZIPF_EXP
        self._dom_cdf = np.cumsum(ranks) / ranks.sum()
        self.lsn = 0
        self.n_pages = 0
        #: pid -> (url, lang, text, ts); prev[pid] = (text, ts) before the
        #: latest change
        self.live: dict[int, tuple[str, str, bytes, int]] = {}
        self.live_ids: list[int] = []
        self.prev: dict[int, tuple[bytes, int]] = {}

    # ----------------------------------------------------------- pages

    def _new_page(self, r: np.random.Generator, ts: int):
        pid = self.n_pages
        self.n_pages += 1
        dom = int(np.searchsorted(self._dom_cdf, r.random()))
        url = f"https://site{dom:03d}.example.com/page/{pid}"
        lang = LANGS[int(r.integers(0, len(LANGS)))]
        n = int(r.integers(PAGE_WORDS * 3 // 4, PAGE_WORDS * 5 // 4))
        text = _words(r, n)
        self.live[pid] = (url, lang, text, ts)
        self.live_ids.append(pid)
        return pid

    @staticmethod
    def _edit(r: np.random.Generator, text: bytes) -> bytes:
        """Replace one span of 100-400 bytes with 10-60 fresh words."""
        n = len(text)
        span = int(r.integers(100, 400))
        at = int(r.integers(0, max(1, n - span)))
        return text[:at] + _words(r, int(r.integers(10, 60))) + text[at + span:]

    # ---------------------------------------------------------- epochs

    def load_epoch(self, n_pages: int) -> list[tuple]:
        """Epoch 0: one insert per page of the initial lake."""
        r = np.random.default_rng([self.seed, 0xA0])
        rows = []
        for _ in range(n_pages):
            ts = int(r.integers(0, EPOCH_MINUTES // 2))
            pid = self._new_page(r, ts)
            rows.append(self._row(pid, "I", 0))
        return rows

    def _row(self, pid: int, op: str, epoch: int, text: bytes | None = None,
             ts: int | None = None) -> tuple:
        url, lang, cur_text, cur_ts = self.live[pid]
        self.lsn += 1
        text = cur_text if text is None else text
        ts = cur_ts if ts is None else ts
        html = None if op == "D" else make_html(url, lang, text)
        return (url, ts, html, None if op == "D" else text.decode(), lang,
                op, self.lsn, epoch)

    def epoch(self, workload: str, epoch: int, n_events: int) -> list[tuple]:
        """One epoch of `workload`. Every kind but `dup` targets a distinct
        url (pages are drawn without replacement), so a url repeats within
        an epoch only through an exact re-delivery."""
        r = np.random.default_rng([self.seed, 0xE0, epoch,
                                   list(MIXES).index(workload)])
        kinds = [k for k in _alloc(MIXES[workload], n_events) if k != "dup"]
        n_dup = n_events - len(kinds)
        kinds = [kinds[i] for i in r.permutation(len(kinds))]
        n_old = sum(k != "insert" for k in kinds)
        if n_old > len(self.live_ids):
            raise ValueError(f"{n_old} events on {len(self.live_ids)} pages")
        picks = iter([self.live_ids[i] for i in
                      r.choice(len(self.live_ids), n_old, replace=False)])
        base = epoch * EPOCH_MINUTES
        rows, deleted = [], set()
        for kind in kinds:
            fresh = base + int(r.integers(0, EPOCH_MINUTES // 2))
            if kind == "insert":
                pid = self._new_page(r, fresh)
                rows.append(self._row(pid, "I", epoch))
                continue
            pid = next(picks)
            url, lang, text, ts = self.live[pid]
            ts_new = max(ts + 1, fresh)
            if kind == "recrawl":
                self.live[pid] = (url, lang, text, ts_new)
                rows.append(self._row(pid, "U", epoch))
            elif kind == "edit":
                self.prev[pid] = (text, ts)
                self.live[pid] = (url, lang, self._edit(r, text), ts_new)
                rows.append(self._row(pid, "U", epoch))
            elif kind == "late":
                old_text, old_ts = self.prev.get(pid, (text, ts))
                old_ts = min(old_ts, ts - 1 - int(r.integers(0, 500)))
                rows.append(self._row(pid, "U", epoch, old_text, old_ts))
            elif kind == "delete":
                self.live[pid] = (url, lang, text, ts_new)
                rows.append(self._row(pid, "D", epoch))
                del self.live[pid]
                self.prev.pop(pid, None)
                deleted.add(pid)
            else:
                raise ValueError(kind)
        if deleted:
            self.live_ids = [p for p in self.live_ids if p not in deleted]
        for i in r.integers(0, len(rows), n_dup):
            rows.append(rows[int(i)])          # same lsn: exact re-delivery
        return [rows[i] for i in r.permutation(len(rows))]


def to_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    t0 = int(TS0.timestamp()) * 1_000_000
    arrays = [pa.array(cols[0], pa.string()),
              pa.array([t0 + m * 60_000_000 for m in cols[1]], pa.int64())
              .cast(SCHEMA.field("warc_ts").type),
              *[pa.array(c, f.type) for c, f in zip(cols[2:], list(SCHEMA)[2:])]]
    return pa.Table.from_arrays(arrays, schema=SCHEMA)


class WalWriter:
    """Writes epoch 0 (the lake load) plus one epoch of `workload` per entry
    of `events`, with that many events, in epoch order. ``digest`` is a
    sha256 over every written segment's bytes."""

    def __init__(self, out_dir: str, workload: str, seed: int, n_pages: int,
                 events: list[int]):
        if workload not in MIXES:
            raise ValueError(f"unknown workload {workload!r}")
        pa.set_cpu_count(max(1, len(os.sched_getaffinity(0))))
        self.out_dir, self.workload, self.events = out_dir, workload, events
        self.n_pages = n_pages
        self._gen = WalGenerator(seed)
        self._h = hashlib.sha256()
        self.written = -1

    def write(self, upto: int) -> None:
        """Write every epoch up to and including `upto`."""
        for ep in range(self.written + 1, upto + 1):
            rows = (self._gen.load_epoch(self.n_pages) if ep == 0 else
                    self._gen.epoch(self.workload, ep, self.events[ep - 1]))
            seg = os.path.join(self.out_dir, f"epoch={ep:06d}")
            os.makedirs(seg, exist_ok=True)
            path = os.path.join(seg, "part-0.parquet")
            pq.write_table(to_table(rows), path,
                           row_group_size=ROWS_PER_GROUP)
            with open(path, "rb") as f:
                self._h.update(f.read())
            self.written = ep

    @property
    def digest(self) -> str:
        return self._h.hexdigest()
