"""Independent correctness check for a replay: DuckDB last-writer-wins.

The expected table is computed from the WAL parquet alone: per url, the
event with the greatest (warc_ts, lsn) wins, and the url is absent when
that event is a delete. Both sides reduce to a row count and an
order-independent digest of (url, sha3(html), text).
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def row_digest(tbl: pa.Table) -> tuple[int, str]:
    """(row count, sha256 over the sorted per-row hashes)."""
    rows = sorted(
        hashlib.sha256(b"\x1f".join((u.encode(), hashlib.sha3_256(h).digest(),
                                     t.encode()))).digest()
        for u, h, t in zip(tbl.column("url").to_pylist(),
                           tbl.column("html").to_pylist(),
                           tbl.column("text").to_pylist()))
    return len(rows), hashlib.sha256(b"".join(rows)).hexdigest()


def expected_state(wal_dir: str, last_epoch: int,
                   threads: int) -> tuple[int, str]:
    """LWW over the skinny columns picks each winning row by (epoch, row
    number in that epoch's file); only the winners' wide columns are
    then read."""
    con = duckdb.connect(config={"threads": threads})
    try:
        winners = con.execute(
            f"""SELECT epoch, file_row_number FROM (
                  SELECT epoch, file_row_number, op, row_number() OVER (
                    PARTITION BY url ORDER BY warc_ts DESC, lsn DESC) AS rn
                  FROM read_parquet('{wal_dir}/epoch=*/*.parquet',
                                    hive_partitioning = false,
                                    file_row_number = true)
                  WHERE epoch <= {int(last_epoch)})
                WHERE rn = 1 AND op <> 'D'""").fetchall()
    finally:
        con.close()
    by_epoch: dict[int, list[int]] = {}
    for ep, row in winners:
        by_epoch.setdefault(ep, []).append(row)
    parts = [pq.read_table(os.path.join(wal_dir, f"epoch={ep:06d}"),
                           columns=["url", "html", "text"]).take(rows)
             for ep, rows in sorted(by_epoch.items())]
    return row_digest(pa.concat_tables(parts))


def lake_state(spark, lake) -> tuple[int, str, int]:
    """(row count, digest, html+text bytes) of the lake's live rows."""
    from pyspark.sql import functions as F

    live = (lake.read(spark).filter(~F.col("deleted"))
            .select("url", "html", "text").toArrow())
    live_bytes = (pc.sum(pc.binary_length(live.column("html"))).as_py()
                  + pc.sum(pc.binary_length(live.column("text"))).as_py())
    return (*row_digest(live), live_bytes)
