"""CDC ingest: WAL micro-batches -> exactly-once MERGE into the
merge-on-read bucketed lake (``MorBucketedLake``).

Per-epoch pipeline (north_star, BASELINE.json), engineered so decisions
happen on skinny metadata and WIDE rows (html) reach a shuffle only once,
after every unchanged page has been dropped:

  events(epoch)                                [source: parquet segment]
    -> LWW winners via SKINNY aggregate        [shuffle of (url,ts,lsn,uid)
       groupBy(url).max(struct(ts,lsn,uid))     ~60B/row, map-side combined]
    -> broadcast join-back to fetch wide rows  [map-side; no wide shuffle]
    -> pre-decision join: winner meta vs lake  [SKINNY meta read of the
       meta (url, warc_ts, lsn, content_fp,     dirty buckets: html/text
        deleted)                                live only in wide deltas]
    -> verdicts insert/delete/skip_late/skip_duplicate, or content_check
       for rows that need a fingerprint comparison
    -> ONE fused UDF pass over the content candidates (inserts +
       content_check): sha3 fingerprint, and chunking only when it differs
       from current state; unchanged recrawls are dropped BEFORE the
       bucket shuffle (round-robin placement balances the UDF compute
       regardless of domain/url skew)
    -> uncommitted wide delta write: applied insert/update content only;
       a content_check row present in it is an update, an absent one a
       noop (noop advances (warc_ts,lsn) metadata but skips content work)
    -> skinny meta for the dirty buckets, rebuilt from current meta + the
       verdicts via broadcast joins (map-side)
    -> lake.commit_delta(...)  [delta + meta land in one atomic snapshot
       flip = commit marker (epoch); replaying a committed epoch is a
       no-op => exactly-once]
    -> chunk store: observability mode anti-joins vs the store (exact dedup
       stats, globally-unique table, deduped=true manifest flag);
       steady-state buffers the epoch's delta-file list and folds ALL
       pending epochs into ONE append at flush() (deduped=false flag;
       global uniqueness moves to chunk_store_current / ChunkStore.compact)
       — O(epoch) read at flush, ZERO per-epoch store work
    -> metrics + per-bucket lineage appended (steady-state: counted by an
       observe node riding the meta-write job — no dedicated lineage action)

Driver-action budget (the Amdahl term of the N->4N scaling rule): a
steady-state epoch runs THREE Spark actions — the fused LWW collect, the one
wide content pass, and the meta-commit write (which the lineage observation
and snapshot stats ride) — plus two end-of-replay flush writes shared across
all epochs.

Scale notes (100 TB): the only wide shuffle is the bucket repartition of the
changed rows for the delta write, plus the fallback when a batch's winner set
exceeds ``broadcast_limit`` (then Spark's SMJ + AQE skew split take over).
Everything else is map-side or skinny. The chunking UDF is the dominant
compute and runs only on truly-changed rows. Per-epoch wide IO is
O(changed bytes) and the wide event column is decoded once — measured ~40%
faster than a copy-on-write sink in r6, plus a further 1.15-1.22x
interleaved in r8; BENCH.md records both and why that sink was retired.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.errors import AnalysisException

from ..functions.chunking import content_skip_udf
from .lake import AppendOnlyTable, ChunkStore, MorBucketedLake

SALT_BUCKETS = 16


@dataclasses.dataclass
class IngestMetrics:
    epoch: int
    events_seen: int = 0
    in_batch_superseded: int = 0
    applied_insert: int = 0
    applied_update: int = 0
    applied_delete: int = 0
    skipped_noop: int = 0
    skipped_late: int = 0
    skipped_duplicate: int = 0
    chunks_total: int = 0
    chunks_new: int = 0
    bytes_total: int = 0
    bytes_new: int = 0

    @property
    def dedup_ratio(self) -> float:
        return self.chunks_new / self.chunks_total if self.chunks_total else 1.0


class CdcIngestJob:
    def __init__(self, spark: SparkSession, lake: MorBucketedLake,
                 chunk_store: AppendOnlyTable, metrics: AppendOnlyTable,
                 algo: str = "super", chunk_params: dict | None = None,
                 salt_lww: bool = False, collect_metrics: bool = True,
                 broadcast_limit: int | None = None, records=None,
                 obs_lineage_max_buckets: int = 128):
        self.spark = spark
        self.lake = lake
        self.chunk_store = chunk_store
        self.metrics = metrics
        self.algo = algo
        self.chunk_params = chunk_params or {}
        self.salt_lww = salt_lww
        self.collect_metrics = collect_metrics
        if broadcast_limit is None:
            # the package-wide guard bound (one definition: operators/
            # curation.py) unless the caller tunes this job explicitly
            from ..operators.curation import BCAST_ROW_LIMIT
            broadcast_limit = BCAST_ROW_LIMIT
        self.broadcast_limit = broadcast_limit
        #: Steady-state lineage rides an Observation on the meta write — but
        #: the observe encoding is 7 when-sum aggregates PER DIRTY BUCKET
        #: (one array slot each), an expression tree that grows linearly
        #: with |dirty| and would explode planning/codegen at the 10^3-10^4
        #: buckets of a 100x lake. Above this bound the epoch falls back to
        #: the dedicated skinny `_collect_lineage` groupBy (one extra driver
        #: action, O(|dirty| * 7) rows — bounded regardless of bucket
        #: count). Identical lineage output either way (tested).
        self.obs_lineage_max_buckets = obs_lineage_max_buckets
        #: SuperCDC seed record map (gear hash -> next-chunk length) for the
        #: reference's cross-file record reuse (supercdc.rs:49-59): a plain
        #: dict or an ``sc.broadcast`` handle, threaded into every chunking
        #: UDF this job builds; each row chunkers a FRESH COPY of the map
        #: (Chunker::with_records semantics — see functions/chunking.py).
        self.records = records
        self.rows_chunked_acc = spark.sparkContext.accumulator(0)
        self._pending_lineage: list = []
        self._pending_chunks: list[tuple[int, list[str]]] = []
        # per-epoch stashes (observability mode): decision lineage + the
        # chunk-length histogram write as ONE metrics append in apply_epoch
        self._epoch_lineage: list = []
        self._obs_hist_rows: list = []
        #: per-phase wall seconds of the most recent apply_epoch (observability)
        self.last_phase_timings: dict[str, float] = {}

    def _bcast(self, df: DataFrame, n_rows: int) -> DataFrame:
        """Broadcast hint while the side fits; beyond the limit let AQE pick
        (sort-merge + skew split) — the 10^10-event fallback."""
        return F.broadcast(df) if n_rows <= self.broadcast_limit else df

    # ------------------------------------------------------------ LWW stage

    @staticmethod
    def _with_uid(events: DataFrame) -> DataFrame:
        """Attach a tie-break uid that is stable under plan re-execution.

        The LWW join-back recomputes the event scan, so the uid MUST come out
        identical both times or winner rows are silently dropped. For file
        sources (the WAL) `_metadata.file_path + row_index` is a content- and
        partitioning-independent identity. Sources without `_metadata`
        (createDataFrame in tests, a future Kafka reader) fall back to
        monotonically_increasing_id, which is deterministic only when the
        source re-scans with identical partitioning — true for local
        relations and parquet; a Kafka-backed WalSource must instead expose
        (partition, offset) and pre-populate `__uid` before calling the engine.
        """
        if "__uid" in events.columns:
            return events
        try:
            return events.withColumn(
                "__uid", F.xxhash64(F.col("_metadata.file_path"),
                                    F.col("_metadata.row_index")))
        except AnalysisException:
            # ONLY the no-_metadata analysis error falls through (local
            # relations in tests). Anything else — a misconfigured source, a
            # typo'd column — must fail loudly rather than silently degrade
            # to a re-scan-unstable uid (the bug commit a326dff fixed).
            return events.withColumn("__uid",
                                     F.monotonically_increasing_id())

    def _lww_latest(self, events: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Last-writer-wins by (warc_ts, lsn): skinny aggregate + join-back.

        Only (url, warc_ts, lsn, uid) ever enters the shuffle; winners' wide
        rows are fetched with a broadcast join-back. uid breaks ties between
        exact duplicate events (either copy is content-identical).

        salt_lww adds an (url, salt) pre-phase for pathologically hot single
        urls (millions of events for ONE key in a batch) where per-partition
        partial aggregation is not enough; AQE cannot split one reduce key.

        Returns (latest, keys, per_bucket_rows, n_winners); the per-bucket
        stats come from ONE driver action that doubles as the cache
        materialization for `keys` — the driver serial floor per epoch is a
        direct throughput tax at small batch sizes, so actions are fused
        wherever two of them read the same skinny aggregate.
        """
        ev = self._with_uid(events)
        key = F.struct(F.col("warc_ts"), F.col("lsn"), F.col("__uid"))
        skinny = ev.select("url", "warc_ts", "lsn", "__uid")
        if self.salt_lww:
            salted = skinny.withColumn(
                "__salt", F.pmod(F.xxhash64(F.col("__uid")), F.lit(SALT_BUCKETS)))
            p1 = (salted.groupBy("url", "__salt")
                  .agg(F.max(key).alias("k"), F.count("*").alias("cnt")))
            keys = (p1.groupBy("url")
                    .agg(F.max("k").alias("k"), F.sum("cnt").alias("n_events")))
        else:
            keys = (skinny.groupBy("url")
                    .agg(F.max(key).alias("k"), F.count("*").alias("n_events")))
        keys = keys.select("url", "k.*", "n_events").cache()
        # fused action: dirty buckets + batch totals + cache materialization
        per_bucket = (keys.groupBy(self.lake.bucket_expr().alias("b"))
                      .agg(F.sum("n_events").alias("seen"),
                           F.count("*").alias("winners")).collect())
        n_winners = int(sum(r.winners for r in per_bucket))
        latest = ev.join(
            self._bcast(keys.select("url", "__uid", "n_events"), n_winners),
            ["url", "__uid"], "inner").drop("__uid")
        return latest, keys, per_bucket, n_winners

    # ---------------------------------------------------------- epoch apply

    def apply_epoch(self, events: DataFrame, epoch: int) -> IngestMetrics | None:
        """Apply one WAL epoch with exactly-once semantics; None if already applied."""
        import time as _time

        t0 = _time.perf_counter()
        phases: dict[str, float] = {}

        def _mark(name: str) -> None:
            nonlocal t0
            now = _time.perf_counter()
            phases[name] = round(now - t0, 3)
            t0 = now

        if epoch in self.lake.committed_epochs():
            return None
        _mark("marker_check")
        m = IngestMetrics(epoch=epoch)

        # NOTE deliberately NO .cache() on any wide dataframe: materializing
        # 17KB-binary rows into the block manager anti-scales catastrophically
        # under many concurrent tasks (measured 65s vs 4s of compute at 32
        # threads). Wide rows are re-scanned from (page-cached) parquet with
        # column pruning instead; only skinny metadata is cached.
        latest, keys, per_bucket, n_winners = self._lww_latest(events)
        _mark("lww_collect")
        dirty = [int(r.b) for r in per_bucket]
        m.events_seen = int(sum(r.seen for r in per_bucket))
        m.in_batch_superseded = m.events_seen - n_winners

        extras = [c for c in latest.columns
                  if c not in {"url", "warc_ts", "lsn", "op", "html", "text",
                               "lang", "__fp", "n_events", "epoch"}]
        merge_files = self._merge(m, latest, dirty, n_winners, extras, epoch,
                                  _mark)

        # derive the chunk store from the just-written files: a column-pruned
        # read of chunks only — html never re-read. Crash between the lake
        # commit and this append is repaired by run() via snapshot stats.
        chunk_stats = self._update_chunk_store(merge_files, epoch)
        _mark("chunk_store")
        m.chunks_total, m.chunks_new, m.bytes_total, m.bytes_new = chunk_stats
        if self.collect_metrics:
            # ONE metrics append per epoch: decision lineage (stashed by
            # _merge) + the chunk-length histogram from the store
            # update. The metrics table's per-epoch commit marker no-ops a
            # second append for the same epoch, so these must write together.
            lin = [r.asDict() if hasattr(r, "asDict") else dict(r)
                   for r in self._epoch_lineage]
            self._append_metrics(lin + list(self._obs_hist_rows), epoch)
            self._epoch_lineage = []
            self._obs_hist_rows = []
            _mark("metrics_write")
        keys.unpersist()
        self.last_phase_timings = phases
        return m

    # ----------------------------------------------------------------- merge

    def _merge(self, m: IngestMetrics, latest: DataFrame, dirty: list[int],
               n_winners: int, extras: list[str], epoch: int,
               _mark) -> list[str]:
        """Merge-on-read apply with ONE wide pass over the events; returns
        the committed delta files.

        Content candidates (inserts + anything needing a fingerprint
        comparison) are fingerprinted AND — only when the fingerprint
        differs from current state — chunked, in a single fused UDF pass;
        unchanged (no-op) rows are dropped before the bucket shuffle, so the
        delta holds APPLIED content only and per-epoch wide IO is
        O(changed bytes). The no-op/update split is then decided from
        presence in the just-written files (absence IS the no-op verdict;
        the fingerprint comparison already happened inside the UDF).
        """
        cur_meta_raw = self.lake.read_meta(self.spark, buckets=dirty)
        ev_pre = latest.select(
            "url", F.col("warc_ts").alias("ev_warc_ts"),
            F.col("lsn").alias("ev_lsn"), F.col("op").alias("ev_op"),
            *[F.col(c).alias(f"ev_x_{c}") for c in extras])
        pre = self._join_cur(ev_pre, cur_meta_raw).withColumn(
            "pre_decision", self._pre_decision_expr()).cache()

        # the ONE wide job: scan events -> fused fp+chunk UDF -> delta files.
        # Each content_check candidate carries its CURRENT fingerprint into
        # the UDF, which skips chunking when the page is unchanged, and the
        # no-op rows are dropped BEFORE the bucket shuffle: a no-op recrawl
        # (a third of a CC-style epoch) previously rode the full pipeline —
        # chunked, hashed per chunk, shuffled wide, written to the delta as
        # a dead row compaction later dropped. Per-epoch delta IO is now
        # O(changed bytes), not O(candidate bytes). cur_fp is attached for
        # content_check rows ONLY: an insert-after-delete keeps cur_fp null
        # here because tombstone meta retains the stale content_fp and an
        # identical re-insert must still write its content row. The UDF is
        # non-deterministic-marked so the fp filter's pushdown cannot
        # duplicate the evaluation (guide §4.4).
        cand_urls = (pre.filter(F.col("pre_decision")
                                .isin("insert", "content_check"))
                     .select("url",
                             F.when(F.col("pre_decision") == "content_check",
                                    F.col("cur_fp")).alias("__cur_fp")))
        c_udf = content_skip_udf(self.algo, records=self.records,
                                 **self.chunk_params).asNondeterministic()
        cand_rows = (latest
                     .join(self._bcast(cand_urls, n_winners), "url", "inner")
                     .withColumn("__c", c_udf(F.col("html"),
                                              F.col("__cur_fp")))
                     .filter(~F.col("__c.fp").eqNullSafe(F.col("__cur_fp"))
                             | F.col("__c.fp").isNull())
                     .select("url", "warc_ts", "lsn", "html", "text", "lang",
                             F.col("__c.fp").alias("content_fp"),
                             F.col("__c.chunks").alias("chunks")))
        written = self.lake.write_delta(cand_rows, dirty, epoch)
        _mark("content_write")

        # noop/update split from the staged files: a content_check row that
        # was dropped by the unchanged-fp filter above is simply ABSENT
        # from the delta — absence IS the no-op verdict (the old shape
        # re-read every staged fingerprint and compared; the comparison
        # already happened inside the UDF)
        staged = self.lake.read_files(self.spark, written)
        if staged is not None:
            staged_fp = staged.select("url",
                                      F.col("content_fp").alias("ev_fp"),
                                      F.lit(True).alias("__staged"))
            decided = pre.join(staged_fp, "url", "left")
        else:
            decided = (pre.withColumn("ev_fp", F.lit(None).cast("binary"))
                       .withColumn("__staged", F.lit(None).cast("boolean")))
        decided = decided.withColumn(
            "decision",
            F.when(F.col("pre_decision") == "content_check",
                   F.when(F.coalesce(F.col("__staged"), F.lit(False)),
                          F.lit("update"))
                   .otherwise(F.lit("noop")))
            .otherwise(F.col("pre_decision")))
        obs = None
        if (self.collect_metrics or not dirty
                or len(dirty) > self.obs_lineage_max_buckets):
            # collect_metrics mode, the no-dirty edge case, AND the
            # high-bucket-count fallback: the observe encoding below is
            # 7 x |dirty| expressions, unbounded at 100x bucket counts —
            # beyond the bound a dedicated skinny lineage collect is the
            # bounded plan (VERDICT r3 #1).
            decided = decided.cache()
            lineage_rows = self._collect_lineage(decided, epoch, m)
            _mark("decide_collect")
        else:
            # steady-state: no dedicated lineage job — a CollectMetrics
            # (observe) node counts per-(bucket, decision) rows while the
            # meta write below materializes the plan. One fewer driver
            # action per epoch (the Amdahl term of the scaling rule). The
            # observe sits BELOW the cache, so even though the meta
            # assembly consumes `decided` twice, each partition is
            # instrumented exactly once (at cache materialization).
            obs = Observation()
            decided = decided.observe(
                obs, *self._lineage_obs_exprs(dirty)).cache()

        meta_rows = self._assemble_meta(decided, cur_meta_raw, extras,
                                        n_winners)
        if obs is None:
            if self.collect_metrics:
                # stashed; apply_epoch writes it together with the
                # chunk-length histogram in one per-epoch metrics append
                self._epoch_lineage = lineage_rows
            else:   # steady-state without an observation (no dirty buckets,
                    # or the >obs_lineage_max_buckets fallback): buffers
                self._append_metrics(lineage_rows, epoch)
            stats = {"__schema": self._read_schema(cand_rows, meta_rows,
                                                   extras),
                     "__meta_schema": meta_rows.schema.json(),
                     **dataclasses.asdict(m)}
        else:
            def stats():
                # evaluated by commit_delta AFTER the meta write (the action
                # that fires the observation) and BEFORE the snapshot flip,
                # so verdict counts still land in the committed stats
                self._append_metrics(
                    self._lineage_from_obs(obs, dirty, epoch, m), epoch)
                return {"__schema": self._read_schema(
                            cand_rows, meta_rows, extras),
                        "__meta_schema": meta_rows.schema.json(),
                        **dataclasses.asdict(m)}
        self.lake.commit_delta(written, meta_rows, dirty, epoch, stats)
        _mark("merge_write")
        pre.unpersist()
        decided.unpersist()
        return written

    # ------------------------------------------------------------- decisions

    @staticmethod
    def _join_cur(ev_meta: DataFrame, cur_state: DataFrame | None
                  ) -> DataFrame:
        """Attach cur_* columns from the lake's skinny meta read
        (url/warc_ts/lsn/content_fp/deleted)."""
        if cur_state is None:
            return (ev_meta
                    .withColumn("cur_warc_ts", F.lit(None).cast("timestamp"))
                    .withColumn("cur_lsn", F.lit(None).cast("long"))
                    .withColumn("cur_fp", F.lit(None).cast("binary"))
                    .withColumn("cur_deleted", F.lit(None).cast("boolean"))
                    .withColumn("cur_exists", F.lit(False)))
        cur_meta = cur_state.select(
            "url", F.col("warc_ts").alias("cur_warc_ts"),
            F.col("lsn").alias("cur_lsn"),
            F.col("content_fp").alias("cur_fp"),
            F.col("deleted").alias("cur_deleted"),
            F.lit(True).alias("cur_exists"))
        return (ev_meta.join(cur_meta, "url", "left")
                .withColumn("cur_exists",
                            F.coalesce(F.col("cur_exists"), F.lit(False))))

    def _collect_lineage(self, decided: DataFrame, epoch: int,
                         m: IngestMetrics) -> list:
        """Fused action: ONE collect of the per-(bucket, decision) lineage
        materializes the decided cache, yields the verdict counts, AND is
        the metrics payload — three driver round-trips folded into one."""
        lineage_rows = (decided
                        .withColumn("bucket", self.lake.bucket_expr())
                        .groupBy("bucket", "decision")
                        .agg(F.count("*").alias("cnt"))
                        .withColumn("epoch", F.lit(epoch))
                        .collect())
        verdicts: dict[str, int] = {}
        for r in lineage_rows:
            verdicts[r.decision] = verdicts.get(r.decision, 0) + int(r.cnt)
        m.applied_insert = verdicts.get("insert", 0)
        m.applied_update = verdicts.get("update", 0)
        m.applied_delete = (verdicts.get("delete", 0)
                            + verdicts.get("delete_noexist", 0))
        m.skipped_noop = verdicts.get("noop", 0)
        m.skipped_late = verdicts.get("skip_late", 0)
        m.skipped_duplicate = verdicts.get("skip_duplicate", 0)
        return lineage_rows

    DECISIONS = ("insert", "update", "delete", "delete_noexist", "noop",
                 "skip_late", "skip_duplicate")

    def _lineage_obs_exprs(self, dirty: list[int]) -> list:
        """One array-of-counts aggregate per decision class, indexed by the
        dirty-bucket list — the observe-compatible encoding of the
        per-(bucket, decision) lineage groupBy."""
        b = self.lake.bucket_expr()
        return [F.array(*[F.sum(F.when((F.col("decision") == d)
                                       & (b == bb), 1).otherwise(0))
                          for bb in dirty]).alias(d)
                for d in self.DECISIONS]

    def _lineage_from_obs(self, obs: Observation, dirty: list[int],
                          epoch: int, m: IngestMetrics) -> list:
        """Decode the observation into lineage rows + verdict counts on m."""
        vals = obs.get   # available: the meta write already ran
        rows = []
        totals: dict[str, int] = {}
        for d in self.DECISIONS:
            arr = vals[d]
            totals[d] = int(sum(c or 0 for c in arr))
            rows.extend((int(bb), d, int(c), epoch)
                        for bb, c in zip(dirty, arr) if c)
        m.applied_insert = totals["insert"]
        m.applied_update = totals["update"]
        m.applied_delete = totals["delete"] + totals["delete_noexist"]
        m.skipped_noop = totals["noop"]
        m.skipped_late = totals["skip_late"]
        m.skipped_duplicate = totals["skip_duplicate"]
        return rows

    @staticmethod
    def _pre_decision_expr():
        """Decision WITHOUT the fingerprint comparison: rows that need it
        come out as 'content_check' and split into noop/update after the
        fused content pass computes fingerprints."""
        ev_newer = (
            (F.col("ev_warc_ts") > F.col("cur_warc_ts"))
            | ((F.col("ev_warc_ts") == F.col("cur_warc_ts"))
               & (F.col("ev_lsn") > F.col("cur_lsn"))))
        ev_equal = ((F.col("ev_warc_ts") == F.col("cur_warc_ts"))
                    & (F.col("ev_lsn") == F.col("cur_lsn")))
        return (
            F.when(~F.col("cur_exists"),
                   F.when(F.col("ev_op") == "D", F.lit("delete_noexist"))
                   .otherwise(F.lit("insert")))
            .when(ev_equal, F.lit("skip_duplicate"))
            .when(~ev_newer, F.lit("skip_late"))
            .when(F.col("ev_op") == "D", F.lit("delete"))
            .when(F.col("cur_deleted"), F.lit("insert"))
            .otherwise(F.lit("content_check")))

    # ---------------------------------------------------------- row assembly

    def _assemble_meta(self, decided: DataFrame, cur_meta: DataFrame | None,
                       extras: list[str], n_winners: int) -> DataFrame:
        """Skinny meta for the dirty buckets, rebuilt from current meta +
        this batch's verdicts. All joins are broadcast on the verdict side
        (map-side); wide data is never touched here.
        """
        applied = F.col("decision").isin(
            "insert", "update", "delete", "delete_noexist", "noop")
        iu_dec = F.col("decision").isin("insert", "update")
        del_dec = F.col("decision").isin("delete", "delete_noexist")
        upd = decided.select("url", "decision", "cur_exists", "ev_warc_ts",
                             "ev_lsn", "ev_fp",
                             *[f"ev_x_{c}" for c in extras])

        old_extras = ([c for c in cur_meta.columns if c not in {
            "url", "warc_ts", "lsn", "content_ts", "content_lsn",
            "content_fp", "deleted"}] if cur_meta is not None else [])
        all_extras = list(dict.fromkeys(old_extras + extras))
        noop_dec = F.col("decision") == "noop"
        ev_types = {c: decided.schema[f"ev_x_{c}"].dataType for c in extras}
        cur_types = ({f.name: f.dataType for f in cur_meta.schema.fields}
                     if cur_meta is not None else {})

        def _extra_expr(c):
            # per decision: insert/update/noop take the event value
            # (old-only columns null out on insert/update but survive noop);
            # delete nulls; carry/skip keep current.
            null = F.lit(None).cast(ev_types.get(c) or cur_types.get(c))
            ev = F.col(f"ev_x_{c}") if c in extras else null
            cur = F.col(c) if c in old_extras else null
            e_noop = ev if c in extras else cur
            return (F.when(iu_dec, ev)
                    .when(del_dec, null)
                    .when(noop_dec, e_noop)
                    .otherwise(cur).alias(c))

        parts = []
        if cur_meta is not None:
            existing = cur_meta.join(
                self._bcast(upd.filter(F.col("cur_exists")), n_winners),
                "url", "left")
            parts.append(existing.select(
                "url",
                F.when(applied, F.col("ev_warc_ts"))
                 .otherwise(F.col("warc_ts")).alias("warc_ts"),
                F.when(applied, F.col("ev_lsn"))
                 .otherwise(F.col("lsn")).alias("lsn"),
                F.when(iu_dec, F.col("ev_warc_ts"))
                 .otherwise(F.col("content_ts")).alias("content_ts"),
                F.when(iu_dec, F.col("ev_lsn"))
                 .otherwise(F.col("content_lsn")).alias("content_lsn"),
                F.when(iu_dec, F.col("ev_fp"))
                 .otherwise(F.col("content_fp")).alias("content_fp"),
                F.when(del_dec, F.lit(True)).when(iu_dec, F.lit(False))
                 .otherwise(F.col("deleted")).alias("deleted"),
                *[_extra_expr(c) for c in all_extras]))
        # urls new to the lake: insert or delete_noexist — meta built purely
        # from event values, no join needed (cur_exists was computed upstream)
        fresh = upd.filter(~F.col("cur_exists"))
        parts.append(fresh.select(
            "url",
            F.col("ev_warc_ts").alias("warc_ts"),
            F.col("ev_lsn").alias("lsn"),
            F.when(iu_dec, F.col("ev_warc_ts")).alias("content_ts"),
            F.when(iu_dec, F.col("ev_lsn")).alias("content_lsn"),
            F.when(iu_dec, F.col("ev_fp")).alias("content_fp"),
            del_dec.alias("deleted"),
            *[F.when(iu_dec, F.col(f"ev_x_{c}") if c in extras
                     else F.lit(None).cast(cur_types.get(c) or "string"))
              .alias(c) for c in all_extras]))
        meta_rows = parts[0]
        for p in parts[1:]:
            meta_rows = meta_rows.unionByName(p, allowMissingColumns=True)
        return meta_rows

    def _read_schema(self, wide_rows: DataFrame, meta_rows: DataFrame,
                     extras: list[str]) -> str:
        """Cumulative read-output schema: wide content columns + deleted +
        prior epochs' extras + this batch's."""
        from pyspark.sql.types import BooleanType, StructField, StructType

        ws = {f.name: f for f in wide_rows.schema.fields}
        ms = {f.name: f for f in meta_rows.schema.fields}
        fields = [ws["url"], ws["warc_ts"], ws["lsn"], ws["html"], ws["text"],
                  ws["lang"], ws["content_fp"],
                  StructField("deleted", BooleanType(), True), ws["chunks"]]
        have = {f.name for f in fields}
        prior = self.lake._schema_from_json(
            self.lake.current_snapshot().get("schema"))
        if prior is not None:
            for f in prior.fields:
                if f.name not in have:
                    fields.append(f)
                    have.add(f.name)
        for c in extras:
            if c not in have:
                fields.append(ms[c])
                have.add(c)
        return StructType(fields).json()

    # ------------------------------------------------------------ chunk store

    def _update_chunk_store(self, merge_files: list[str], epoch: int):
        acc = self.rows_chunked_acc
        if epoch in self.chunk_store.committed_epochs():
            return 0, 0, 0, 0
        if not self.collect_metrics:
            # steady-state: ZERO per-epoch chunk-store work — buffer the
            # epoch's merge-file list and fold every pending epoch into ONE
            # append at flush(). Anti-joining the full store per epoch is
            # O(store); even an epoch-delta append is a driver action on the
            # hot path. Global uniqueness moves to the read side
            # (chunk_store_current) and ChunkStore compaction — the same
            # MoR trade the lake itself makes. Crash before flush() is
            # repaired by run()'s sweep (lake-committed epochs missing from
            # the store re-derive their delta from snapshot merge_files).
            self._pending_chunks.append((epoch, list(merge_files)))
            return 0, 0, 0, 0
        written = self.lake.read_files(self.spark, merge_files)
        if written is None:
            self.chunk_store.append(
                self.spark.createDataFrame([], ChunkStore.DEDUP_SCHEMA),
                epoch)
            return 0, 0, 0, 0
        # column-pruned: only chunks leave the parquet files. The delta holds
        # exactly this epoch's freshly chunked insert/update rows (no-op
        # chunks are already in the store from prior epochs). One
        # aggregation pass: per-hash (multiplicity, len)
        uniq = (written.select(F.explode("chunks").alias("c"))
                .groupBy(F.col("c.hash").alias("chunk_hash"))
                .agg(F.count("*").alias("mult"), F.min("c.len").alias("len")))
        # observability mode: exact dedup stats + a globally-unique store
        # (pays the O(store) anti-join; intended for tests / small batches)
        store = self.chunk_store.read(self.spark)
        if store is not None:
            uniq = uniq.join(store.select("chunk_hash")
                             .withColumn("__seen", F.lit(True)),
                             "chunk_hash", "left")
        else:
            uniq = uniq.withColumn("__seen", F.lit(None).cast("boolean"))
        is_new = F.col("__seen").isNull()
        uniq = uniq.cache()
        agg = uniq.agg(
            F.coalesce(F.sum("mult"), F.lit(0)).alias("total_n"),
            F.coalesce(F.sum(F.col("mult") * F.col("len")), F.lit(0)).alias("total_b"),
            F.coalesce(F.sum(F.when(is_new, 1).otherwise(0)), F.lit(0)).alias("new_n"),
            F.coalesce(F.sum(F.when(is_new, F.col("len")).otherwise(0)), F.lit(0)).alias("new_b"),
        ).collect()[0]
        new_chunks = (uniq.filter(is_new)
                      .select("chunk_hash", "len")
                      .withColumn("first_seen_epoch",
                                  F.lit(epoch).cast("long")))
        self.chunk_store.append(new_chunks, epoch, props={"deduped": True})
        # boundary-count histogram (north-star lineage item): 4 KiB buckets
        # of this epoch's written chunk lengths, weighted by occurrence.
        # Rides the cached `uniq` — one extra tiny action, observability
        # mode only (steady-state computes it at flush over all epochs).
        # Stashed, not written: apply_epoch folds it into the epoch's single
        # metrics append.
        hist = (uniq.groupBy((F.floor(F.col("len") / self.HIST_BUCKET)
                              * self.HIST_BUCKET).cast("long").alias("bucket"))
                .agg(F.sum("mult").alias("cnt")).collect())
        self._obs_hist_rows = [
            {"bucket": int(r.bucket), "decision": "chunk_len_hist",
             "cnt": int(r.cnt), "epoch": epoch} for r in hist]
        uniq.unpersist()
        acc.add(int(agg.total_n))
        return int(agg.total_n), int(agg.new_n), int(agg.total_b), int(agg.new_b)

    def chunk_store_current(self, spark: SparkSession | None = None
                            ) -> DataFrame | None:
        """Deduplicated view of the chunk store (one row per hash, earliest
        first_seen_epoch). In steady-state mode epochs append their own
        deltas, so the same hash may appear in several epochs' files — this
        is the read that collapses them (and what a compaction would
        materialize)."""
        spark = spark or self.spark
        current = getattr(self.chunk_store, "current", None)
        if current is not None:          # ChunkStore owns the collapse rule
            return current(spark)
        raw = self.chunk_store.read(spark)
        if raw is None:
            return None
        return (raw.groupBy("chunk_hash")
                .agg(F.min("len").alias("len"),
                     F.min("first_seen_epoch").alias("first_seen_epoch")))

    # ---------------------------------------------------------------- metrics

    LINEAGE_SCHEMA = "bucket long, decision string, cnt long, epoch long"
    #: chunk-length histogram bucket width (bytes); histogram rows reuse the
    #: lineage schema with decision='chunk_len_hist' and bucket=floor(len/4Ki)
    HIST_BUCKET = 4096

    def _append_metrics(self, lineage_rows: list, epoch: int) -> None:
        """Write the already-collected lineage rows (tiny, driver-local).

        collect_metrics=False (steady-state) buffers rows and flushes them in
        one write at the end of the replay — per-epoch metric writes are pure
        serial floor.
        """
        if self.collect_metrics:
            self.metrics.append(
                self.spark.createDataFrame(lineage_rows, self.LINEAGE_SCHEMA),
                epoch)
        else:
            self._pending_lineage.append((epoch, lineage_rows))

    def flush_metrics(self) -> None:
        """Write lineage buffered by collect_metrics=False mode. All pending
        rows for one epoch (decision counts AND the chunk-length histogram
        from flush_chunk_store) merge into ONE append — the metrics table's
        per-epoch commit marker makes a second append for the same epoch a
        no-op, so split writes would silently drop rows."""
        by_epoch: dict[int, list] = {}
        for epoch, rows in self._pending_lineage:
            by_epoch.setdefault(epoch, []).extend(rows)
        for epoch, rows in by_epoch.items():
            if rows:
                self.metrics.append(
                    self.spark.createDataFrame(rows, self.LINEAGE_SCHEMA),
                    epoch)
        self._pending_lineage = []

    def flush_chunk_store(self) -> None:
        """Fold every pending epoch's chunk delta into ONE append (ONE Spark
        job): union the epochs' merge files tagged with their epoch, explode,
        and take per-hash (min len, min first_seen_epoch). Duplicates vs
        PRIOR flushes are allowed (steady-state store contract, recorded as
        deduped=false in the store manifest); chunk_store_current collapses
        them with the same min() rule, so first_seen_epoch stays exact."""
        committed = self.chunk_store.committed_epochs()
        pending = [(ep, files) for ep, files in self._pending_chunks
                   if ep not in committed]
        if not pending:
            self._pending_chunks = []
            return
        parts = []
        for ep, files in pending:
            df = self.lake.read_files(self.spark, files)
            if df is not None:
                parts.append(df.select("chunks", F.lit(ep).alias("__ep")))
        epochs = [ep for ep, _ in pending]
        if not parts:
            self.chunk_store.append(
                self.spark.createDataFrame([], ChunkStore.DEDUP_SCHEMA),
                epochs, props={"deduped": False})
            self._pending_chunks = []
            return
        rows = parts[0]
        for p in parts[1:]:
            rows = rows.unionByName(p)
        raw = (rows.select(F.explode("chunks").alias("c"), "__ep")
               .select(F.col("c.hash").alias("chunk_hash"),
                       F.col("c.len").alias("len"),
                       F.col("__ep").alias("first_seen_epoch")))
        delta = (raw.groupBy("chunk_hash")
                 .agg(F.min("len").alias("len"),
                      F.min("first_seen_epoch").alias("first_seen_epoch")))
        self.chunk_store.append(delta, epochs, props={"deduped": False})
        # Boundary-count histograms for every flushed epoch: every delta row
        # is an applied insert/update (no-op recrawls are dropped before the
        # delta write and tombstones never reach it), so each epoch's
        # histogram is a plain count over its own delta — the same rows
        # observability mode counts. Buffered so flush_metrics writes them
        # with the lineage.
        hist = (raw.groupBy(
                    F.col("first_seen_epoch").alias("epoch"),
                    (F.floor(F.col("len") / self.HIST_BUCKET)
                     * self.HIST_BUCKET).cast("long").alias("bucket"))
                .agg(F.count("*").alias("cnt")).collect())
        by_epoch: dict[int, list] = {}
        for r in hist:
            by_epoch.setdefault(int(r.epoch), []).append(
                {"bucket": int(r.bucket), "decision": "chunk_len_hist",
                 "cnt": int(r.cnt), "epoch": int(r.epoch)})
        for ep, rows in by_epoch.items():
            self._pending_lineage.append((ep, rows))
        # cleared only AFTER the append commits — a transient failure above
        # leaves the buffer intact so a retried flush() still has the deltas
        self._pending_chunks = []

    def flush(self) -> None:
        """End-of-replay flush for steady-state mode: chunk-store delta +
        buffered lineage, each one write."""
        self.flush_chunk_store()
        self.flush_metrics()

    # ------------------------------------------------------------------- run

    def run(self, wal_dir: str, epochs: list[int]) -> list[IngestMetrics]:
        """Replay epochs from a WAL directory (one parquet dir per epoch);
        already-committed epochs are skipped (resume-from-checkpoint).

        Before replaying, any lake-committed epoch missing from the chunk
        store (a crash between the lake commit and the store append/flush,
        in either mode) is repaired from the snapshot's recorded merge
        files — not just epochs named in this call's list. Epochs buffered
        for this job's own deferred flush are excluded (they are not lost,
        just pending)."""
        import os

        self.repair_chunk_store_gaps()
        out = []
        for ep in epochs:
            seg = os.path.join(wal_dir, f"epoch={ep:06d}")
            events = self.spark.read.parquet(seg)
            r = self.apply_epoch(events, ep)
            if r is not None:
                out.append(r)
        return out

    def repair_chunk_store_gaps(self) -> list[int]:
        """Re-derive the chunk-store delta of every lake-committed epoch the
        store is missing (a crash between the lake commit and the store
        append/flush, in either mode). run() does this before replaying;
        maintenance-only invocations MUST do it before compact/expire too
        (ADVICE r4 #2): compaction supersedes and expiry deletes the
        merge/delta dirs the repair reads from, and a crashed process's
        pending flush buffer died with it, so skipping the repair there
        loses the epoch's chunks for good. Epochs buffered for THIS job's
        own deferred flush are excluded (not lost, just pending). Returns
        the repaired epochs."""
        pending = {ep for ep, _ in self._pending_chunks}
        missing = (self.lake.committed_epochs()
                   - self.chunk_store.committed_epochs() - pending)
        for ep in sorted(missing):
            self._repair_chunk_store(ep)
        return sorted(missing)

    def _repair_chunk_store(self, epoch: int) -> None:
        """Crash between lake commit and chunk-store append: re-derive the
        epoch's chunk delta from the merge files recorded in snapshot stats."""
        if epoch in self.chunk_store.committed_epochs():
            return
        stats = self.lake.current_snapshot().get("stats", {}).get(str(epoch))
        if stats is None:
            return
        files = stats.get("merge_files", [])
        written = self.lake.read_files(self.spark, files)
        if written is None:
            self.chunk_store.append(
                self.spark.createDataFrame([], ChunkStore.DEDUP_SCHEMA),
                epoch)
            return
        uniq = (written.select(F.explode("chunks").alias("c"))
                .groupBy(F.col("c.hash").alias("chunk_hash"))
                .agg(F.min("c.len").alias("len")))
        store = self.chunk_store.read(self.spark)
        if store is not None:
            uniq = uniq.join(store.select("chunk_hash"), "chunk_hash",
                             "left_anti")
        self.chunk_store.append(
            uniq.withColumn("first_seen_epoch", F.lit(epoch).cast("long")),
            epoch,
            props={"deduped": True})
