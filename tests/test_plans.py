"""Plan-shape assertions: the properties the 100 TB design depends on."""

import pytest
from pyspark.sql import functions as F

from rust_chunking_spark.datagen import generate_wal
from rust_chunking_spark.engine import CdcIngestJob, MorBucketedLake
from rust_chunking_spark.engine.lake import AppendOnlyTable
from rust_chunking_spark.plans.inspect import (
    assert_broadcast_join,
    assert_pushed_filters,
    count_exchanges,
    explain_str,
    scan_read_schemas,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_parquet(spark):
    df = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity"))
    assert_pushed_filters(df)
    # column pruning: scan must read only the two referenced columns
    schemas = scan_read_schemas(df)
    assert schemas and all(
        {c.split(":")[0] for c in s.split(",")} <= {"l_orderkey", "l_quantity"}
        for s in schemas)


def test_small_dim_join_is_broadcast(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).groupBy(
        "c_custkey").count()
    assert_broadcast_join(j)


@pytest.fixture()
def small_job(spark, tmp_path):
    wal = generate_wal(n_pages=0, n_epochs=2, events_per_epoch=30, seed=5)
    for ep, events in enumerate(wal):
        spark.createDataFrame([dict(e) for e in events]).write.mode(
            "overwrite").parquet(f"{tmp_path}/wal/epoch={ep:06d}")
    lake = MorBucketedLake(str(tmp_path / "lake"), n_buckets=4)
    job = CdcIngestJob(spark, lake, AppendOnlyTable(str(tmp_path / "chunks")),
                       AppendOnlyTable(str(tmp_path / "metrics")))
    job.run(str(tmp_path / "wal"), [0])
    return job, str(tmp_path / "wal")


def test_warm_epoch_job_budget(spark, tmp_path):
    """A warm epoch runs only the engine's data work as Spark jobs: reads
    of engine-owned files use the schema the manifest records (no
    schema-inference job), the metrics rows are written from the driver
    by pyarrow (no job), and the chunk-store totals and histogram come
    from one collect. AQE's stage split depends on data size, so the
    budget is this WAL's own: 24 jobs, where mergeSchema reads, a Spark
    write of the metrics rows and a second chunk-store collect took 33."""
    wal = generate_wal(n_pages=0, n_epochs=3, events_per_epoch=30, seed=5)
    for ep, events in enumerate(wal):
        spark.createDataFrame([dict(e) for e in events]).write.mode(
            "overwrite").parquet(f"{tmp_path}/wal/epoch={ep:06d}")
    job = CdcIngestJob(spark, MorBucketedLake(str(tmp_path / "lake"),
                                              n_buckets=4),
                       AppendOnlyTable(str(tmp_path / "chunks")),
                       AppendOnlyTable(str(tmp_path / "metrics")))
    job.run(str(tmp_path / "wal"), [0, 1])
    events = spark.read.parquet(f"{tmp_path}/wal/epoch=000002")
    sc = spark.sparkContext
    group = f"warm-epoch-{tmp_path.name}"
    sc.setJobGroup(group, "warm epoch job budget")
    try:
        m = job.apply_epoch(events, 2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert m is not None and m.chunks_total > 0
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 24, n_jobs


def test_merge_decision_join_is_column_pruned(spark, small_job):
    """The decision join reads skinny columns only: the lake side is the
    meta table (read_meta), and no scan in the plan — lake or event side —
    reads html/text."""
    job, wal = small_job
    events = spark.read.parquet(f"{wal}/epoch=000001")
    latest, keys, _, _ = job._lww_latest(events)
    ev_pre = latest.select(
        "url", F.col("warc_ts").alias("ev_warc_ts"),
        F.col("lsn").alias("ev_lsn"), F.col("op").alias("ev_op"))
    pre = job._join_cur(ev_pre, job.lake.read_meta(spark)).withColumn(
        "pre_decision", job._pre_decision_expr())
    plan_schemas = scan_read_schemas(pre)
    assert any("content_fp" in s for s in plan_schemas), plan_schemas
    for s in plan_schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert "html" not in cols and "text" not in cols, s
    keys.unpersist()


def test_mor_content_filter_evaluates_udf_once(spark):
    """The r8 unchanged-fp drop filters on the content UDF's output; a
    deterministic UDF there would be re-evaluated below the pushed
    filter (two ArrowEvalPython nodes — the guide-§4.4 trap that also
    hit the chunk queries). The asNondeterministic mark must pin exactly
    ONE evaluation."""
    import re

    from pyspark.sql import functions as F

    from rust_chunking_spark.functions.chunking import content_skip_udf

    docs = spark.createDataFrame(
        [(f"u{i}", bytes(f"<html>{i}</html>", "ascii"),
          None if i % 2 else b"x" * 32) for i in range(8)],
        "url string, html binary, __cur_fp binary")
    c_udf = content_skip_udf("super").asNondeterministic()
    cand_rows = (docs.withColumn("__c", c_udf(F.col("html"),
                                              F.col("__cur_fp")))
                 .filter(~F.col("__c.fp").eqNullSafe(F.col("__cur_fp"))
                         | F.col("__c.fp").isNull())
                 .select("url", F.col("__c.fp").alias("content_fp"),
                         F.col("__c.chunks").alias("chunks")))
    plan = explain_str(cand_rows, "formatted")
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan


def test_lww_shuffles_skinny_only(spark, small_job):
    """No shuffle exchange in the LWW plan may carry the html column."""
    job, wal = small_job
    events = spark.read.parquet(f"{wal}/epoch=000001")
    latest, keys, _, _ = job._lww_latest(events)
    plan = explain_str(latest)
    # every hash-partitioning exchange's output must exclude html
    import re
    for m in re.finditer(r"Exchange hashpartitioning[^\n]*", plan):
        line = m.group(0)
        assert "html" not in line, line
    # winners join back via broadcast
    assert_broadcast_join(latest)
    keys.unpersist()


def _analyzed(df) -> str:
    """Analyzed logical plan — the only place a broadcast HINT is visible
    as such (the optimizer folds ResolvedHint into the join node, and a
    small relation may be auto-broadcast from stats with no hint at all,
    so physical-plan checks can't distinguish 'hinted' from 'chosen')."""
    return df._jdf.queryExecution().analyzed().toString()


def _wide_cand_corpus(spark, tmp_path):
    """8 prefix groups x 5 docs: 80 exact candidate pairs — 'wide' relative
    to a patched-down broadcast limit."""
    docs = []
    for g in range(8):
        p = f"group {g:02d} shared boilerplate prefix padding padd "  # 50 ch
        for i in range(5):
            docs.append({"doc_id": 10 * g + i,
                         "text": p + f"tail {i} alpha beta gamma delta"})
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        f"{sf}/documents.parquet")
    return sf


def test_ngram_broadcast_guard_drops_hint_above_limit(spark, tmp_path,
                                                      monkeypatch):
    """VERDICT r4 'what's wrong' #3: the ngram query's candidate/id
    broadcasts must be guarded on the candidate count — above the limit the
    hard hint disappears from the plan (AQE decides), and the results are
    identical either way."""
    import __spark_entry__ as m

    sf = _wide_cand_corpus(spark, tmp_path)
    q = m.queries()["ngram_jaccard_pairs"]

    hinted = q(spark, sf)
    assert "ResolvedHint" in _analyzed(hinted)          # default limit: hint
    rows_hinted = [tuple(r) for r in hinted.collect()]

    monkeypatch.setattr(m, "BCAST_ROW_LIMIT", 10)       # 80 candidates > 10
    unhinted = q(spark, sf)
    assert "ResolvedHint" not in _analyzed(unhinted)    # hint dropped
    assert [tuple(r) for r in unhinted.collect()] == rows_hinted


def test_top_customers_broadcast_guard(spark, monkeypatch):
    """The customer dim broadcast is count-guarded (VERDICT r4 minor #4):
    hinted while it fits, plain join (AQE's call) above the limit."""
    import __spark_entry__ as m

    q = m.queries()["top_customers"]
    assert "ResolvedHint" in _analyzed(q(spark, SF))
    rows = [tuple(r) for r in q(spark, SF).collect()]
    monkeypatch.setattr(m, "BCAST_ROW_LIMIT", 1)
    df = q(spark, SF)
    assert "ResolvedHint" not in _analyzed(df)
    assert [tuple(r) for r in df.collect()] == rows


def test_estimate_scan_splits_mirrors_file_partitioning(spark, tmp_path):
    """estimate_scan_splits (the guard for compute-balancing repartitions)
    tracks Spark's FilePartitions math: one small file -> 1 split (spread
    fires); many openCost-dominated small files -> ~one split each (spread
    correctly skipped); non-file sources -> 0 (caller decides)."""
    from rust_chunking_spark.plans.inspect import estimate_scan_splits

    one = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(one)
    est_one = estimate_scan_splits(spark.read.parquet(one))
    assert est_one == 1

    many = str(tmp_path / "many")
    spark.range(100000).repartition(24).write.mode("overwrite").parquet(many)
    df_many = spark.read.parquet(many)
    est_many = estimate_scan_splits(df_many)
    # 24 openCost-dominated tiny files: the planner packs them into
    # ~total_cost/target bins (target = total_cost/defaultParallelism here);
    # the estimate must land within 2x of the planner's real answer
    actual = df_many.rdd.getNumPartitions()
    assert actual // 2 <= est_many <= actual * 2, (est_many, actual)

    assert estimate_scan_splits(spark.range(10)) == 0


def test_hash_sample_is_shuffle_free_scan_filter(spark):
    """hash_sample must stay a row-local predicate: zero exchanges, so at
    100 TB it fuses into the scan with no shuffle anywhere."""
    from rust_chunking_spark.operators.sampling import hash_sample

    df = hash_sample(spark.read.parquet(f"{SF}/documents.parquet"),
                     0.25, "doc_id").select("doc_id", "lang")
    assert count_exchanges(df) == 0


def test_pack_sequences_big_window_is_shard_partitioned(spark):
    """The corpus-sized running-sum window must be PARTITIONED (by the
    hash-prefix shard) — a global ORDER BY window would drag the whole
    corpus through one task at 100 TB. The only unpartitioned window
    allowed is the one over the 16^shard_hex-row base-offset aggregate."""
    from rust_chunking_spark.operators.packing import pack_sequences

    import re

    df = pack_sequences(spark.read.parquet(f"{SF}/documents.parquet"), 128)
    plan = explain_str(df)
    # windowspecdefinition(partCols..., orderCols ASC/DESC..., frame): a
    # spec whose first argument is NOT an ordering is partitioned.
    specs = [m.group(1) for m in
             re.finditer(r"windowspecdefinition\(([^)]*)\)", plan)]
    assert len(specs) == 2, plan
    part = [s for s in specs
            if not s.split(",")[0].strip().endswith(("ASC NULLS FIRST",
                                                     "DESC NULLS LAST"))]
    unpart = [s for s in specs if s not in part]
    # the corpus-wide running sum is partitioned by the hash-prefix shard
    assert len(part) == 1 and part[0].split(",")[0].startswith("__shard")
    # the only unpartitioned window merely orders the 16^shard_hex-row
    # base-offset AGGREGATE by shard (skinny by construction)
    assert len(unpart) == 1 and unpart[0].split(" ")[0].startswith("__shard")


def test_round6_rowlocal_operators_are_shuffle_free(spark):
    """winnow_fingerprints, redact_pii, normalize_text, canonicalize_url
    all claim scan-speed at 100 TB: zero exchanges in any of their plans
    (higher-order functions / regex chains / one Arrow-batched UDF — never
    a repartition, aggregate, or join)."""
    from rust_chunking_spark.operators.curation import (
        normalize_text, redact_pii)
    from rust_chunking_spark.operators.text_dedup import winnow_fingerprints
    from rust_chunking_spark.operators.urls import canonicalize_url

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    urls = docs.select("doc_id",
                       F.concat(F.lit("http://h"), "source",
                                F.lit(".com/p?b=2&a=1")).alias("url"))
    for df in (winnow_fingerprints(docs), redact_pii(docs),
               normalize_text(docs), canonicalize_url(urls)):
        assert count_exchanges(df) == 0, explain_str(df)


def test_winnow_shared_pairs_shuffles_skinny_only(spark):
    """The winnowing consumer (VERDICT r6 missing #2) must never shuffle
    the corpus: fingerprints are row-local, so every exchange in the plan
    carries only skinny fingerprint/id/pair columns — the text column
    appears in no Exchange and in no post-scan wide operator."""
    import re

    from rust_chunking_spark.operators.text_dedup import winnow_shared_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = winnow_shared_pairs(docs)
    plan = explain_str(df, mode="simple")
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges, plan   # the skinny (fp)/(a,b) shuffles exist
    for cols in exchanges:
        keys = {c.strip().split("#")[0] for c in cols.split(",")
                if not c.strip().isdigit()}
        assert keys <= {"fp", "a", "b", "id"}, (keys, plan)
    # the text column must not survive past the fingerprint projection:
    # no Exchange/Join/Aggregate line may reference it
    for line in plan.splitlines():
        if any(op in line for op in ("Exchange", "Join", "Aggregate")):
            assert "text#" not in line, line


def test_dedup_lines_join_is_broadcast_and_counts_skinny(spark):
    """dedup_lines' 100 TB claims: the frequent-line removal is a
    BROADCAST anti-join (corpus lines never shuffle to meet the frequent
    set) and the line-count aggregate exchanges only (line, count) — the
    one wide exchange is the groupBy(id) reassembly, which carries the
    output text by definition."""
    import re

    from rust_chunking_spark.operators.curation import dedup_lines

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = dedup_lines(docs)
    plan = explain_str(df, mode="simple")
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan) or \
        re.search(r"BroadcastNestedLoop.*LeftAnti", plan), plan
    # every hash exchange is keyed on line or id — never a pair/text key
    for cols in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = {c.strip().split("#")[0] for c in cols.split(",")
                if not c.strip().isdigit()}
        assert keys <= {"line", "id"}, (keys, plan)


def test_incremental_lsh_state_probe_is_mapside(spark):
    """incremental_lsh_dup_pairs' scale claim: the persisted bucket table
    is probed MAP-SIDE — the epoch's band keys arrive as a broadcast
    (BroadcastHashJoin LeftSemi) and no exchange in the plan repartitions
    the state by anything but skinny band/pair/id keys."""
    import re

    from rust_chunking_spark.operators.text_dedup import (
        LshState, incremental_lsh_dup_pairs)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")
    _, st = incremental_lsh_dup_pairs(old, None)
    pairs, _ = incremental_lsh_dup_pairs(new, st, broadcast_new=True,
                                         materialize=False)
    plan = explain_str(pairs, mode="simple")
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan
    # stale-version exclusion: the state is anti-joined against the
    # batch's id set map-side (no state shuffle for it either)
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
    for cols in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = {c.strip().split("#")[0] for c in cols.split(",")
                if not c.strip().isdigit()}
        assert keys <= {"band", "bh", "a", "b", "id"}, (keys, plan)


def test_dedup_corpus_anti_join_is_broadcast(spark):
    """dedup_corpus' scale claim: the full-width corpus never shuffles —
    the skinny removal set arrives as a broadcast and the anti-join is a
    BroadcastHashJoin LeftAnti; any exchanges touch only the skinny
    pair-graph columns."""
    import re

    from rust_chunking_spark.operators.text_dedup import dedup_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long")
    out = dedup_corpus(docs, pairs, broadcast_removals=True)
    plan = explain_str(out, mode="simple")
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
    for cols in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = {c.strip().split("#")[0] for c in cols.split(",")
                if not c.strip().isdigit()}
        assert keys <= {"a", "b", "node", "d", "s", "lab",
                        "cluster_id"}, (keys, plan)


def test_incremental_exact_state_probe_is_mapside(spark):
    """incremental_exact_dup_pairs shares the LSH twin's scale shape: the
    persisted hash state is probed map-side (broadcast semi), stale
    versions are excluded map-side (broadcast anti), and every exchange
    carries only skinny hash/pair/id keys — never the corpus text."""
    import re

    from rust_chunking_spark.operators.text_dedup import (
        incremental_exact_dup_pairs)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    _, st = incremental_exact_dup_pairs(docs.filter("doc_id % 2 = 0"))
    pairs, _ = incremental_exact_dup_pairs(docs.filter("doc_id % 2 = 1"),
                                           st, broadcast_new=True)
    plan = explain_str(pairs, mode="simple")
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
    for cols in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = {c.strip().split("#")[0] for c in cols.split(",")
                if not c.strip().isdigit()}
        # "0" is the operator's literal band column (the shared helpers
        # key on (band, bh); exact dedup has a single pseudo-band)
        assert keys <= {"band", "bh", "a", "b", "id", "0"}, (keys, plan)
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line
