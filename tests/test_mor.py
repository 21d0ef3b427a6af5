"""Merge-on-read apply path: commit I/O bounds, plan shape, maintenance.

These lock in the two 100 TB properties the MOR design exists for
(VERDICT r2 "What's wrong" #1/#2):

1. commit I/O scales with the BATCH, not with the touched buckets —
   a uniform-key batch over a table 40x its size must not rewrite the
   table (the copy-on-write failure mode),
2. the merge subtree contains exactly ONE shuffle exchange (the
   bucket-aligned exchange of either dedup formulation) — no per-batch
   target-side exchange, because there is no target read at commit
   time.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from giraffe_etl_spark.cdc.apply import CdcApplier, read_pages, seed_pages
from giraffe_etl_spark.cdc.generate import gen_pages
from giraffe_etl_spark.cdc.plan import dedup_winners_window, tag_batch

CHANGES_DDL = "lsn long, op string, url string, warc_ts timestamp, html binary"


def _rows(n, n_keys, start_lsn=0):
    """n upserts scattered uniformly over n_keys urls (hits every bucket)."""
    return [
        (
            start_lsn + i,
            "U",
            f"http://host{i % n_keys % 7}.example.org/page/{i % n_keys}",
            dt.datetime(2025, 1, 1, 0, 0, i % 60, i),
            b"<p>the new content</p>",
        )
        for i in range(n)
    ]


def _batch(spark, n, n_keys, start_lsn=0):
    return spark.createDataFrame(_rows(n, n_keys, start_lsn), CHANGES_DDL)


def _file_bytes(entries):
    return sum(os.path.getsize(fi["path"]) for fi in entries)


def test_mor_commit_io_scales_with_batch_not_table(spark, tmp_root):
    """A small batch against a much larger table writes O(batch) bytes.

    Seeds 2000 pages, applies a 50-event uniform-key batch that touches
    every bucket.  MOR must (a) leave every base file untouched (same
    paths), and (b) add delta bytes that are a small fraction of the
    table.
    """
    ap = CdcApplier(spark, tmp_root, n_buckets=8)
    seed_pages(ap.pages, spark.createDataFrame(gen_pages(2000)))
    before = ap.pages.current_snapshot()
    base_paths = {fi["path"] for fs in before.buckets.values() for fi in fs}
    base_bytes = _file_bytes([fi for fs in before.buckets.values() for fi in fs])

    ap.apply_batch(_batch(spark, 50, n_keys=50), batch_id=0)
    after = ap.pages.current_snapshot()
    assert {fi["path"] for fs in after.buckets.values() for fi in fs} == base_paths
    delta_bytes = _file_bytes([fi for fs in after.deltas.values() for fi in fs])
    assert delta_bytes > 0
    assert delta_bytes < 0.10 * base_bytes, (delta_bytes, base_bytes)


def test_mor_merge_subtree_single_exchange(spark, tmp_root):
    """The full MOR merge frame plans exactly ONE shuffle exchange and
    one Arrow UDF node.

    32 buckets on the 8-slot session: the aligned exchange has fewer
    partitions than buckets, and the one exchange is that one.
    """
    import re

    from tests.test_plans import n_exchanges, plan_of

    ap = CdcApplier(spark, tmp_root, n_buckets=32)
    seed_pages(ap.pages, spark.createDataFrame(gen_pages(50)))
    changes = _batch(spark, 40, n_keys=20)
    tagged = tag_batch(changes, exprs=ap._exprs)
    valid = tagged.filter(F.col("_reason").isNull()).drop("_reason")
    n_parts = ap.pages.aligned_partitions()
    assert n_parts == 8
    valid = valid.repartition(n_parts, F.col("url"))
    winners = dedup_winners_window(valid)
    src = winners.withColumn("_bucket", ap.pages.bucket_expr("url"))
    delta = ap._delta_frame(src, ap.pages.current_snapshot())
    plan = plan_of(delta)
    assert n_exchanges(plan) == 1, plan
    assert re.search(r"hashpartitioning\(url#\d+, 8\)", plan), plan
    # html crosses to Python once: text and lang come from ONE fused
    # Arrow UDF node
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) == 1, plan


def test_mor_skewed_merge_subtree_single_exchange(spark, tmp_root):
    """A batch with hot keys dedups with one map-side-combined aggregate,
    and its merge frame still plans exactly ONE shuffle exchange: the
    aggregate's own, bucket-aligned at the pinned shuffle partitions,
    with the partial aggregate below it (hot keys collapse per map
    task before the exchange)."""
    import re

    from tests.test_plans import n_exchanges, plan_of

    from giraffe_etl_spark.session import _conf_pinned

    ap = CdcApplier(spark, tmp_root, n_buckets=32, hot_key_threshold=5)
    seed_pages(ap.pages, spark.createDataFrame(gen_pages(50)))
    changes = _batch(spark, 40, n_keys=20)
    tagged = tag_batch(changes, exprs=ap._exprs)
    valid = tagged.filter(F.col("_reason").isNull()).drop("_reason")
    hot = "http://host1.example.org/page/1"
    winners, n_hot, _ = ap._dedup(valid, 40, [(10, hot)])
    assert n_hot == 1
    src = winners.withColumn("_bucket", ap.pages.bucket_expr("url"))
    delta = ap._delta_frame(src, ap.pages.current_snapshot())
    pinned = {
        # as apply_batch + _merge_mor run it: AQE off, shuffle
        # partitions pinned to the aligned count
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(ap.pages.aligned_partitions()),
    }
    with _conf_pinned(spark, pinned):
        plan = plan_of(delta)
    assert n_exchanges(plan) == 1, plan
    # detail blocks "(N) Node ...": N numbers the tree bottom-up
    blocks = {
        int(m.group(1)): b
        for b in re.split(r"\n(?=\(\d+\) )", plan)
        if (m := re.match(r"\((\d+)\) (\w+)", b))
    }
    (exchange,) = [n for n, b in blocks.items() if b.split()[1] == "Exchange"]
    assert re.search(r"hashpartitioning\(url#\d+, 8\)", blocks[exchange]), plan
    partial = [n for n, b in blocks.items() if "partial_max_by" in b]
    assert partial and max(partial) < exchange, plan
    assert not any(b.split()[1] == "Window" for b in blocks.values()), plan


def test_skewed_write_aligned_when_session_partitions_differ(spark, tmp_root):
    """The aggregate dedup's exchange takes the session's shuffle
    partitions, and ``_merge_mor`` pins them to the aligned count for
    the write.  With the session at 12, not P = 8, a skewed batch still
    writes one delta file per touched bucket, matches the oracle, and
    leaves the session at 12."""
    from tests.test_cdc_apply import assert_matches_oracle, spark_changes

    from giraffe_etl_spark.cdc.generate import ChangeGenConfig, gen_changes

    key = "spark.sql.shuffle.partitions"
    cfg = ChangeGenConfig(n_keys=50, hot_frac=0.5, n_hot_keys=3)
    changes = gen_changes(600, cfg)
    ap = CdcApplier(spark, tmp_root, n_buckets=32, hot_key_threshold=20)
    pages = gen_pages(50)
    seed_pages(ap.pages, spark.createDataFrame(pages))
    old = spark.conf.get(key)
    spark.conf.set(key, "12")
    try:
        res = ap.apply_batch(spark_changes(spark, changes), batch_id=0)
        after = spark.conf.get(key)
    finally:
        spark.conf.set(key, old)

    assert res.hot_keys_detected >= 3
    assert after == "12"
    deltas = ap.pages.current_snapshot().deltas
    assert deltas and all(len(fs) == 1 for fs in deltas.values()), deltas
    assert_matches_oracle(ap, pages, changes)


@pytest.mark.parametrize(
    "n_buckets,slots,want",
    [(32, 1, 1), (32, 4, 4), (32, 8, 8), (32, 64, 32), (12, 8, 12), (6, 4, 6)],
)
def test_aligned_partition_count(n_buckets, slots, want):
    """Smallest divisor of the bucket count that fills every slot."""
    from giraffe_etl_spark.lake.table import aligned_partition_count

    assert aligned_partition_count(n_buckets, slots) == want


def _write_stage_tasks(st, mark: int) -> list[int]:
    """Tasks of the final stage of every shuffled parquet-write job
    since ``mark`` (job-id range on the status tracker)."""
    out = []
    for j in sorted(x for x in st.getJobIdsForGroup(None) if x > mark):
        ids = st.getJobInfo(j).stageIds
        last = st.getStageInfo(max(ids))
        if len(ids) > 1 and last.name.startswith("parquet"):
            out.append(last.numCompletedTasks)
    return out


def test_aligned_write_runs_one_task_per_slot(spark, tmp_root):
    """32 buckets on the 8-slot session, uniform keys (the aligned
    path): the merge write runs 8 tasks, still writes one delta file
    per touched bucket, and matches the oracle."""
    from tests.test_cdc_apply import assert_matches_oracle, spark_changes

    from giraffe_etl_spark.cdc.generate import ChangeGenConfig, gen_changes

    ap = CdcApplier(spark, tmp_root, n_buckets=32)
    pages = gen_pages(200)
    seed_pages(ap.pages, spark.createDataFrame(pages))
    changes = gen_changes(400, ChangeGenConfig(n_keys=200))
    st = spark.sparkContext.statusTracker()
    mark = max(st.getJobIdsForGroup(None), default=-1)
    res = ap.apply_batch(spark_changes(spark, changes), batch_id=0)

    assert res.hot_keys_detected == 0
    assert _write_stage_tasks(st, mark) == [8]
    deltas = ap.pages.current_snapshot().deltas
    assert len(deltas) == 32, sorted(deltas)
    assert all(len(fs) == 1 for fs in deltas.values()), deltas
    assert_matches_oracle(ap, pages, changes)


@pytest.mark.parametrize("skewed,want_tasks", [(False, 28), (True, 28)])
def test_warm_batch_job_and_task_count(spark, tmp_root, skewed, want_tasks):
    """A warm batch (planned from the harvested profile, no planning
    job) runs a pinned number of Spark jobs and tasks on the 8-slot
    session, without hot keys (window dedup) and with them (aggregate
    dedup; the salted window it replaced ran 60 tasks).  An extra job,
    or a stage that splits into more tasks (each Python-UDF task pays
    worker set-up), fails here whatever the host's timing noise."""
    from tests.test_cdc_apply import spark_changes

    from giraffe_etl_spark.cdc.generate import ChangeGenConfig, gen_changes

    cfg = ChangeGenConfig(
        n_keys=50, hot_frac=0.5 if skewed else 0.0, n_hot_keys=3,
        malformed_frac=0.05,
    )
    changes = gen_changes(600, cfg)
    ap = CdcApplier(
        spark, tmp_root, n_buckets=32, hot_key_threshold=20 if skewed else None
    )
    seed_pages(ap.pages, spark.createDataFrame(gen_pages(50)))
    ap.apply_batch(spark_changes(spark, changes.iloc[:300]), batch_id=0)
    batch = spark_changes(spark, changes.iloc[300:])
    st = spark.sparkContext.statusTracker()
    mark = max(st.getJobIdsForGroup(None), default=-1)
    res = ap.apply_batch(batch, batch_id=1)
    jobs = [j for j in st.getJobIdsForGroup(None) if j > mark]
    tasks = sum(
        st.getStageInfo(s).numCompletedTasks
        for j in jobs
        for s in st.getJobInfo(j).stageIds
    )

    assert res.phase_ms["plan_collect"] == 0
    assert (res.hot_keys_detected >= 3) == skewed
    assert res.rows_quarantined > 0
    # the merge write + the concurrent quarantine append, nothing else
    assert len(jobs) == 2, jobs
    assert tasks == want_tasks


def test_mor_apply_matches_oracle(spark, tmp_root):
    """Three upsert batches, then a late delete (newest event, wins)
    and a late insert (oldest event, loses) -> the oracle's table."""
    import pandas as pd

    from tests.test_cdc_apply import assert_matches_oracle

    from giraffe_etl_spark.cdc.oracle import oracle_apply

    ap = CdcApplier(spark, tmp_root, n_buckets=8)
    pages = gen_pages(60)
    seed_pages(ap.pages, spark.createDataFrame(pages))
    batches = [_rows(40, n_keys=30, start_lsn=100 * b) for b in range(3)]
    batches.append(
        [
            (900, "D", "http://host0.example.org/page/0",
             dt.datetime(2026, 1, 1), None),
            (901, "I", "http://host1.example.org/page/1",
             dt.datetime(2020, 1, 1), b"<p>too old</p>"),
        ]
    )
    for b, rows in enumerate(batches):
        ap.apply_batch(spark.createDataFrame(rows, CHANGES_DDL), batch_id=b)
    changes = pd.DataFrame(
        [r for rows in batches for r in rows],
        columns=["lsn", "op", "url", "warc_ts", "html"],
    )
    want = oracle_apply(pages, changes)
    assert "http://host0.example.org/page/0" not in set(want["url"])
    assert "too old" not in set(want["text"])
    assert_matches_oracle(ap, pages, changes)


def test_reconcile_read_shuffles_only_dirty_buckets(spark, tmp_root):
    """Buckets without deltas stream through the read with no exchange."""
    from tests.test_plans import n_exchanges, plan_of

    ap = CdcApplier(spark, tmp_root, n_buckets=8)
    seed_pages(ap.pages, spark.createDataFrame(gen_pages(200)))
    # clean table: zero exchanges
    assert n_exchanges(plan_of(ap.pages.read())) == 0
    # one batch -> dirty buckets reconcile (exactly one max_by shuffle)
    ap.apply_batch(_batch(spark, 10, n_keys=5), batch_id=0)
    plan = plan_of(ap.pages.read())
    assert n_exchanges(plan) == 1, plan
    assert "max_by" in plan or "maxby" in plan.lower()


def test_mor_auto_compaction_bounds_delta_files(spark, tmp_root):
    ap = CdcApplier(spark, tmp_root, n_buckets=4, compact_threshold=3)
    seed_pages(ap.pages, spark.createDataFrame(gen_pages(40)))
    for b in range(6):
        ap.apply_batch(_batch(spark, 20, n_keys=10, start_lsn=100 * b), batch_id=b)
    snap = ap.pages.current_snapshot()
    worst = max((len(fs) for fs in snap.deltas.values()), default=0)
    assert worst <= 3, {b: len(fs) for b, fs in snap.deltas.items()}
    # reconciled content survived compaction: latest lsn wins
    row = (
        read_pages(ap.pages)
        .filter(F.col("url") == "http://host0.example.org/page/0")
        .collect()
    )
    assert row, "key missing after compaction"


def test_compact_tombstones_rewrites_only_affected_buckets(spark, tmp_root):
    ap = CdcApplier(spark, tmp_root, n_buckets=8)
    seed_pages(ap.pages, spark.createDataFrame(gen_pages(200)))
    # tombstone exactly one key (one bucket), with an OLD event time
    one = spark.createDataFrame(
        [(500, "D", "http://host0.example.org/page/0", dt.datetime(2024, 1, 2), None)],
        CHANGES_DDL,
    )
    res = ap.apply_batch(one, batch_id=0)
    assert res.buckets_touched == 1
    before = ap.pages.current_snapshot()
    rewritten = ap.compact_tombstones(dt.datetime(2025, 1, 1))
    # only the tombstoned bucket rewrites; every other base file is kept
    assert len(rewritten) == 1, rewritten
    after = ap.pages.current_snapshot()
    kept = {str(b) for b in set(before.buckets) - {str(rewritten[0])}}
    for b in kept:
        assert [fi["path"] for fi in after.buckets[b]] == [
            fi["path"] for fi in before.buckets[b]
        ]
    assert ap.pages.read().filter("_deleted").count() == 0


def test_mor_exactly_once_replay_and_resume(spark, tmp_root):
    ap = CdcApplier(spark, tmp_root, n_buckets=8)
    seed_pages(ap.pages, spark.createDataFrame(gen_pages(30)))
    b0 = _batch(spark, 20, n_keys=10)
    ap.apply_batch(b0, batch_id=0)
    want = read_pages(ap.pages).orderBy("url").toPandas()
    # replaying the same batch id is a committed no-op
    res = ap.apply_batch(b0, batch_id=0)
    assert res.skipped
    # a fresh applier over the same root resumes and also no-ops
    ap2 = CdcApplier(spark, tmp_root, n_buckets=8)
    assert ap2.last_committed_batch() == 0
    res = ap2.apply_batch(b0, batch_id=0)
    assert res.skipped
    got = read_pages(ap2.pages).orderBy("url").toPandas()
    assert got.equals(want)


def test_mor_schema_evolution_across_delta_boundary(spark, tmp_root):
    """Add a column mid-stream: old base + old deltas read as null,
    new deltas carry the value; reconcile spans all three vintages."""
    ap = CdcApplier(spark, tmp_root, n_buckets=4)
    seed_pages(ap.pages, spark.createDataFrame(gen_pages(20)))
    ap.apply_batch(_batch(spark, 10, n_keys=5), batch_id=0)
    ap.pages.add_column("fetch_ms", "int")
    enriched = _batch(spark, 10, n_keys=5, start_lsn=100).withColumn(
        "fetch_ms", F.lit(42)
    )
    ap.apply_batch(enriched, batch_id=1)
    rows = {r["url"]: r for r in ap.pages.read().collect()}
    winner = rows["http://host0.example.org/page/0"]
    assert winner["fetch_ms"] == 42
    untouched = [r for u, r in rows.items() if "/page/1" not in u and r["fetch_ms"] is None]
    assert untouched, "pre-evolution rows must read fetch_ms as null"


def test_warm_batch_metadata_reads(spark, tmp_root):
    """A warm batch reads a pinned number of metadata files: the merge
    takes the bucket transform and the new files' schema id from the
    snapshot it already holds, instead of re-reading ``_current`` and
    the snapshot manifest for each (counted through the ``io=`` seam,
    as cdcbench's ``lake.meta_reads_per_commit`` counts them)."""
    from tests.test_cdc_apply import spark_changes

    from giraffe_etl_spark.cdc.generate import ChangeGenConfig, gen_changes
    from giraffe_etl_spark.lake import PosixFileIO

    class ReadCountingIO(PosixFileIO):
        def __init__(self):
            super().__init__()
            self.reads = []  # list.append is atomic across commit threads

        def read_text(self, path):
            self.reads.append(path)
            return super().read_text(path)

    io = ReadCountingIO()
    changes = gen_changes(600, ChangeGenConfig(n_keys=50, malformed_frac=0.05))
    ap = CdcApplier(spark, tmp_root, n_buckets=32, io=io)
    seed_pages(ap.pages, spark.createDataFrame(gen_pages(50)))
    ap.apply_batch(spark_changes(spark, changes.iloc[:300]), batch_id=0)
    io.reads.clear()
    ap.apply_batch(spark_changes(spark, changes.iloc[300:]), batch_id=1)
    pages = [p for p in io.reads if os.sep + "pages" + os.sep in p]
    assert (len(io.reads), len(pages)) == (14, 7), io.reads


def _runs_python(df) -> bool:
    """True when ``df``'s RDD lineage holds a PythonRDD (a Python-worker
    task per partition) with any partition to run."""
    rdd = df._jdf.queryExecution().toRdd()
    return "PythonRDD" in rdd.toDebugString() and rdd.getNumPartitions() > 0


def test_lake_reads_run_no_python(spark, tmp_root):
    """Reads whose empty branches used to be Python-built frames run no
    Python worker: a read of a snapshot whose buckets all carry deltas,
    the compaction frame, a lookup of a dirty bucket, ``read_changes``
    over an empty window and a read of an empty table.  An empty frame
    is built on the JVM (no partitions), and ``read`` unions no empty
    branch of clean buckets."""
    from giraffe_etl_spark.lake import Table

    ap = CdcApplier(spark, tmp_root, n_buckets=4)
    seed_pages(ap.pages, spark.createDataFrame(gen_pages(40)))
    ap.apply_batch(_batch(spark, 40, n_keys=40), batch_id=0)
    snap = ap.pages.current_snapshot()
    assert set(snap.deltas) == set(snap.buckets)

    compacted = []
    ap.pages.overwrite_buckets = lambda targets, df, **kw: compacted.append(df)
    assert ap.pages.compact_deltas() == [0, 1, 2, 3]
    head = snap.snapshot_id
    empty = Table.create(
        spark, os.path.join(tmp_root, "empty"), ap.pages.read().schema,
        bucket_key="url", n_buckets=4,
    )
    reads = {
        "read": ap.pages.read(),
        "compact_deltas": compacted[0],
        "read_keys": ap.pages.read_keys(["http://host0.example.org/page/0"]),
        "read_changes": ap.pages.read_changes(head, with_commit_col=True),
        "read_changes_pre_images": ap.pages.read_changes(
            head, with_pre_images=True
        ),
        "empty_table": empty.read(with_bucket_col=True),
    }
    assert [name for name, df in reads.items() if _runs_python(df)] == []
    assert reads["read_keys"].count() == 1
    assert reads["read_changes_pre_images"].columns[-1] == "_change_type"
    assert reads["empty_table"].columns[-1] == "_bucket"
    assert reads["empty_table"].count() == 0
