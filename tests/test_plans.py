"""Physical-plan audits: the optimizations we rely on at 100 TB must be
visible in the plan, not assumed.

Each test locks in a plan property that keeps a query scalable:
predicate pushdown + column pruning at the parquet scan, broadcast
joins for small dimensions, shuffle counts for dedup, and the
bucket-aligned single exchange in the CDC apply path.  If a refactor
silently regresses one of these, the failure names the property.

Assertions are substring checks on the formatted plan — loose enough
to survive Spark version churn, tight enough to catch a lost pushdown.
"""

from __future__ import annotations

import contextlib
import io

import pytest

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def n_exchanges(plan: str) -> int:
    """Count shuffle-exchange NODES (excludes broadcast exchanges).

    Formatted explain lists every node twice (tree + detail block);
    count only the detail headers ``(N) Exchange`` so each node counts
    once.
    """
    import re

    return len(re.findall(r"\(\d+\) Exchange", plan))


# ---- scan-level: pushdown + pruning ----------------------------------------

def test_q6_filter_pushdown_and_column_pruning(spark):
    from giraffe_etl_spark.queries import q6_revenue_delta

    plan = plan_of(q6_revenue_delta(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # the range predicate must reach the parquet reader
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("]")[0]
    # projection pruning: the scan reads only what the query needs
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema and "l_discount" in read_schema
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


def test_cdc_planning_scan_never_reads_payload(spark, tmp_root):
    """The cold-start planning aggregate must not scan the html column.

    The applier never caches the batch: its plan sample prunes to
    (url, warc_ts, lsn) at most, so a 10^8-event batch of ~50 KB pages plans
    against bytes per row, not the payload.  Both sample shapes are
    checked: the lsn window (which must also reach the parquet reader
    as a pushed filter) and the Bernoulli sample.
    """
    from giraffe_etl_spark.cdc.apply import CdcApplier

    # a real parquet file so the scan node is a genuine
    # FileSourceScan with pruning (an in-memory LocalRelation would
    # prove nothing about ReadSchema)
    log = spark.createDataFrame(
        [(1, "U", "http://a.example.org/x", None, b"<p>big payload</p>")],
        "lsn long, op string, url string, warc_ts timestamp, html binary",
    )
    path = f"{tmp_root}/changes"
    log.write.mode("overwrite").parquet(path)
    src = spark.read.parquet(path)
    applier = CdcApplier(spark, f"{tmp_root}/lake", n_buckets=4)
    for lsn_range in ((0, 999), None):
        agg, _ = applier._sample_stats(src, 0, lsn_range)
        plan = plan_of(agg)
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "html" not in read_schema, read_schema
        assert "url" in read_schema, read_schema
        pushed = plan.split("PushedFilters:")[1].split("]")[0]
        assert ("lsn" in pushed) == (lsn_range is not None), pushed


# ---- join strategy ----------------------------------------------------------

def test_q5_broadcasts_small_dimensions(spark):
    from giraffe_etl_spark.queries import q5_region_revenue

    plan = plan_of(q5_region_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan  # nation/region never shuffle the facts
    assert "CartesianProduct" not in plan


def test_enrich_hosts_is_broadcast_join(spark):
    from giraffe_etl_spark.operators.enrich import enrich_hosts, geo_table

    df = spark.createDataFrame([("host1.example.org",)], "host string")
    plan = plan_of(enrich_hosts(df, geo_table(spark, 50)))
    assert "BroadcastHashJoin" in plan
    assert n_exchanges(plan) == 0  # fact side untouched


# ---- shuffle counts ----------------------------------------------------------

def test_exact_dedup_single_shuffle(spark):
    """Exact dedup = ONE hash exchange; no sort-based global stage."""
    from giraffe_etl_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(exact_dedup(docs, text_col="text", id_col="doc_id"))
    assert n_exchanges(plan) == 1, plan


def test_aligned_apply_single_payload_exchange(spark, tmp_root):
    """The bucket-aligned CDC path shuffles payload bytes exactly once.

    repartition(aligned_partitions(), url) — a partition count that
    divides the bucket count, so each bucket sits whole in one task —
    satisfies the window's required distribution AND the bucketed
    write's clustering, so the merge subtree must contain exactly ONE
    payload exchange (plus the tiny keys-side aggregates).  Verified on
    the physical plan of the merged frame the write job executes.
    """
    import datetime as dt

    from pyspark.sql import functions as F

    from giraffe_etl_spark.cdc.apply import CdcApplier, seed_pages
    from giraffe_etl_spark.cdc.generate import gen_pages
    from giraffe_etl_spark.cdc.plan import dedup_winners_window, tag_batch

    applier = CdcApplier(spark, tmp_root, n_buckets=8)
    seed_pages(applier.pages, spark.createDataFrame(gen_pages(50)))
    changes = spark.createDataFrame(
        [
            (3 * i, "U", f"http://h{i % 7}.example.org/p", dt.datetime(2025, 1, 1 + i % 5), b"<p>x</p>")
            for i in range(40)
        ],
        "lsn long, op string, url string, warc_ts timestamp, html binary",
    )
    tagged = tag_batch(changes, exprs=applier._exprs)
    valid = tagged.filter(F.col("_reason").isNull()).drop("_reason")
    valid = valid.repartition(applier.pages.aligned_partitions(), F.col("url"))
    # the real pipeline fuses the pandas-UDF transform chain AFTER the
    # last exchange (apply.py): a pandas UDF here would break
    # partitioning propagation and force a redundant winner-payload
    # exchange
    winners = dedup_winners_window(valid)
    snap = applier.pages.current_snapshot()
    target = applier.pages.read(snap=snap, with_bucket_col=True)
    joined = winners.join(target, "url", "full_outer")
    plan = plan_of(joined)
    # EXACTLY two shuffle exchanges: (1) the batch side's aligning
    # repartition(aligned_partitions(), url), which the window dedup AND
    # the join both reuse — batch payload crosses the wire once; (2) the target
    # side's join exchange (full-outer cannot broadcast), bounded by
    # bucket pruning to the touched buckets.  A third exchange means
    # the alignment was lost and payload is being re-shuffled.
    assert n_exchanges(plan) == 2, plan


def test_pandas_udf_breaks_partition_propagation(spark):
    """Regression guard for the WHY of the fused transform.

    Documents the Spark behavior the apply-stage design works around:
    an ArrowEvalPython node does not propagate its child's output
    partitioning, so UDF-then-join re-shuffles even on the same key.
    If a Spark upgrade fixes this, this test fails and the transform
    chain can move back ahead of the join.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    left = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .withColumnRenamed("doc_id", "k")
        .repartition(8, F.col("k"))
    )
    right = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        F.col("user_id").alias("k"), "event_type"
    )
    plain = plan_of(left.join(right, "k", "full_outer"))
    assert n_exchanges(plain) == 2  # repartition + right side only

    up = pandas_udf(lambda s: s.str.upper(), "string")
    with_udf = plan_of(
        left.withColumn("lang2", up(F.col("lang"))).join(right, "k", "full_outer")
    )
    assert n_exchanges(with_udf) == 3  # the redundant left re-shuffle
