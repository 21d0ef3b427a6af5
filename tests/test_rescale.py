"""Bucket rescaling: grow the partition layout without a shuffle.

A table bucketed for its day-one size is mis-bucketed after 100x
growth.  ``Table.rescale_buckets(k*N)`` exploits ``pmod(h, kN) mod N
== pmod(h, N)``: every row of old bucket b belongs to one of the k new
buckets {b, b+N, ...}, so the rewrite is a per-file local split — no
exchange in the plan (locked below), deltas stay deltas (no reconcile
fold), and the CDC applier picks the new count up from the table on
the next batch.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from giraffe_etl_spark.cdc.apply import CdcApplier, read_pages, seed_pages
from giraffe_etl_spark.cdc.generate import ChangeGenConfig, gen_changes, gen_pages
from giraffe_etl_spark.cdc.oracle import oracle_apply
from giraffe_etl_spark.lake.table import Table
from tests.test_plans import n_exchanges, plan_of

CHANGES_DDL = "lsn long, op string, url string, warc_ts timestamp, html binary"


def _sorted_rows(df):
    return [tuple(r) for r in df.orderBy("url").collect()]


@pytest.fixture()
def applier(spark, tmp_root):
    return CdcApplier(spark, tmp_root, n_buckets=8)


def _seed_and_apply(spark, applier, n_pages=80, n_changes=400):
    pages = gen_pages(n_pages)
    seed_pages(applier.pages, spark.createDataFrame(pages))
    cfg = ChangeGenConfig(n_keys=n_pages)
    changes = gen_changes(n_changes, cfg)
    applier.apply_batch(
        spark.createDataFrame(changes, CHANGES_DDL), batch_id=0
    )
    return pages, changes


def test_rescale_preserves_content_and_deltas(spark, applier):
    """8 -> 32: same rows before/after; delta files stay delta files."""
    _seed_and_apply(spark, applier)
    t = applier.pages
    before = _sorted_rows(read_pages(t))
    snap0 = t.current_snapshot()
    assert sum(len(v) for v in snap0.deltas.values()) > 0  # MOR batch landed

    snap1 = t.rescale_buckets(32)
    assert t.n_buckets() == 32
    assert sum(len(v) for v in snap1.deltas.values()) > 0, (
        "rescale must split deltas as deltas, not fold them"
    )
    assert _sorted_rows(read_pages(t)) == before


def test_rescale_rows_land_in_split_image_buckets(spark, applier):
    """Old bucket b's rows appear only in {b, b+8, b+16, b+24}."""
    _seed_and_apply(spark, applier)
    t = applier.pages
    old = t.read(with_bucket_col=True).select("url", "_bucket").collect()
    old_bucket = {r["url"]: r["_bucket"] for r in old}
    t.rescale_buckets(32)
    new = t.read(with_bucket_col=True).select("url", "_bucket").collect()
    assert len(new) == len(old)
    for r in new:
        assert r["_bucket"] % 8 == old_bucket[r["url"]], (
            f"{r['url']}: new bucket {r['_bucket']} is not a split image "
            f"of old bucket {old_bucket[r['url']]}"
        )


def test_rescale_plan_has_zero_exchanges(spark, applier):
    """The split frames rescale_buckets writes (base and deltas) are
    scan -> project: no shuffle at any size."""
    _seed_and_apply(spark, applier)
    t = applier.pages
    snap = t.current_snapshot()
    assert snap.buckets and snap.deltas
    for manifest in (snap.buckets, snap.deltas):
        plan = plan_of(t._rescale_split(snap, manifest, 32))
        assert n_exchanges(plan) == 0, plan


def test_rescale_validation(spark, applier):
    _seed_and_apply(spark, applier, n_pages=10, n_changes=20)
    t = applier.pages
    with pytest.raises(ValueError, match="integer factor"):
        t.rescale_buckets(12)  # not a multiple of 8
    with pytest.raises(ValueError, match="integer factor"):
        t.rescale_buckets(4)  # shrink unsupported
    snap = t.current_snapshot()
    assert t.rescale_buckets(8) is snap or t.n_buckets() == 8  # no-op


def test_applier_continues_after_rescale_matches_oracle(spark, tmp_root):
    """Apply at 8 buckets, rescale to 16, apply more: final == oracle."""
    applier = CdcApplier(spark, tmp_root, n_buckets=8)
    pages = gen_pages(60)
    seed_pages(applier.pages, spark.createDataFrame(pages))
    cfg = ChangeGenConfig(n_keys=60)
    changes = gen_changes(600, cfg)
    half = spark.createDataFrame(changes[changes.lsn < 900], CHANGES_DDL)
    rest = spark.createDataFrame(changes[changes.lsn >= 900], CHANGES_DDL)
    applier.apply_batch(half, batch_id=0)
    applier.pages.rescale_buckets(16)
    # a FRESH applier (as after a deploy) must see the new layout
    applier2 = CdcApplier(spark, tmp_root)
    assert applier2.pages.n_buckets() == 16
    applier2.apply_batch(rest, batch_id=1)
    got = read_pages(applier2.pages).toPandas().sort_values("url")
    want = oracle_apply(pages, changes).sort_values("url")
    assert list(got["url"]) == list(want["url"])
    assert list(got["text"]) == list(want["text"])


def test_rescale_is_rewrite_for_changelog(spark, applier):
    """read_changes refuses to cross a rescale, like any rewrite."""
    _seed_and_apply(spark, applier)
    t = applier.pages
    pre = t.current_snapshot().snapshot_id
    t.rescale_buckets(16)
    with pytest.raises(ValueError, match="rewrote"):
        t.read_changes(pre - 1)
