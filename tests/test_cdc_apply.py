"""End-to-end CDC apply vs the pandas oracle (FIXTURES.md §5).

Every test replays a deterministic change stream through the full
distributed path (quarantine -> canonical url -> dedup -> transforms ->
MERGE) and compares the final table to ``oracle_apply`` byte-for-byte
on (url, warc_ts, text, lang) and exactly on html bytes.
"""

import pandas as pd
import pytest

from giraffe_etl_spark.cdc import (
    CdcApplier,
    ChangeGenConfig,
    gen_changes,
    gen_pages,
    oracle_apply,
    oracle_quarantine,
    read_pages,
    seed_pages,
)

CHANGES_DDL = "lsn long, op string, url string, warc_ts timestamp, html binary"


def spark_changes(spark, pdf):
    return spark.createDataFrame(pdf, CHANGES_DDL)


def final_table(applier):
    pdf = read_pages(applier.pages).toPandas()
    return pdf.sort_values("url").reset_index(drop=True)


def assert_matches_oracle(applier, pages_pdf, changes_pdf):
    got = final_table(applier)
    want = oracle_apply(pages_pdf, changes_pdf).sort_values("url").reset_index(drop=True)
    assert len(got) == len(want), f"row count {len(got)} != oracle {len(want)}"
    if len(want) == 0:
        return
    pd.testing.assert_series_equal(got["url"], want["url"], check_names=False)
    pd.testing.assert_series_equal(
        got["warc_ts"], want["warc_ts"], check_names=False, check_dtype=False
    )
    pd.testing.assert_series_equal(got["text"], want["text"], check_names=False)
    pd.testing.assert_series_equal(got["lang"], want["lang"], check_names=False)
    for i, (g, w) in enumerate(zip(got["html"], want["html"])):
        gb = bytes(g) if g is not None else None
        assert gb == w, f"html bytes differ at row {i} ({got['url'][i]})"


@pytest.fixture()
def applier(spark, tmp_root):
    return CdcApplier(spark, tmp_root, n_buckets=8)


def test_single_batch_apply_matches_oracle(spark, applier):
    pages = gen_pages(60)
    cfg = ChangeGenConfig(n_keys=60)
    changes = gen_changes(300, cfg)
    seed_pages(applier.pages, spark.createDataFrame(pages))
    applier.apply_batch(spark_changes(spark, changes), batch_id=0)
    assert_matches_oracle(applier, pages, changes)


# hot_key_threshold per dedup route.  The ids keep the names of the
# dedup modes this matrix once compared; each selects a route of the
# one applier:
#   window     auto threshold: no hot key, the window over the
#              bucket-aligned exchange
#   agg        pinned 20: the stream's hot keys are detected, so the
#              batch takes the map-side-combined aggregate
#   rank_join  pinned 1: every sampled key is hot, so keys whose latest
#              event is invalid go through the aggregate too
DEDUP_ROUTES = {"window": None, "agg": 20, "rank_join": 1}


@pytest.mark.parametrize("dedup_mode", ["agg", "window", "rank_join"])
@pytest.mark.parametrize("materialize", ["keys", "batch"])
def test_apply_modes_match_oracle_with_malformed(
    spark, tmp_root, dedup_mode, materialize
):
    """Every (plan source x dedup route) pair matches the oracle on a
    stream with a quarter malformed rows.

    ``materialize`` picks where the skew plan comes from: ``batch`` is
    the cold-start sample of the batch itself (one batch), ``keys`` is
    the stored per-key profile (a first half teaches it, the second
    half plans from it with no planning job).  Both are a validity
    SUPERSET (the sample drops only null or empty urls): a key whose
    max (warc_ts, lsn) event is invalid must still apply its best
    VALID event, never vanish.
    """
    pages = gen_pages(30)
    cfg = ChangeGenConfig(n_keys=30, malformed_frac=0.25, hot_frac=0.5,
                          n_hot_keys=3)
    changes = gen_changes(400, cfg)
    a = CdcApplier(
        spark,
        tmp_root + f"/{dedup_mode}_{materialize}",
        n_buckets=8,
        hot_key_threshold=DEDUP_ROUTES[dedup_mode],
    )
    seed_pages(a.pages, spark.createDataFrame(pages))
    if materialize == "batch":
        res = a.apply_batch(spark_changes(spark, changes), batch_id=0)
        assert res.phase_ms["plan_collect"] > 0  # the cold-start sample ran
    else:
        a.apply_batch(spark_changes(spark, changes.iloc[:200]), batch_id=0)
        res = a.apply_batch(spark_changes(spark, changes.iloc[200:]), batch_id=1)
        assert res.phase_ms["plan_collect"] == 0  # planned from the profile
    if dedup_mode == "window":
        assert res.hot_keys_detected == 0
    elif dedup_mode == "agg":
        assert 1 <= res.hot_keys_detected <= 3
    else:
        assert res.hot_keys_detected > 3
    assert_matches_oracle(a, pages, changes)


def test_multi_batch_apply_matches_oracle(spark, applier):
    pages = gen_pages(40)
    cfg = ChangeGenConfig(n_keys=40)
    changes = gen_changes(400, cfg)
    seed_pages(applier.pages, spark.createDataFrame(pages))
    for b, lo in enumerate(range(0, 400, 100)):
        chunk = changes.iloc[lo : lo + 100]
        applier.apply_batch(spark_changes(spark, chunk), batch_id=b)
    assert_matches_oracle(applier, pages, changes)


def test_empty_initial_table(spark, applier):
    cfg = ChangeGenConfig(n_keys=30)
    changes = gen_changes(200, cfg)
    empty_pages = gen_pages(0)
    applier.apply_batch(spark_changes(spark, changes), batch_id=0)
    assert_matches_oracle(applier, empty_pages, changes)


def test_late_delete_does_not_resurrect(spark, applier):
    """Tombstone semantics: D at ts=10 beats later-arriving I at ts=8."""
    rows = pd.DataFrame(
        {
            "lsn": [1, 2],
            "op": ["D", "I"],
            "url": ["http://x.org/a", "http://x.org/a"],
            "warc_ts": [
                pd.Timestamp("2024-01-02 00:00:10"),
                pd.Timestamp("2024-01-02 00:00:08"),
            ],
            "html": [None, b"<p>zombie</p>"],
        }
    )
    applier.apply_batch(spark_changes(spark, rows.iloc[[0]]), batch_id=0)
    applier.apply_batch(spark_changes(spark, rows.iloc[[1]]), batch_id=1)
    assert final_table(applier).empty
    assert_matches_oracle(applier, gen_pages(0), rows)


def test_equal_warc_ts_lsn_tiebreak(spark, applier):
    """Exact (url, warc_ts) duplicates: higher lsn wins, also across batches."""
    ts = pd.Timestamp("2024-01-02 00:00:00")
    rows = pd.DataFrame(
        {
            "lsn": [5, 9],
            "op": ["I", "U"],
            "url": ["http://x.org/t", "http://x.org/t"],
            "warc_ts": [ts, ts],
            "html": [b"<p>first</p>", b"<p>second</p>"],
        }
    )
    applier.apply_batch(spark_changes(spark, rows.iloc[[1]]), batch_id=0)
    applier.apply_batch(spark_changes(spark, rows.iloc[[0]]), batch_id=1)
    got = final_table(applier)
    # lsn 9 applied in batch 0; lsn 5 (same ts, lower lsn) arrives later
    # but must NOT overwrite — cross-batch LWW uses the stored _lsn
    assert got["text"].tolist() == ["second"]
    assert_matches_oracle(applier, gen_pages(0), rows)


def test_quarantine_routing(spark, applier):
    cfg = ChangeGenConfig(n_keys=30, malformed_frac=0.1)
    changes = gen_changes(300, cfg)
    pages = gen_pages(30)
    seed_pages(applier.pages, spark.createDataFrame(pages))
    res = applier.apply_batch(spark_changes(spark, changes), batch_id=0)
    want_bad = oracle_quarantine(changes)
    assert res.rows_quarantined == len(want_bad)
    got_bad = applier.quarantine.read().toPandas()
    assert len(got_bad) == len(want_bad)
    assert set(got_bad["reason"]) == set(want_bad["reason"])
    assert_matches_oracle(applier, pages, changes)  # bad rows never applied


def test_url_canonicalization_merges_aliases(spark, applier):
    """Alias urls (www, port 80, index.html) collapse to one canonical key."""
    rows = pd.DataFrame(
        {
            "lsn": [1, 2, 3],
            "op": ["I", "U", "U"],
            "url": [
                "http://www.site.org/a/index.html",
                "HTTP://site.org:80/a/",
                "http://site.org/a/b/../",
            ],
            "warc_ts": pd.to_datetime(
                ["2024-01-02 00:00:01", "2024-01-02 00:00:02", "2024-01-02 00:00:03"]
            ),
            "html": [b"<p>one</p>", b"<p>two</p>", b"<p>three</p>"],
        }
    )
    applier.apply_batch(spark_changes(spark, rows), batch_id=0)
    got = final_table(applier)
    assert got["url"].tolist() == ["http://site.org/a/"]
    assert got["text"].tolist() == ["three"]
    assert_matches_oracle(applier, gen_pages(0), rows)


def test_zipf_batch_engages_salted_path(spark, tmp_root):
    """A skewed batch must actually detect its hot keys and take the
    map-side-combined aggregate (the path once salted, hence the name).

    hot_frac=0.5 over 3 hot keys -> ~83 events/key vs auto threshold
    max(64, 4*500/8)=250... so pin a threshold the skew exceeds, and
    separately check the auto threshold engages at realistic skew.
    """
    cfg = ChangeGenConfig(n_keys=50, hot_frac=0.5, n_hot_keys=3)
    changes = gen_changes(500, cfg)
    pages = gen_pages(50)
    w = CdcApplier(spark, tmp_root + "/win", n_buckets=8, hot_key_threshold=20)
    seed_pages(w.pages, spark.createDataFrame(pages))
    res = w.apply_batch(spark_changes(spark, changes), batch_id=0)
    assert res.hot_keys_detected >= 3, "aggregate path must engage on zipf skew"
    assert_matches_oracle(w, pages, changes)
    # lineage: the engagement is recorded in the metrics table
    m = w.metrics.read().toPandas()
    hot_rows = m[m.stage == "hot_keys"]
    assert int(hot_rows["rows"].iloc[0]) >= 3


def test_auto_threshold_engages_on_heavy_skew(spark, tmp_root):
    """Default (auto) threshold: a key holding ~half the batch is hot."""
    cfg = ChangeGenConfig(n_keys=200, hot_frac=0.6, n_hot_keys=1)
    changes = gen_changes(2000, cfg)
    pages = gen_pages(0)
    w = CdcApplier(spark, tmp_root + "/auto", n_buckets=8)
    seed_pages(
        w.pages,
        spark.createDataFrame(
            pages, "url string, warc_ts timestamp, html binary, text string, lang string"
        ),
    )
    res = w.apply_batch(spark_changes(spark, changes), batch_id=0)
    assert res.hot_keys_detected >= 1
    assert_matches_oracle(w, pages, changes)


def test_empty_limit0_batch_keys_mode(spark, tmp_root):
    """A .limit(0) batch (optimizer collapses the scan to an empty
    LocalRelation; the merge job's Observation resolves to zero) must
    apply as a clean zero-row batch, and the stream must keep working
    after.
    """
    pages = gen_pages(5)
    a = CdcApplier(spark, tmp_root + "/l0", n_buckets=4)
    seed_pages(a.pages, spark.createDataFrame(pages))
    empty = spark_changes(spark, gen_changes(10, ChangeGenConfig(n_keys=5))).limit(0)
    res = a.apply_batch(empty, batch_id=0)
    assert res.rows_in == 0 and res.rows_quarantined == 0 and not res.skipped
    changes = gen_changes(100, ChangeGenConfig(n_keys=5))
    a.apply_batch(spark_changes(spark, changes), batch_id=1)
    assert_matches_oracle(a, pages, changes)


def test_observation_failure_surfaces(spark, applier, monkeypatch):
    """A failing Observation is an error, never a plausible count: the
    valid-row count must not silently become the quarantine count."""
    from pyspark.sql import Observation

    def broken(self):
        raise RuntimeError("observation lost")

    seed_pages(applier.pages, spark.createDataFrame(gen_pages(10)))
    changes = gen_changes(100, ChangeGenConfig(n_keys=10, malformed_frac=0.2))
    monkeypatch.setattr(Observation, "get", property(broken))
    with pytest.raises(RuntimeError, match="observation lost"):
        applier.apply_batch(spark_changes(spark, changes), batch_id=0)


def _oracle_winner_count(changes):
    """Distinct canonical keys among the batch's valid events."""
    from giraffe_etl_spark.cdc.oracle import validity_reason
    from giraffe_etl_spark.functions.url import normalize_url_simple

    return len(
        {
            normalize_url_simple(r.url)
            for r in changes.itertuples(index=False)
            if validity_reason(r.op, r.url, r.warc_ts, r.html) is None
        }
    )


def test_rows_winners_is_the_committed_delta_rows(spark, applier):
    """rows_winners is read off the committed manifest diff (one delta
    row per winner), on a batch with malformed rows and on a .limit(0)
    batch whose plan collapses to an empty relation."""
    pages = gen_pages(40)
    changes = gen_changes(300, ChangeGenConfig(n_keys=40, malformed_frac=0.2))
    seed_pages(applier.pages, spark.createDataFrame(pages))
    res = applier.apply_batch(spark_changes(spark, changes), batch_id=0)
    assert res.rows_quarantined > 0
    want = _oracle_winner_count(changes)
    assert res.rows_winners == sum(n for _, n in res.per_bucket) == want > 0
    m = applier.metrics.read().toPandas()
    assert int(m[m.stage == "winners"]["rows"].iloc[0]) == want

    empty = spark_changes(spark, changes).limit(0)
    res = applier.apply_batch(empty, batch_id=1)
    assert res.rows_winners == sum(n for _, n in res.per_bucket) == 0
    assert res.buckets_touched == 0 and not res.skipped
    assert_matches_oracle(applier, pages, changes)


def test_stream_properties_do_not_grow_with_batches(spark, applier):
    """Every table property lands in every later snapshot's manifest,
    so the offset log must be a FIXED key set per stream: the head's
    stream.* keys after three batches are those after one."""
    changes = gen_changes(300, ChangeGenConfig(n_keys=30))
    keys = []
    for b in range(3):
        chunk = changes.iloc[100 * b : 100 * (b + 1)]
        applier.apply_batch(spark_changes(spark, chunk), batch_id=b)
        props = applier.pages.properties
        keys.append(sorted(k for k in props if k.startswith("stream.")))
    assert keys[0] == keys[1] == keys[2], keys


def test_sampled_planning_matches_oracle(spark, tmp_root):
    """Cold-start planning reads hot keys from a sample; touched
    buckets and counts come from the commit.  Neither may change ANY
    answer — only the number of passes over the batch.  Skew included:
    the pinned threshold raises the sample fraction so the aggregate
    path engages.
    """
    cfg = ChangeGenConfig(n_keys=50, hot_frac=0.5, n_hot_keys=3)
    changes = gen_changes(800, cfg)
    pages = gen_pages(50)
    p = CdcApplier(spark, tmp_root, n_buckets=8, hot_key_threshold=20)
    seed_pages(p.pages, spark.createDataFrame(pages))
    res = p.apply_batch(spark_changes(spark, changes), batch_id=0)
    assert res.phase_ms["plan_collect"] > 0  # the cold-start sample ran
    assert res.rows_in == len(changes)  # exact, from the merge job
    assert res.hot_keys_detected >= 3
    assert res.buckets_touched > 0
    assert_matches_oracle(p, pages, changes)


@pytest.mark.parametrize("mode", ["range", "bernoulli"])
def test_plan_sample_modes_match_oracle(spark, tmp_root, mode, monkeypatch):
    """The input picks the cold-start sample: an lsn window when the
    batch carries its lsn_range (replay passes it; pushdown, O(sample)
    scan), a row-level Bernoulli sample when it does not.  Both feed
    only heuristics (skew salting, size estimate), never answers."""
    from giraffe_etl_spark.cdc.replay import replay

    monkeypatch.setattr(CdcApplier, "PLAN_SAMPLE", 0.1)
    sampled = []
    df_class = type(spark.range(1))
    real_sample = df_class.sample

    def spy(self, *args, **kwargs):
        sampled.append(kwargs.get("fraction"))
        return real_sample(self, *args, **kwargs)

    monkeypatch.setattr(df_class, "sample", spy)
    a = CdcApplier(spark, tmp_root, n_buckets=8)
    pages = gen_pages(40)
    cfg = ChangeGenConfig(n_keys=40, late_frac=0.1, dup_frac=0.05,
                          malformed_frac=0.05)
    seed_pages(a.pages, spark.createDataFrame(pages))
    if mode == "range":
        replay(a, spark, n_events=300, batch_size=100, cfg=cfg)
        assert sampled == []
    else:
        changes = gen_changes(300, cfg)
        for b in range(3):
            chunk = changes.iloc[100 * b : 100 * (b + 1)]
            a.apply_batch(spark_changes(spark, chunk), batch_id=b)
        assert sampled == [0.1]  # the cold start only
    assert_matches_oracle(a, pages, gen_changes(300, cfg))


def test_quarantine_thread_is_joined_when_merge_fails(spark, tmp_root, monkeypatch):
    """If the merge raises, the background quarantine commit must be
    complete (joined) by the time apply_batch surfaces the error — a
    daemon thread still committing would race follow-up maintenance."""
    a = CdcApplier(spark, tmp_root, n_buckets=4)
    seed_pages(a.pages, spark.createDataFrame(gen_pages(10)))
    cfg = ChangeGenConfig(n_keys=10, malformed_frac=0.3)
    changes = gen_changes(60, cfg)
    n_bad = len(oracle_quarantine(changes))
    assert n_bad > 0

    def boom(*args, **kwargs):
        raise RuntimeError("merge exploded")

    monkeypatch.setattr(a, "_merge_mor", boom)
    with pytest.raises(RuntimeError, match="merge exploded"):
        a.apply_batch(spark_changes(spark, changes), batch_id=0)
    # joined-in-finally: the quarantine rows are already committed HERE,
    # not eventually
    assert a.quarantine.read().count() == n_bad


# ---- adaptive planning (round-5: fold the plan into the merge) -------------


def test_adaptive_steady_state_runs_zero_planning_jobs(spark, tmp_root):
    """Batch 0 (cold start) pays the one sample pass; every later batch
    plans from the previous batch's harvested statistics — its
    plan_collect phase must be exactly 0 ms (no job, not just a fast
    one) while results stay oracle-exact."""
    cfg = ChangeGenConfig(n_keys=40, late_frac=0.05, dup_frac=0.02,
                          malformed_frac=0.02)
    changes = gen_changes(400, cfg)
    a = CdcApplier(spark, tmp_root, n_buckets=4)
    seed_pages(a.pages, spark.createDataFrame(gen_pages(40)))
    r0 = a.apply_batch(spark_changes(spark, changes.iloc[:200]), batch_id=0)
    assert a._plan_stats is not None and a._plan_stats["n_valid"] > 0
    r1 = a.apply_batch(spark_changes(spark, changes.iloc[200:]), batch_id=1)
    assert r1.phase_ms["plan_collect"] == 0, r1.phase_ms
    assert r0.rows_in == 200 and r1.rows_in == 200  # exact counts kept
    assert_matches_oracle(a, gen_pages(40), changes)


def test_adaptive_salts_from_harvest_on_next_batch(spark, tmp_root):
    """A skewed batch teaches the harvest; the NEXT batch detects its
    hot keys without any planning job.  (Here the cold start samples,
    so batch 0 detects too — the assertion that matters is batch 1
    detecting WITH plan_collect == 0.)"""
    cfg = ChangeGenConfig(n_keys=50, hot_frac=0.5, n_hot_keys=3)
    changes = gen_changes(1000, cfg)
    a = CdcApplier(spark, tmp_root, n_buckets=8, hot_key_threshold=20)
    seed_pages(a.pages, spark.createDataFrame(gen_pages(50)))
    a.apply_batch(spark_changes(spark, changes.iloc[:500]), batch_id=0)
    res = a.apply_batch(spark_changes(spark, changes.iloc[500:]), batch_id=1)
    assert res.phase_ms["plan_collect"] == 0
    assert res.hot_keys_detected >= 3, "harvested stats must detect hot keys"
    assert_matches_oracle(a, gen_pages(50), changes)


def test_adaptive_stats_survive_process_restart(spark, tmp_root):
    """The skew profile lives in the applier only: a fresh applier over
    the same root plans its first batch from one cold sample (a
    planning job runs), stays oracle-exact, and no manifest carries a
    persisted profile."""
    cfg = ChangeGenConfig(n_keys=30, dup_frac=0.05)
    changes = gen_changes(300, cfg)
    a1 = CdcApplier(spark, tmp_root, n_buckets=4)
    seed_pages(a1.pages, spark.createDataFrame(gen_pages(30)))
    a1.apply_batch(spark_changes(spark, changes.iloc[:100]), batch_id=0)
    a1.apply_batch(spark_changes(spark, changes.iloc[100:200]), batch_id=1)

    a2 = CdcApplier(spark, tmp_root, n_buckets=4)
    assert a2._plan_stats is None
    r = a2.apply_batch(spark_changes(spark, changes.iloc[200:]), batch_id=2)
    assert r.phase_ms["plan_collect"] > 0, r.phase_ms
    assert_matches_oracle(a2, gen_pages(30), changes)
    snap = a2.pages.current_snapshot()
    while True:
        assert not any(k.endswith("plan.stats") for k in snap.properties), snap
        if snap.parent_id is None:
            break
        snap = a2.pages.snapshot_at(snap.parent_id)


def test_adaptive_planning_matches_oracle(spark, tmp_root, monkeypatch):
    """Planning from harvested statistics may never change an answer:
    a skewed replay whose later batches detect hot keys from the harvest
    (one refresh mid-stream) matches the oracle.  The refresh runs on a
    skewed batch, so its counts come from the aggregate's ``_events``:
    the batch after it must still detect the hot keys."""
    from giraffe_etl_spark.cdc.replay import replay

    monkeypatch.setattr(CdcApplier, "HARVEST_EVERY", 2)
    cfg = ChangeGenConfig(n_keys=50, hot_frac=0.5, n_hot_keys=3,
                          late_frac=0.1, dup_frac=0.05, malformed_frac=0.05)
    a = CdcApplier(spark, tmp_root, n_buckets=8, hot_key_threshold=20)
    seed_pages(a.pages, spark.createDataFrame(gen_pages(50)))
    rep = replay(a, spark, n_events=600, batch_size=200, cfg=cfg)
    assert a._plan_stats["age"] == 0  # batch 2 refreshed the profile
    assert rep.batches[-1].hot_keys_detected >= 3
    after = replay(a, spark, n_events=800, batch_size=200, cfg=cfg).batches
    assert [r.batch_id for r in after] == [3]
    assert after[0].phase_ms["plan_collect"] == 0
    assert after[0].hot_keys_detected >= 3
    assert_matches_oracle(a, gen_pages(50), gen_changes(800, cfg))


def test_adaptive_harvest_refreshes_on_cadence(spark, tmp_root, monkeypatch):
    """The exact harvest is sampled in time: it runs only when the
    cached profile's age reaches HARVEST_EVERY, then resets it —
    steady-state batches in between carry zero harvest cost."""
    cfg = ChangeGenConfig(n_keys=20, dup_frac=0.05)
    changes = gen_changes(300, cfg)
    monkeypatch.setattr(CdcApplier, "PLAN_SAMPLE", 0.5)
    monkeypatch.setattr(CdcApplier, "HARVEST_EVERY", 2)
    a = CdcApplier(spark, tmp_root, n_buckets=4)
    seed_pages(a.pages, spark.createDataFrame(gen_pages(20)))
    a.apply_batch(spark_changes(spark, changes.iloc[:100]), batch_id=0)
    assert a._plan_stats["age"] == 0  # cold start seeded from the sample
    a.apply_batch(spark_changes(spark, changes.iloc[100:200]), batch_id=1)
    assert a._plan_stats["age"] == 1  # cached, no refresh yet
    a.apply_batch(spark_changes(spark, changes.iloc[200:]), batch_id=2)
    assert a._plan_stats["age"] == 0  # cadence hit: exact harvest ran
    assert_matches_oracle(a, gen_pages(20), changes)


def test_parquet_log_source_opens_without_jobs(spark, tmp_root):
    """A batch of a staged change log opens with the log's known schema:
    building the frame runs no Spark job (no schema inference), and it
    holds exactly the batch's rows."""
    import os

    from tests.test_lake import jobs_run

    from giraffe_etl_spark.cdc.replay import parquet_log_source, stage_change_log

    path = os.path.join(tmp_root, "log")
    stage_change_log(spark, path, 300, segment_rows=100)
    src = parquet_log_source(path)
    df, jobs = jobs_run(spark, lambda: src(spark, None, 100, 200))
    assert jobs == []
    want = gen_changes(300, ChangeGenConfig())
    want = want[(want.lsn >= 300) & (want.lsn < 600)]
    assert sorted((r.lsn, r.op, r.url) for r in df.collect()) == sorted(
        zip(want.lsn, want.op, want.url)
    )
