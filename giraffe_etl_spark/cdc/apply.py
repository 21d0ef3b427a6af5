r"""The apply stage: idempotent, exactly-once MERGE of a change batch.

Pipeline per batch (SURVEY.md §3.4):

    changes --split--> quarantine table (dead letter, with reasons)
        \--valid--> canonical url --> dedup winners (1 shuffle)
                    --> vectorized transforms (text, lang)
                    --> MERGE into pages: winners append as DELTA
                          files, O(batch) bytes, zero target reads;
                          reads reconcile per key (lake/table.py)
                    --> single atomic commit: data + offsets

Exactly-once: the batch id / LSN range is written into the *same*
snapshot commit as the data (lake Table properties = Iceberg snapshot
summary).  Re-applying a batch whose id <= the committed watermark is
detected up front and becomes a no-op, so crash-replay converges to the
identical snapshot.

Last-writer-wins across batches: the table keeps two engine columns —
``_lsn`` (lsn of the event that produced the row; -1 for seed rows) and
``_deleted`` (tombstone flag).  Tombstones must be retained: a delete
at warc_ts=T must beat a *later-arriving* insert with warc_ts<T.  A
compaction that drops tombstones older than an event-time watermark is
provided separately (``compact_tombstones``).
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..lake import Table
from ..session import _conf_pinned
from .plan import (
    batch_exprs,
    dedup_winners_agg,
    dedup_winners_window,
    key_stats_two_level,
    tag_batch,
)

PAGES_PUBLIC = "url string, warc_ts timestamp, html binary, text string, lang string"
# minimum per-key event count for a key to enter the hot-key candidate
# harvest (matches the auto-threshold floor in _resolve_hot_threshold)
_HOT_FLOOR = 64
ENGINE_COLS = ["_lsn", "_deleted"]

QUARANTINE_SCHEMA = (
    "lsn long, op string, url string, warc_ts timestamp, html binary, "
    "reason string, batch_id long"
)
METRICS_SCHEMA = (
    "stream_id string, batch_id long, stage string, bucket int, rows long, "
    "wall_ms long"
)


def _rows(entries: list[dict]) -> int:
    """Rows in a list of manifest file entries (parquet footer counts)."""
    return sum(fi["rows"] for fi in entries)


def _top_keys(keep) -> F.Column:
    """The 64 largest (_events, url) structs among rows where ``keep``."""
    return F.slice(
        F.sort_array(
            F.collect_list(F.when(keep, F.struct("_events", "url"))), asc=False
        ),
        1,
        64,
    )


def pages_internal_schema(extra: str = "") -> StructType:
    ddl = PAGES_PUBLIC + ", _lsn long, _deleted boolean"
    if extra:
        ddl += ", " + extra
    return StructType.fromDDL(ddl)


def create_pages_table(
    spark: SparkSession, path: str, n_buckets: int = 32, io=None
) -> Table:
    return Table.create(
        spark,
        path,
        pages_internal_schema(),
        bucket_key="url",
        n_buckets=n_buckets,
        io=io,
        properties={
            # merge-on-read reconcile spec: winner per url by LWW on
            # (warc_ts, _lsn) — the same total order the merge uses
            "merge.key": "url",
            "merge.order": "warc_ts,_lsn",
            # footer min/max recorded per data file: lets
            # compact_tombstones skip buckets with no old tombstones
            "stats.cols": "warc_ts,_deleted",
        },
    )


def seed_pages(table: Table, pages: DataFrame) -> None:
    """Load the initial pages table (seed rows get _lsn = -1)."""
    df = pages.withColumn("_lsn", F.lit(-1).cast("long")).withColumn(
        "_deleted", F.lit(False)
    )
    table.append(df)


def read_pages(table: Table, snap=None) -> DataFrame:
    """Public view: live rows only, engine columns hidden.

    ``snap``: optional time travel — read the table AS OF that
    ``Snapshot`` (from ``table.snapshot_at``) instead of the head.
    Same schema-id-aware, MOR-reconciled scan; snapshot isolation means
    the historical state is byte-stable no matter how many commits,
    compactions or evolutions landed since (until snapshot expiry).
    """
    df = table.read(snap)
    keep = [c for c in df.columns if c not in ENGINE_COLS]
    return df.filter(~F.col("_deleted")).select(*keep)


@dataclass
class MaintenancePolicy:
    """Self-maintenance cadence for a long-running apply loop.

    A real table service compacts deltas and expires history on its
    own; a 10^10-event replay must too, or read-time reconcile cost and
    metadata size grow without bound.  Cadences key off the BATCH ID
    (deterministic, so a kill-resume replay makes the same maintenance
    decisions it would have made uninterrupted — idempotent like the
    batches themselves).

    ``compact_every``: batches between delta-compaction sweeps
    (buckets above ``max_delta_files`` delta files are folded into
    base).  ``expire_every``: batches between snapshot-expiry sweeps
    keeping ``keep_last`` snapshots per table.  Either cadence can be
    None to disable that sweep.  Maintenance runs OUTSIDE the timed
    apply (replay/stream call ``maintain`` after the commit), so batch
    latency metrics stay comparable.
    """

    compact_every: int | None = 8
    max_delta_files: int = 8
    expire_every: int | None = 16
    keep_last: int = 12
    orphan_min_age_s: float = 3600.0
    include_side_tables: bool = True


class BatchRaced(Exception):
    """A concurrent applier committed this batch id during our commit.

    Raised by the watermark guard inside the commit-retry loop
    (``Table._retry_commit``): we lost the optimistic-concurrency race
    AND the fresh snapshot shows our own batch already applied — the
    only safe move is to NOT retry (retrying would apply the batch
    twice).  ``apply_batch`` converts this into a skipped
    ``ApplyResult``; the already-written delta files are unreferenced
    and reaped by ``expire_snapshots``.
    """


@dataclass
class ApplyResult:
    batch_id: int
    skipped: bool = False
    rows_in: int = 0
    rows_quarantined: int = 0
    rows_winners: int = 0
    buckets_touched: int = 0
    wall_ms: int = 0
    per_bucket: list = field(default_factory=list)  # (bucket, rows_applied)
    phase_ms: dict = field(default_factory=dict)  # stage -> wall ms
    hot_keys_detected: int = 0  # keys above the hot-key threshold


class CdcApplier:
    """Owns the target pages table + quarantine + metrics side tables.

    One pipeline per batch, each step a method named after its
    ``phase_ms`` key: the quarantine route (``_quarantine``) runs on a
    concurrent driver thread; ``_plan`` reads the skew profile (one
    cold-start sample, then the profile harvested from earlier
    batches); ``_dedup`` keeps the last-writer-wins event per url;
    ``_merge_mor`` writes the winners as delta files and commits them
    with the offset log in ONE snapshot.

    The change batch itself is never cached: only tiny per-key
    aggregates are built, and the (columnar, prunable) source is re-read
    per job.  Correct whenever the source is deterministic and
    re-readable (a binlog/WAL tail, a parquet change log, a generator —
    all are).  A 10^8-event batch of ~50 KB pages is terabytes;
    re-reading the columnar source (the plan sample prunes to 3 tiny
    columns, the merge reads payload once) beats materializing it
    cluster-wide — the same trade Iceberg's own MERGE planning makes.

    ``hot_key_threshold``: events-per-key above which a key is hot.
    A batch with any hot key dedups with one map-side-combined
    aggregate instead of the window (see ``_dedup``).  ``None``
    (default) = auto — 4x the mean events-per-shuffle-partition, floor
    64 (see ``_resolve_hot_threshold``); ``0`` disables hot-key
    detection, so every batch takes the window; an int pins the
    threshold.

    AQE is off for the duration of every ``apply_batch`` and restored
    after it.  It has nothing to decide on the apply path (partition
    counts are pinned: the aligned exchange must divide ``n_buckets``;
    skew is handled by the dedup chosen from the detected hot keys),
    and its stage-by-stage scheduling measured 7.4 s -> 3.8 s fixed
    cost per warm batch at local[4] with it off.  Appliers sharing a
    session share the pin (``_conf_pinned`` counts holders).  The pin
    is session-global: a query planned CONCURRENTLY in the same
    SparkSession (user jobs beside foreachBatch) plans with AQE off
    too, so an applier that shares a session with other work gets its
    own ``spark.newSession()`` (separate conf, shared cluster).

    The skew profile lives in memory only: a new applier (a restarted
    process) plans its first batch from one cold-start sample.
    """

    # Cold-start plan sample: the fraction of the batch the first
    # batch's planning aggregate reads (raised for pinned small
    # thresholds, see ``_plan_fraction``).
    PLAN_SAMPLE = 0.02
    # Refresh the harvested skew profile every this many batches.  The
    # harvest adds a full-partition count frame to the dedup window,
    # which disables Spark's WindowGroupLimit streaming optimization for
    # that one batch (measured ~15% on the merge job), so it is sampled
    # in TIME: steady-state batches plan from the cached profile at zero
    # cost and at most 1/HARVEST_EVERY of batches pay the refresh.
    # Skew-drift detection latency is bounded by HARVEST_EVERY batches;
    # a drifted profile costs only window-dedup (correct, slower)
    # batches in that window.
    HARVEST_EVERY = 8

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 32,
        stream_id: str = "default",
        hot_key_threshold: int | None = None,
        compact_threshold: int = 16,
        io=None,
        maintenance: MaintenancePolicy | None = None,
    ):
        self.maintenance = maintenance
        self.spark = spark
        self.root = root
        self.stream_id = stream_id
        self.hot_key_threshold = hot_key_threshold
        # MOR maintenance: fold a bucket's deltas into its base when it
        # accumulates more than this many delta files (0 disables)
        self.compact_threshold = compact_threshold
        # prebuilt (reason, canonical-url) expression pair: constructing
        # the normalize tree costs ~1 s of driver-side py4j calls, a
        # pure serial cost per batch if rebuilt — build once, reuse.
        # A SECOND independent instance exists for the quarantine
        # route, which plans its query on a concurrent driver thread:
        # the normalize tree contains higher-order-function lambdas,
        # and lambda variables carry MUTABLE evaluation state — two
        # threads optimizing (constant-folding) plans that share the
        # same lambda instances race and can fold WRONG values into a
        # plan (observed: alias urls failing to merge under load).
        # Column trees must never be shared across planning threads.
        self._exprs = batch_exprs()
        self._exprs_quarantine = batch_exprs()
        # ``io``: metadata FileIO for every table this applier owns
        # (pages + side tables).  None = POSIX; pass a
        # MemoryObjectStoreIO (or an S3-class impl) to keep ALL commit
        # metadata on object-store semantics — lake/fileio.py.
        self._io = io
        pages_path = os.path.join(root, "pages")
        if Table.exists(pages_path, io=io):
            self.pages = Table.load(spark, pages_path, io=io)
            p = self.pages.properties
            if not (p.get("merge.key") and p.get("merge.order")):
                # adopt a pre-MOR table: declare the reconcile spec
                self.pages.set_properties(
                    {
                        "merge.key": "url",
                        "merge.order": "warc_ts,_lsn",
                        "stats.cols": "warc_ts,_deleted",
                    }
                )
        else:
            self.pages = create_pages_table(spark, pages_path, n_buckets, io=io)
        self.quarantine = self._side_table("quarantine", QUARANTINE_SCHEMA, "url")
        self.metrics = self._side_table("metrics", METRICS_SCHEMA, "stream_id")
        # planning statistics (fractions-of-batch hot keys + a valid
        # count): seeded by the cold-start sample, refreshed by the
        # merges' harvest
        self._plan_stats: dict | None = None

    def _side_table(self, name: str, ddl: str, key: str) -> Table:
        path = os.path.join(self.root, name)
        if Table.exists(path, io=self._io):
            return Table.load(self.spark, path, io=self._io)
        return Table.create(
            self.spark, path, StructType.fromDDL(ddl), bucket_key=key,
            n_buckets=4, io=self._io,
        )

    # ---- offset log -------------------------------------------------------

    def last_committed_batch(self) -> int:
        return int(
            self.pages.properties.get(f"stream.{self.stream_id}.last_batch", "-1")
        )

    # ---- self-maintenance ---------------------------------------------------

    def maintain(self, batch_id: int) -> dict:
        """Run due maintenance after ``batch_id`` committed.

        Driven by ``self.maintenance`` (a ``MaintenancePolicy``; None =
        caller manages maintenance explicitly).  Cadences are a pure
        function of the batch id, so a resumed replay repeats the same
        schedule.  Returns what ran (empty dict = nothing due).
        """
        pol = self.maintenance
        if pol is None:
            return {}
        out: dict = {}
        if pol.compact_every and (batch_id + 1) % pol.compact_every == 0:
            out["compacted_buckets"] = self.pages.compact_deltas(
                max_delta_files=pol.max_delta_files
            )
        if pol.expire_every and (batch_id + 1) % pol.expire_every == 0:
            tables = [("pages", self.pages)]
            if pol.include_side_tables:
                tables += [("quarantine", self.quarantine),
                           ("metrics", self.metrics)]
            for name, t in tables:
                out[f"{name}_expired"] = t.expire_snapshots(
                    keep_last=pol.keep_last,
                    orphan_min_age_s=pol.orphan_min_age_s,
                )
        return out

    # ---- the apply ---------------------------------------------------------

    def apply_batch(
        self, changes: DataFrame, batch_id: int, lsn_range: tuple[int, int] | None = None
    ) -> ApplyResult:
        t0 = time.monotonic()
        if batch_id <= self.last_committed_batch():
            # exactly-once guard: replayed batch is a committed no-op
            return ApplyResult(batch_id=batch_id, skipped=True)

        # AQE off for the duration of this batch (see the class
        # docstring, including its multi-tenant caveat)
        try:
            with _conf_pinned(self.spark, {"spark.sql.adaptive.enabled": "false"}):
                return self._apply_batch_inner(changes, batch_id, lsn_range, t0)
        except BatchRaced:
            # a concurrent applier won the commit race with this very
            # batch id — exactly-once means our copy must not land
            return ApplyResult(batch_id=batch_id, skipped=True)

    def _watermark_guard(self, batch_id: int):
        """Abort a commit retry if the fresh snapshot covers batch_id."""
        key = f"stream.{self.stream_id}.last_batch"

        def guard(fresh) -> None:
            if int(fresh.properties.get(key, "-1")) >= batch_id:
                raise BatchRaced(batch_id)

        return guard

    def _apply_batch_inner(
        self,
        changes: DataFrame,
        batch_id: int,
        lsn_range: tuple[int, int] | None,
        t0: float,
    ) -> ApplyResult:
        phases: dict[str, int] = {}
        # ONE projection over the source: validity tagging + canonical
        # key.  The exact valid-row count rides the merge job as an
        # observation — the batch is scanned once.
        tagged = tag_batch(changes, exprs=self._exprs)
        obs_v = Observation()
        valid = (
            tagged.filter(F.col("_reason").isNull())
            .drop("_reason")
            .observe(obs_v, F.count(F.lit(1)).alias("n_valid"))
        )
        t_p = time.monotonic()
        phases["setup"] = int((t_p - t0) * 1000)
        q_thread, q_box = self._start_quarantine(changes, batch_id)
        try:
            n_valid, hot_candidates = self._plan(changes, batch_id, lsn_range, phases)
            phases["plan"] = int((time.monotonic() - t_p) * 1000)
            winners, n_hot, obs_h = self._dedup(valid, n_valid, hot_candidates)
            result = self._merge_mor(winners, batch_id, lsn_range, phases)
        finally:
            # join even when the merge raises (BatchRaced, write
            # error): a daemon quarantine thread left running would
            # keep committing behind apply_batch's back, racing any
            # immediate follow-up maintenance, and its own failure
            # would vanish unobserved
            q_thread.join()
        if "err" in q_box:
            raise q_box["err"]
        n_quar = q_box.get("n", 0)
        # wall time of the quarantine job itself; it overlaps the
        # planning/merge jobs, so it is NOT additive with the other
        # phases
        phases["quarantine"] = q_box.get("ms", 0)
        n_changes = int(obs_v.get["n_valid"]) + n_quar
        if obs_h is not None:
            self._fold_harvest(obs_h)
        result.rows_in = n_changes
        result.rows_quarantined = int(n_quar)
        result.hot_keys_detected = n_hot
        # wall_ms is set BEFORE the metrics commit so the lineage
        # table records the real batch latency (the metrics write
        # itself is a driver-side parquet append, ~ms)
        result.wall_ms = int((time.monotonic() - t0) * 1000)
        t_m = time.monotonic()
        self._record_metrics(result)
        phases["metrics"] = int((time.monotonic() - t_m) * 1000)
        result.wall_ms = int((time.monotonic() - t0) * 1000)
        result.phase_ms = phases
        return result

    # ---- phase: quarantine -------------------------------------------------

    def _start_quarantine(self, changes: DataFrame, batch_id: int):
        """Run ``_quarantine`` on a driver thread; returns (thread, box).

        The append is an INDEPENDENT job against a side table, so it
        runs concurrently with the planning job and the merge: Spark's
        scheduler interleaves the two job DAGs across the same
        executors, hiding the quarantine job's fixed scheduling +
        commit latency entirely (order vs the pages commit does not
        matter: each commit is guarded by its own batch watermark, so
        any crash point replays idempotently).  After the join, ``box``
        holds ``n`` (rows quarantined), ``ms`` (the route's wall time)
        or ``err`` (the route's exception, re-raised by the caller).
        """
        box: dict = {}
        t_q = time.monotonic()

        def run():
            try:
                box["n"] = self._quarantine(changes, batch_id)
            except BaseException as e:  # surfaced after join
                box["err"] = e
            finally:
                box["ms"] = int((time.monotonic() - t_q) * 1000)

        thread = threading.Thread(target=run, daemon=True)
        thread.start()
        return thread, box

    def _quarantine(self, changes: DataFrame, batch_id: int) -> int:
        """Append the batch's malformed events, with reasons, to the
        quarantine table (idempotent via its own batch watermark).

        Returns the rows this call committed, learned from the parquet
        footers of the append itself (0 when the batch was already
        quarantined, by an earlier run or a concurrent applier).
        """
        mark = f"stream.{self.stream_id}.last_batch"
        base = self.quarantine.current_snapshot()
        if int(base.properties.get(mark, "-1")) >= batch_id:
            return 0
        # THIS THREAD plans a fresh query: it must not share the
        # HOF-bearing normalize tree with the main thread's merge
        # planning (see __init__: lambda variables carry mutable eval
        # state; concurrent constant folding over shared instances
        # corrupts plans)
        q_df = (
            tag_batch(changes, exprs=self._exprs_quarantine)
            .filter(F.col("_reason").isNotNull())
            .withColumnRenamed("_reason", "reason")
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .select("lsn", "op", "url", "warc_ts", "html", "reason", "batch_id")
        )
        try:
            snap = self.quarantine.append(
                q_df, {mark: str(batch_id)}, base=base,
                guard=self._watermark_guard(batch_id),
            )
        except BatchRaced:
            return 0  # a concurrent applier quarantined this batch
        parent = self.quarantine.snapshot_at(snap.parent_id)
        return sum(_rows(fs) for fs in snap.buckets.values()) - sum(
            _rows(fs) for fs in parent.buckets.values()
        )

    # ---- phase: plan ---------------------------------------------------------

    def _plan(
        self,
        changes: DataFrame,
        batch_id: int,
        lsn_range: tuple[int, int] | None,
        phases: dict,
    ) -> tuple[int, list[tuple[int, str]]]:
        """The batch's skew plan: (estimated valid events, hot-key
        candidates as (estimated events, canonical url)).

        Steady state runs ZERO planning jobs (``plan_collect`` = 0): the
        profile comes from earlier batches of the same stream —
        ``_dedup`` harvests exact per-key event counts from the dedup
        window itself every ``HARVEST_EVERY`` batches.  Hot keys are
        stored as FRACTIONS of the batch, so the decision is
        scale-invariant across batch sizes.  This is the micro-batch
        analog of AQE's runtime statistics reuse: a CDC stream is
        stationary at batch granularity, so the last profile is the
        right prior, and a drifted profile costs at most window-dedup
        (correct, just slower) batches before the harvest catches up.

        Cold start (no profile yet — a new applier, over a fresh or an
        existing table): one tiny aggregate over a ``PLAN_SAMPLE``
        sample of the batch.  Detection is reliable exactly when skew matters: the
        auto threshold grows with the batch (4x mean-per-partition), so
        a hot key's expected sample count is >= PLAN_SAMPLE * threshold
        (thousands at 10^8-event batches); with a PINNED small
        threshold the fraction is raised (``_plan_fraction``).  How
        the sample is drawn follows from the input:

        - with an ``lsn_range``: a contiguous lsn window of the same
          fraction.  A binlog-tail source stores events lsn-ordered,
          so the window predicate pushes down to parquet row-group
          statistics and the scan reads ~frac of the SEGMENTS — the
          sample job is O(sample), not O(batch).  A key hot ONLY in a
          burst outside the window is missed (the batch takes the
          window dedup — slower reducer, never wrong); the valid-count
          estimate is near-exact because lsn density per event is
          constant.
        - without one: a row-level Bernoulli sample — unbiased, but the
          predicate runs post-scan, so the job still reads the batch's
          (url, warc_ts, lsn) columns in full.

        The touched-bucket set and exact counts never come from the
        plan: they derive from the merge commit itself (``_merge_mor``).
        """
        stats = self._plan_stats
        if stats is not None:
            stats["age"] = int(stats.get("age", 0)) + 1
            n_valid = int(stats["n_valid"])
            phases["plan_collect"] = 0
            return n_valid, [(int(frac * n_valid), url) for frac, url in stats["hot"]]

        t_p = time.monotonic()
        agg, frac = self._sample_stats(changes, batch_id, lsn_range)
        srow = agg.collect()[0]
        n_valid = int(round((srow["tot"] or 0) / frac))
        hot_candidates = [
            (int(t["_events"] / frac), t["url"]) for t in (srow["top"] or [])
        ]
        if n_valid > 0:
            # seed the profile from the sample estimates; later batches
            # plan from it with no jobs at all
            self._plan_stats = {
                "n_valid": n_valid,
                "hot": [(ev / n_valid, url) for ev, url in hot_candidates],
                "age": 0,
            }
        phases["plan_collect"] = int((time.monotonic() - t_p) * 1000)
        return n_valid, hot_candidates

    def _sample_stats(
        self,
        changes: DataFrame,
        batch_id: int,
        lsn_range: tuple[int, int] | None,
    ) -> tuple[DataFrame, float]:
        """The cold-start planning aggregate and the fraction it samples.

        One output row: ``tot`` (sampled valid-ish events: the scan
        prunes to (url, warc_ts, lsn) and never reads the payload, so
        only null/empty urls are dropped) and ``top`` (the largest
        sampled keys, canonicalized so they compare equal to the
        deduped url column).
        """
        frac = self._plan_fraction()
        rows = changes.select("url", "warc_ts", "lsn").filter(
            F.col("url").isNotNull() & (F.trim(F.col("url")) != "")
        )
        if lsn_range is not None and frac < 1.0:
            lo, hi = lsn_range
            span = max(1, int((hi - lo + 1) * frac))
            # window start varies deterministically per batch so a
            # replay samples the same rows but successive batches don't
            # always probe their first segment
            start = lo + (batch_id * span) % max(1, hi - lo + 1 - span)
            rows = rows.filter((F.col("lsn") >= start) & (F.col("lsn") < start + span))
            frac = span / (hi - lo + 1)
        else:
            # seed pinned per batch id — deterministic replay
            rows = rows.sample(fraction=frac, seed=42 + batch_id)
        agg = key_stats_two_level(rows, self._exprs[1]).agg(
            F.sum("_events").alias("tot"),
            _top_keys(F.col("_events") >= 4).alias("top"),
        )
        return agg, frac

    def _plan_fraction(self) -> float:
        """Sample fraction: raised for pinned small thresholds so a hot
        key still yields >= ~24 expected sample events."""
        frac = self.PLAN_SAMPLE
        if self.hot_key_threshold:
            frac = max(frac, min(1.0, 24.0 / self.hot_key_threshold))
        return frac

    def _resolve_hot_threshold(self, n_changes: int) -> int | None:
        """Auto hot-key threshold: on by default.

        A key is "hot" when its event count would dominate one reducer:
        4x the average events-per-shuffle-partition (floor 64 so small
        test batches never count as skewed).  Pass an int to pin, 0 via
        ``hot_key_threshold=0`` to disable.
        """
        if self.hot_key_threshold is not None:
            return self.hot_key_threshold or None
        parts = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        return max(64, (4 * n_changes) // max(parts, 1))

    # ---- phase: dedup --------------------------------------------------------

    def _dedup(
        self, valid: DataFrame, n_valid: int, hot_candidates: list
    ) -> tuple[DataFrame, int, Observation | None]:
        """The winning event per url: max (warc_ts, lsn).

        Returns (winners, hot keys detected, harvest observation or
        None).  Both formulations leave the winners on ONE bucket-
        aligned exchange of P partitions (``Table.aligned_partitions``,
        the smallest divisor of the bucket count N that fills every
        core): pmod(murmur3(url), N) mod P = pmod(murmur3(url), P), so
        every bucket lands whole in one task, and the write reuses the
        exchange as its clustering (one delta file per touched bucket,
        no exchange of its own).  P is one task per core, not one per
        bucket, because every task of this stage starts a Python worker
        for the fused UDF (see BASELINE.md).

        - No hot key detected: the row_number() window over an explicit
          ``repartition(P, url)`` (plan-locked by
          test_mor_merge_subtree_single_exchange).  The window streams
          each key's sorted rows and keeps the top one.
        - Hot keys detected: one map-side-combined ``max_by`` aggregate.
          Its partial aggregate collapses each hot key to one row per
          map task before the exchange, where the window would send a
          hot key's every event, payload included, to one reducer.  Its
          exchange is ``hashpartitioning(url, spark.sql.shuffle.
          partitions)``, pinned to P for the merge write by
          ``_merge_mor`` (plan-locked by
          test_mor_skewed_merge_subtree_single_exchange, and by
          test_skewed_write_aligned_when_session_partitions_differ).
          Without hot keys the window beat a forced aggregate 2 of 2
          pairs on the bulk shape; on trickle-serve the pair was split
          (BASELINE.md).  The choice is made per batch from the skew
          plan, never by configuration.
        """
        threshold = self._resolve_hot_threshold(n_valid)
        hot_list = []
        if threshold:
            hot_list = [url for ev, url in hot_candidates if ev > threshold]
        harvest = (
            self._plan_stats is not None
            and int(self._plan_stats.get("age", 0)) >= self.HARVEST_EVERY
        )
        if hot_list:
            winners = dedup_winners_agg(valid, with_counts=harvest)
        else:
            valid = valid.repartition(self.pages.aligned_partitions(), F.col("url"))
            winners = dedup_winners_window(valid, with_counts=harvest)
        obs_h = None
        if harvest:
            # next-batch skew statistics ride THIS merge job:
            # ``_events`` (exact per-key counts, computed on the dedup's
            # own partitions — no exchange, no job) feeds an Observation
            # that keeps the total and the top-64 candidate keys above a
            # floor.  The floor tracks the hot-key threshold so the
            # collect buffer stays tiny at any batch size.
            floor = max(_HOT_FLOOR // 4, (threshold or _HOT_FLOOR) // 4)
            obs_h = Observation()
            winners = winners.observe(
                obs_h,
                F.sum("_events").alias("n_valid"),
                F.count(F.lit(1)).alias("n_keys"),
                _top_keys(F.col("_events") >= floor).alias("hot"),
            ).drop("_events")
        return winners, len(hot_list), obs_h

    def _fold_harvest(self, obs_h: Observation) -> None:
        """Replace the skew profile with this batch's harvest (instant:
        the merge job already ran, the observation is resolved)."""
        row = obs_h.get
        nv = int(row["n_valid"] or 0)
        if nv > 0:
            self._plan_stats = {
                "n_valid": nv,
                "hot": [(t["_events"] / nv, t["url"]) for t in (row["hot"] or [])],
                "age": 0,
            }

    # ---- phase: merge_write (MOR delta commit) ------------------------------

    def _schema_binding(self, snap):
        """Rename-safe binding of batch columns onto the target schema.

        Returns (payload_cols, col_type, src_col, cur_name): a target
        column accepts the batch column under ANY historical name of
        the same field id (Iceberg rename = same id, new name; the
        change stream / transform chain keeps producing the original
        name), and ``cur_name(logical)`` resolves a logical name (e.g.
        'text') to the field's CURRENT name.
        """
        payload_cols = [
            f["name"]
            for f in snap.schema_fields
            if f["name"] not in ("url", "warc_ts", *ENGINE_COLS)
        ]
        col_type = {f["name"]: f["type"] for f in snap.schema_fields}
        name_by_id = {f["name"]: f["id"] for f in snap.schema_fields}
        hist_names: dict[int, list[str]] = {}
        for sid in sorted(snap.schemas, key=int, reverse=True):
            for f in snap.schemas[sid]:
                names = hist_names.setdefault(f["id"], [])
                if f["name"] not in names:
                    names.append(f["name"])

        def src_col(c: str, cols: list[str]):
            for cand in hist_names.get(name_by_id[c], [c]):
                if cand in cols:
                    return F.col(cand)
            return None

        def cur_name(logical: str) -> str | None:
            for f in snap.schema_fields:
                if logical in hist_names.get(f["id"], []):
                    return f["name"]
            return None

        return payload_cols, col_type, src_col, cur_name

    def _fuse_transforms(
        self, merged: DataFrame, live, payload_cols, src_col, cur_name, src_cols
    ) -> DataFrame:
        """Fused text/lang transform chain over winner rows.

        Applied AFTER the last exchange: an ArrowEvalPython node does
        not propagate its child's output partitioning, so an Arrow UDF
        ahead of the exchange-consuming operators would force a
        redundant payload re-shuffle (see
        test_pandas_udf_breaks_partition_propagation).  Winner rows get
        text/lang computed from their html; the UDF inputs are nulled
        for non-live rows so Arrow transfers null cells only.  Skipped
        for any column the batch supplied itself (a pre-transformed
        feed binds through src_col as usual).
        """
        text_c, lang_c, html_c = (
            cur_name("text"), cur_name("lang"), cur_name("html"),
        )
        if (
            text_c in payload_cols
            and html_c in payload_cols
            and src_col(text_c, src_cols) is None
        ):
            need_lang = lang_c in payload_cols and src_col(lang_c, src_cols) is None
            if need_lang:
                # both columns derive from html: ONE struct-returning
                # Arrow UDF node (see extract_text_lang_udf) — html
                # crosses to Python once, (text, lang) come back once.
                # Both GetStructField references resolve to the same
                # PythonUDF expression, which ExtractPythonUDFs pulls
                # into a single ArrowEvalPython node (pinned by
                # test_mor_merge_subtree_single_exchange).
                from ..functions.udf import extract_text_lang_udf

                tl = extract_text_lang_udf(F.when(live, F.col(html_c)))
                merged = merged.withColumns(
                    {
                        text_c: F.when(live, tl["text"]).otherwise(F.col(text_c)),
                        lang_c: F.when(live, tl["lang"]).otherwise(F.col(lang_c)),
                    }
                )
            else:
                from ..functions.udf import extract_text_udf

                merged = merged.withColumn(
                    text_c,
                    F.when(
                        live, extract_text_udf(F.when(live, F.col(html_c)))
                    ).otherwise(F.col(text_c)),
                )
        return merged

    def _batch_props(
        self, batch_id: int, lsn_range: tuple[int, int] | None
    ) -> dict[str, str]:
        # a fixed key set per stream: every property lands in every
        # later snapshot's manifest, so nothing here may be keyed by
        # batch id (per-batch lineage goes to the metrics table)
        props = {f"stream.{self.stream_id}.last_batch": str(batch_id)}
        if lsn_range is not None:
            props[f"stream.{self.stream_id}.last_lsn"] = str(lsn_range[1])
        return props

    def _delta_frame(self, src: DataFrame, snap) -> DataFrame:
        """The row-version frame a MOR commit writes, in table schema order.

        ``src``: deduped winners carrying (url, warc_ts, lsn, op,
        payload..., _bucket).  Output: full internal schema + _bucket —
        winner payload bound rename-safely, text/lang transforms fused
        (no exchange is introduced: the UDF projections run in place on
        the aligned partitions), tombstones with nulled payload.
        """
        payload_cols, col_type, src_col, cur_name = self._schema_binding(snap)
        delta = src.select(
            F.col("url"),
            F.col("warc_ts").cast(col_type["warc_ts"]),
            *[
                (
                    sc.cast(col_type[c])
                    if (sc := src_col(c, src.columns)) is not None
                    else F.lit(None).cast(col_type[c])
                ).alias(c)
                for c in payload_cols
            ],
            F.col("lsn").cast("long").alias("_lsn"),
            (F.col("op") == "D").alias("_deleted"),
            F.col("_bucket"),
        )
        live = ~F.col("_deleted")
        delta = self._fuse_transforms(
            delta, live, payload_cols, src_col, cur_name, src.columns
        )
        # tombstones keep key+ordering info, null payload
        delta = delta.select(
            "url",
            "warc_ts",
            *[
                F.when(F.col("_deleted"), F.lit(None)).otherwise(F.col(c)).alias(c)
                for c in payload_cols
            ],
            "_lsn",
            "_deleted",
            "_bucket",
        )
        ordered_cols = [f["name"] for f in snap.schema_fields] + ["_bucket"]
        return delta.select(*ordered_cols)

    def _merge_mor(
        self,
        winners: DataFrame,
        batch_id: int,
        lsn_range: tuple[int, int] | None,
        phases: dict,
    ) -> ApplyResult:
        """Merge-on-read apply: commit winners as delta files, no join.

        The batch's deduped winners ARE the newer row versions, so the
        merge decision (LWW vs current state) needs no target read at
        commit time: it is deferred to read-time reconcile, where
        ``max_by(payload, (warc_ts, _lsn))`` over base+delta versions
        computes the identical result (the final state per key is the
        global max over all versions — associative, so fold order
        doesn't matter).  Consequences at scale:

        - commit I/O is O(batch) — a uniform-key 10^8-event batch over
          a 100 TB table writes the batch, not the table,
        - the merge subtree has exactly ONE exchange (the dedup's
          bucket-aligned exchange, see ``_dedup``); there is no
          per-batch target-side shuffle at all,
        - read-time cost: dirty buckets reconcile through one map-side-
          combined max_by shuffle; ``compact_deltas`` (auto above
          ``compact_threshold`` delta files) bounds it.

        The touched-bucket set and every count derive from the
        COMMITTED manifest diff — deltas remove nothing, so the write
        needs no up-front bucket declaration and the batch never pays a
        counting pass.

        Reference analog: BDB puts only the touched keys
        (BDBLookupTable.java:81-100, behavior studied — not ported).
        """
        snap = self.pages.current_snapshot()
        src = winners.withColumn("_bucket", self.pages.bucket_expr("url", snap))
        delta = self._delta_frame(src, snap)
        props = self._batch_props(batch_id, lsn_range)
        t_w = time.monotonic()
        # the skewed dedup's aggregate exchange takes the session's
        # shuffle partitions: pin them to the aligned count so it is the
        # bucket-aligned exchange (the window's explicit repartition
        # does not read the setting).  Appliers sharing the session with
        # a different aligned count take turns here (``_conf_pinned``).
        aligned = {
            "spark.sql.shuffle.partitions": str(self.pages.aligned_partitions(snap))
        }
        with _conf_pinned(self.spark, aligned):
            new_snap = self.pages.append_deltas(
                None, delta, props, base=snap, clustered=True,
                phases=phases, guard=self._watermark_guard(batch_id),
            )
        phases["merge_write"] = int((time.monotonic() - t_w) * 1000)
        touched = sorted(
            int(b)
            for b in new_snap.deltas
            if len(new_snap.deltas[b]) != len(snap.deltas.get(b, []))
        )
        # per-bucket lineage: rows in THIS commit's delta files (parquet
        # footer counts, no extra Spark job).  A winner is exactly one
        # delta row, so the rows sum to the batch's winners.
        per_bucket = [
            (
                b,
                _rows(new_snap.deltas.get(str(b), []))
                - _rows(snap.deltas.get(str(b), [])),
            )
            for b in touched
        ]
        if self.compact_threshold:
            over = [
                b
                for b in touched
                if len(new_snap.deltas.get(str(b), [])) > self.compact_threshold
            ]
            if over:
                t_c = time.monotonic()
                self.pages.compact_deltas(buckets=over)
                phases["compact"] = int((time.monotonic() - t_c) * 1000)
        return ApplyResult(
            batch_id=batch_id,
            rows_winners=sum(n for _, n in per_bucket),
            buckets_touched=len(touched),
            per_bucket=per_bucket,
        )

    def _record_metrics(self, res: ApplyResult) -> None:
        import pandas as pd

        mark = f"stream.{self.stream_id}.last_batch"
        snap = self.metrics.current_snapshot()
        if int(snap.properties.get(mark, "-1")) >= res.batch_id:
            return
        rows = [
            (self.stream_id, res.batch_id, "input", None, res.rows_in, res.wall_ms),
            (self.stream_id, res.batch_id, "quarantined", None, res.rows_quarantined, None),
            (self.stream_id, res.batch_id, "winners", None, res.rows_winners, None),
            (self.stream_id, res.batch_id, "hot_keys", None, res.hot_keys_detected, None),
        ] + [
            (self.stream_id, res.batch_id, "applied", int(b), int(n), None)
            for b, n in res.per_bucket
        ]
        pdf = pd.DataFrame(
            rows,
            columns=["stream_id", "batch_id", "stage", "bucket", "rows", "wall_ms"],
        )
        # metadata-scale rows: driver-side parquet append, no Spark job
        self.metrics.append_local(pdf, {mark: str(res.batch_id)}, base=snap)

    # ---- maintenance ---------------------------------------------------------

    def compact_tombstones(self, watermark_ts) -> list[int]:
        """Drop tombstones older than an event-time watermark.

        Safe once the stream guarantees no event older than the
        watermark will ever arrive (the watermark is an operator
        decision, as in any streaming system).

        Rewrites ONLY buckets whose parquet footer stats show a
        possibly-old tombstone: a file whose ``_deleted`` max is false
        has no tombstones; one whose ``warc_ts`` min is at/after the
        watermark has no OLD rows.  Files without recorded stats are
        conservatively treated as candidates.  The rewrite reads the
        RECONCILED bucket content (winner per key), so dropping a
        tombstone can never resurrect an older live version still
        sitting in a base/delta file.  Returns the rewritten buckets.
        """
        import datetime as dt

        snap = self.pages.current_snapshot()
        wm = (
            watermark_ts
            if isinstance(watermark_ts, dt.datetime)
            else dt.datetime.fromisoformat(str(watermark_ts))
        )

        def may_hold_old_tombstone(fi: dict) -> bool:
            st = fi.get("stats") or {}
            if "_deleted" in st and st["_deleted"][1] is False:
                return False  # no tombstones in this file at all
            if "warc_ts" in st:
                mn = dt.datetime.fromisoformat(st["warc_ts"][0])
                if mn.tzinfo is not None:
                    mn = mn.replace(tzinfo=None)
                if mn >= wm:
                    return False  # every row is newer than the watermark
            return True  # unknown stats -> conservative

        affected = sorted(
            int(b)
            for b in set(snap.buckets) | set(snap.deltas)
            if any(
                may_hold_old_tombstone(fi)
                for fi in snap.buckets.get(b, []) + snap.deltas.get(b, [])
            )
        )
        if not affected:
            return []
        df = self.pages.read(snap=snap, buckets=affected, with_bucket_col=True)
        kept = df.filter(
            ~(F.col("_deleted") & (F.col("warc_ts") < F.lit(watermark_ts)))
        )
        self.pages.overwrite_buckets(affected, kept, base=snap)
        return affected
