r"""The apply stage: idempotent, exactly-once MERGE of a change batch.

Pipeline per batch (SURVEY.md §3.4):

    changes --split--> quarantine table (dead letter, with reasons)
        \--valid--> canonicalize(url) --> dedup winners (1 shuffle)
                    --> vectorized transforms (text, lang)
                    --> MERGE into pages:
                          mor (default): winners append as DELTA files,
                            O(batch) bytes, zero target reads; reads
                            reconcile per key (lake/table.py)
                          cow: full-outer join + touched-bucket rewrite
                    --> single atomic commit: data + offsets + metrics

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
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..lake import Table
from .plan import (
    batch_exprs,
    dedup_winners,
    dedup_winners_rank_join,
    dedup_winners_window,
    key_stats,
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
    hot_keys_detected: int = 0  # keys above the salting threshold (window mode)


class CdcApplier:
    """Owns the target pages table + quarantine + metrics side tables.

    ``hot_key_threshold``: events-per-key above which a key is salted
    in ``window`` dedup mode.  ``None`` (default) = auto — 4x the mean
    events-per-shuffle-partition, floor 64 (see
    ``_resolve_hot_threshold``); ``0`` disables salting; an int pins
    the threshold.

    ``materialize`` — what the apply stage caches per batch:

    - ``"keys"`` (default, the 100 TB shape): only the per-key
      aggregate (one small row per distinct url) is cached; the change
      batch itself is re-read per job.  Correct whenever the source is
      deterministic and re-readable (a binlog/WAL tail, a parquet
      change log, a generator — all are).  A 10^8-event batch of ~50 KB
      pages is terabytes; re-reading the columnar source twice (keys
      pass prunes to 3 tiny columns + null masks, merge pass reads
      payload once) beats materializing it cluster-wide — the same
      trade Iceberg's own MERGE planning makes.
    - ``"batch"``: the tagged batch is persisted MEMORY_AND_DISK and
      every job rereads the cache — for volatile or expensive
      non-columnar sources.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 32,
        stream_id: str = "default",
        dedup_mode: str = "window",
        hot_key_threshold: int | None = None,
        url_mode: str = "expr",
        materialize: str = "keys",
        adaptive: bool | None = False,
        merge_mode: str = "mor",
        compact_threshold: int = 16,
        planning: str = "auto",
        plan_sample: float = 0.02,
        plan_sample_mode: str = "auto",
        agg_fallback_entries: int = 1 << 20,
        io=None,
        maintenance: MaintenancePolicy | None = None,
        harvest_every: int = 8,
    ):
        self.maintenance = maintenance
        # adaptive planning: refresh the harvested skew profile every
        # this many batches.  The harvest adds a full-partition count
        # frame to the dedup window, which disables Spark's
        # WindowGroupLimit streaming optimization for that one batch
        # (measured ~15% on the merge job), so it is sampled in TIME:
        # steady-state batches plan from the cached profile at zero
        # cost and at most 1/harvest_every of batches pay the refresh.
        # Skew-drift detection latency is bounded by harvest_every
        # batches; a drifted profile costs only un-salted (correct,
        # slower) batches in that window.
        self.harvest_every = max(1, int(harvest_every))
        if plan_sample_mode not in ("auto", "range", "bernoulli"):
            raise ValueError(
                f"plan_sample_mode must be 'auto', 'range' or 'bernoulli': "
                f"{plan_sample_mode!r}"
            )
        if materialize not in ("keys", "batch"):
            raise ValueError(f"materialize must be 'keys' or 'batch': {materialize!r}")
        if merge_mode not in ("mor", "cow"):
            raise ValueError(f"merge_mode must be 'mor' or 'cow': {merge_mode!r}")
        if planning not in ("auto", "scan", "sample", "adaptive"):
            raise ValueError(
                f"planning must be 'auto', 'scan', 'sample' or 'adaptive': "
                f"{planning!r}"
            )
        # AQE has nothing to decide on the apply path — partition counts
        # are pinned (the aligned exchange MUST divide n_buckets),
        # skew is handled by explicit salting, and the broadcast-size
        # call is made from static parquet stats.  What AQE does add is
        # stage-by-stage scheduling + replanning latency: measured 7.4s
        # -> 3.8s fixed cost per warm batch at local[4] with it off.
        # ``adaptive``: False (default) = disable during apply_batch and
        # restore after; True = force on; None = leave session setting.
        # CAUTION (multi-tenant sessions): the toggle mutates the
        # session-global spark.sql.adaptive.enabled for the duration of
        # apply_batch — any query planned CONCURRENTLY in the same
        # SparkSession (e.g. user jobs alongside foreachBatch) silently
        # plans with AQE off, and two appliers sharing a session can
        # clobber each other's saved value.  When the applier shares a
        # session with other work, either pass adaptive=None (leave the
        # session setting alone) or give the applier its own
        # ``spark.newSession()`` (separate conf, shared cluster).
        self.adaptive = adaptive
        self.spark = spark
        self.root = root
        self.stream_id = stream_id
        self.dedup_mode = dedup_mode
        self.hot_key_threshold = hot_key_threshold
        self.url_mode = url_mode
        self.materialize = materialize
        # "mor" (default): a batch commits its winner rows as DELTA
        # files — O(batch) bytes written, no target read, no join;
        # reads reconcile per key (lake/table.py).  "cow": the classic
        # copy-on-write full-outer merge that rewrites every touched
        # bucket — kept for A/B and for read-heavy tables where zero
        # read-time reconcile cost is worth the write amplification.
        self.merge_mode = merge_mode
        # MOR maintenance: fold a bucket's deltas into its base when it
        # accumulates more than this many delta files (0 disables)
        self.compact_threshold = compact_threshold
        # ``planning`` — how the per-batch plan (touched buckets, skew /
        # hot-key list, counts) is obtained in keys mode:
        #
        # - "scan": a full column-pruned pass over the batch aggregates
        #   per-key stats exactly (the r2 design).  Measured cost: the
        #   2M-row groupBy(raw url) + shuffle scales only ~1.4x from 1
        #   to 4 cores (string-hash aggregation is allocation-bound),
        #   so at cluster sizes it becomes the serial fraction of the
        #   whole batch.
        # - "sample": hot keys + the valid-count estimate come from a
        #   ``plan_sample`` Bernoulli sample (one tiny aggregate); the
        #   touched-bucket set and exact counts derive from the MERGE
        #   COMMIT itself (delta manifests + write-job observations) —
        #   the batch is scanned ONCE, not twice.  Detection is
        #   reliable exactly when skew matters: the auto threshold
        #   grows with the batch (4x mean-per-partition), so a hot
        #   key's expected sample count is >= plan_sample * threshold
        #   (thousands at 10^8-event batches).  With a PINNED small
        #   threshold the fraction is raised to keep >= ~24 expected
        #   samples per hot key.
        # - "adaptive": the plan comes from the PREVIOUS batch of the
        #   same stream — every window-mode merge harvests exact
        #   per-key event counts via an Observation riding the dedup
        #   window itself (dedup_winners_window(with_counts=True): a
        #   full-partition count frame on the already-sorted rows, no
        #   exchange, no job), and the next batch salts from those
        #   statistics.  Hot keys are stored as FRACTIONS of the batch
        #   so the decision is scale-invariant across batch sizes.  A
        #   cold start (no statistics yet — fresh process over a fresh
        #   table) falls back to one "sample" pass; every steady-state
        #   batch runs ZERO planning jobs.  This is the micro-batch
        #   analog of AQE's runtime statistics reuse: a CDC stream is
        #   stationary at batch granularity, so last batch's skew
        #   profile is the right prior, and a drifted profile costs at
        #   most one un-salted (correct, just slower) batch before the
        #   harvest catches up.  Statistics persist in the table's
        #   snapshot properties, so a resumed process stays warm.
        # - "auto" (default): "adaptive" for the mor + window + keys
        #   shape (where the commit can derive the plan), "scan"
        #   otherwise (cow must declare its buckets up front;
        #   rank_join/batch modes reuse the exact aggregate).
        self.planning = planning
        self.plan_sample = plan_sample
        # How the plan sample is DRAWN:
        #
        # - "bernoulli": row-level sample — unbiased, but the sampling
        #   predicate runs post-scan, so the job still reads + decodes
        #   the batch's (url, warc_ts, lsn) columns in full: a fixed
        #   ~1 s serial cost per batch that does not shrink with
        #   cluster size.
        # - "range": a contiguous lsn window of the same fraction.  A
        #   binlog-tail source stores events lsn-ordered, so the window
        #   predicate pushes down to parquet row-group statistics and
        #   the scan reads ~frac of the SEGMENTS instead of all of
        #   them — the sample job becomes O(sample), not O(batch).
        #   Trade-off (documented, heuristic-only consumers): a key hot
        #   ONLY in a burst outside the window is missed (it stays
        #   unsalted — slower reducer, never wrong); the valid-count
        #   estimate is near-exact because lsn density per event is
        #   constant.
        # - "auto" (default): "range" when the batch carries an
        #   lsn_range (the applier knows the window bounds), else
        #   "bernoulli".
        self.plan_sample_mode = plan_sample_mode
        # agg-dedup only: ObjectHashAggregate falls back to SORT-based
        # aggregation after this many distinct keys per task (Spark
        # default: 128 — i.e. always, for any real batch), which would
        # sort every payload row map-side.  The hash buffer holds one
        # winner row per distinct key per task, so memory is bounded by
        # (distinct keys per input split) x row width — size input
        # splits (spark.sql.files.maxPartitionBytes / binlog segment
        # size) so that fits the executor, the same sizing rule the
        # shuffle already imposes.  1M keys x ~1 KB row = ~1 GB worst
        # case per task at the default.
        self.agg_fallback_entries = agg_fallback_entries
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
        self._exprs = batch_exprs(url_mode)
        self._exprs_quarantine = batch_exprs(url_mode)
        # ``io``: metadata FileIO for every table this applier owns
        # (pages + side tables).  None = POSIX; pass a
        # MemoryObjectStoreIO (or an S3-class impl) to keep ALL commit
        # metadata on object-store semantics — lake/fileio.py.
        self._io = io
        pages_path = os.path.join(root, "pages")
        if Table.exists(pages_path, io=io):
            self.pages = Table.load(spark, pages_path, io=io)
            if self.merge_mode == "mor":
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
        # adaptive planning statistics (fractions-of-batch hot keys +
        # last batch's exact valid count), harvested by each merge and
        # restored from the table's snapshot properties on restart
        self._plan_stats: dict | None = (
            self._load_plan_stats() if self._harvest_enabled() else None
        )

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

        # conf pinned for the duration of this batch (same multi-tenant
        # caveat as ``adaptive`` — see __init__):
        # - agg mode pins shuffle partitions to the table's aligned
        #   partition count (a divisor of the bucket count) so the groupBy
        #   exchange keeps every bucket whole in one task — the dedup
        #   aggregate's one exchange doubles as the write clustering,
        #   zero extra payload shuffles,
        # - and raises the ObjectHashAggregate sort fallback (default
        #   128 keys!) so the map-side partial max_by stays a hash
        #   aggregate instead of sorting every payload row.
        pinned: dict[str, str] = {}
        if self.adaptive is not None:
            pinned["spark.sql.adaptive.enabled"] = str(bool(self.adaptive)).lower()
        if self.dedup_mode == "agg":
            pinned["spark.sql.shuffle.partitions"] = str(
                self.pages.aligned_partitions()
            )
            pinned["spark.sql.objectHashAggregate.sortBased.fallbackThreshold"] = (
                str(self.agg_fallback_entries)
            )
        saved = {k: self.spark.conf.get(k, None) for k in pinned}
        for k, v in pinned.items():
            self.spark.conf.set(k, v)
        try:
            return self._apply_batch_inner(changes, batch_id, lsn_range, t0)
        except BatchRaced:
            # a concurrent applier won the commit race with this very
            # batch id — exactly-once means our copy must not land
            return ApplyResult(batch_id=batch_id, skipped=True)
        finally:
            for k, v in saved.items():
                if v is None:
                    self.spark.conf.unset(k)
                else:
                    self.spark.conf.set(k, v)

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
        # key.  What gets materialized depends on ``self.materialize``
        # (see class docstring): "keys" caches only the per-key
        # aggregate and rereads the (columnar, prunable) source per
        # job; "batch" persists the full tagged batch MEMORY_AND_DISK.
        from pyspark import StorageLevel

        tagged = tag_batch(changes, exprs=self._exprs)
        cached_batch = None
        if self.materialize == "batch":
            tagged = cached_batch = tagged.persist(StorageLevel.MEMORY_AND_DISK)
        valid = tagged.filter(F.col("_reason").isNull()).drop("_reason")
        sampled = cached_batch is None and self._sampled_planning()
        keys = None
        if sampled:
            # sampled planning: no per-key aggregate at all — the exact
            # valid-row count rides the MERGE job as an observation, and
            # the touched buckets / per-bucket counts come from the
            # committed delta manifests.  The batch is scanned once.
            from pyspark.sql import Observation

            obs_v = Observation()
            valid = valid.observe(obs_v, F.count(F.lit(1)).alias("n_valid"))
            exact_keys = False
        elif cached_batch is not None:
            # batch mode: exact per-key aggregate off the cache (the
            # in-memory columnar scan prunes to url/warc_ts/lsn)
            keys = key_stats(valid).persist()
            exact_keys = True
        else:
            # keys mode: the planning aggregate is a SUPERSET of the
            # valid keys — it drops only null/empty urls and ignores
            # op/ts/html validity, so the source scan is column-pruned
            # to (url, warc_ts, lsn) and never touches the payload.
            # Safe by construction: the touched bucket set can only be
            # a superset (a bucket touched solely by quarantined rows
            # is rewritten unchanged — bounded by the malformed
            # fraction), and the hot-key list is a heuristic anyway.
            # Exact winner ranks for rank_join dedup are recomputed
            # over ``valid`` inside the merge job instead.  The exact
            # input row count rides the same scan as an Observation —
            # no extra job, no double-count of quarantined-but-keyed
            # rows in the lineage metrics.
            from pyspark.sql import Observation

            obs = Observation()
            base = changes.select("url", "warc_ts", "lsn").observe(
                obs, F.count(F.lit(1)).alias("n_total")
            )
            # two-level aggregate: normalize once per DISTINCT raw url,
            # not once per event (see key_stats_two_level) — on a
            # churn-heavy stream this removes most of the planning
            # scan's regex cost
            keys = key_stats_two_level(
                base.filter(
                    F.col("url").isNotNull() & (F.trim(F.col("url")) != "")
                ),
                self._exprs[1],
            ).persist()
            exact_keys = False
        try:
            n_quar = 0
            if cached_batch is not None:
                t_c = time.monotonic()
                # fills the batch cache AND yields row counts per
                # quarantine reason in the same job
                reason_counts = {
                    r["_reason"]: r["cnt"]
                    for r in tagged.groupBy("_reason")
                    .agg(F.count(F.lit(1)).alias("cnt"))
                    .collect()
                }
                n_changes = int(sum(reason_counts.values()))
                n_quar = int(n_changes - reason_counts.get(None, 0))
                phases["canon_cache"] = int((time.monotonic() - t_c) * 1000)

            # planning job (fills the keys cache): winner count per
            # bucket, total valid events (for the auto skew threshold),
            # AND the per-bucket hottest keys — one action for all of
            # it.  The hot-key harvest keeps only keys above the fixed
            # floor and the top-8 per bucket: a key hot enough to
            # dominate a reducer is by construction near the top of its
            # bucket, so the salting candidate list rides the planning
            # aggregate for free (no separate detection job, no
            # broadcast exchange — the tiny list compiles to an isin).
            t_p = time.monotonic()
            phases["setup"] = int((t_p - t0) * 1000)
            # quarantine route (idempotent via its own batch watermark).
            # "batch" mode knows the count up front and skips the write
            # job for clean batches; "keys" mode learns the count from
            # the committed parquet footers of the append itself.  The
            # append is an INDEPENDENT job against a side table, so it
            # runs on a driver thread concurrently with the PLANNING
            # job and the merge —
            # Spark's scheduler interleaves the two job DAGs across the
            # same executors, hiding the quarantine job's fixed
            # scheduling + commit latency entirely (order vs the pages
            # commit does not matter: each commit is guarded by its own
            # batch watermark, so any crash point replays idempotently).
            t_q = time.monotonic()
            q_result: dict = {}

            def _quarantine_route():
                q_mark = f"stream.{self.stream_id}.last_batch"
                q_last = int(self.quarantine.properties.get(q_mark, "-1"))
                if q_last < batch_id and (cached_batch is None or n_quar > 0):
                    if cached_batch is not None:
                        # batch mode: the tagged plan is already
                        # materialized in the cache (filled on the main
                        # thread), so this filter plans over an
                        # InMemoryRelation — no expression re-planning
                        q_src = tagged
                    else:
                        # keys mode: THIS THREAD plans a fresh query —
                        # it must not share the HOF-bearing normalize
                        # tree with the main thread's merge planning
                        # (see __init__: lambda variables carry mutable
                        # eval state; concurrent constant folding over
                        # shared instances corrupts plans)
                        q_src = tag_batch(
                            changes, exprs=self._exprs_quarantine
                        )
                    q_df = (
                        q_src.filter(F.col("_reason").isNotNull())
                        .withColumnRenamed("_reason", "reason")
                        .withColumn("batch_id", F.lit(batch_id).cast("long"))
                        .select(
                            "lsn", "op", "url", "warc_ts", "html", "reason", "batch_id"
                        )
                    )
                    def q_guard(fresh) -> None:
                        if int(fresh.properties.get(q_mark, "-1")) >= batch_id:
                            raise BatchRaced(batch_id)

                    try:
                        q_snap = self.quarantine.append(
                            q_df, {q_mark: str(batch_id)}, guard=q_guard
                        )
                    except BatchRaced:
                        # concurrent applier quarantined this batch
                        return
                    if cached_batch is None:
                        q_result["n_quar"] = sum(
                            fi["rows"] for fs in q_snap.buckets.values() for fi in fs
                        ) - sum(
                            fi["rows"]
                            for fs in self.quarantine.snapshot_at(
                                q_snap.parent_id
                            ).buckets.values()
                            for fi in fs
                        )

            import threading

            q_err: list[BaseException] = []

            def _quarantine_thread():
                try:
                    _quarantine_route()
                except BaseException as e:  # surfaced after join
                    q_err.append(e)
                finally:
                    q_result["ms"] = int((time.monotonic() - t_q) * 1000)

            q_thread = threading.Thread(target=_quarantine_thread, daemon=True)
            q_thread.start()

            if sampled and self.dedup_mode == "agg":
                # agg dedup needs NO plan at all: map-side partial
                # aggregation is skew-proof by construction (a hot key
                # collapses to one partial row per map task before the
                # exchange), so there is no salting decision to make;
                # the touched-bucket set derives from the committed
                # manifest diff and exact counts ride the merge job's
                # observation.  Zero planning jobs, zero serial cost.
                n_valid = 0
                hot_candidates = []
                bucket_counts = None
                n_changes = 0
                phases["plan_collect"] = 0
            elif sampled and self._harvest_enabled() and self._plan_stats is not None:
                # adaptive steady state: ZERO planning jobs.  The skew
                # profile comes from the previous batch's harvest (hot
                # keys as batch fractions — scale-invariant), the valid
                # count estimate is last batch's exact count, and this
                # batch's exact count rides the merge observation.  A
                # drifted profile costs at most one un-salted batch;
                # the harvest below catches up on the very next one.
                stats = self._plan_stats
                stats["age"] = int(stats.get("age", 0)) + 1
                n_valid = int(stats["n_valid"])
                hot_candidates = [
                    (int(frac * n_valid), url) for frac, url in stats["hot"]
                ]
                bucket_counts = None
                n_changes = 0
                phases["plan_collect"] = 0
            elif sampled:
                # one tiny aggregate over a Bernoulli sample: estimated
                # valid-event total (feeds the auto skew threshold) and
                # the hot-key candidate list (canonicalized, so the
                # salting isin matches the deduped url column).  The
                # seed is pinned per batch id — deterministic replay.
                frac = self._plan_fraction()
                base_cols = changes.select("url", "warc_ts", "lsn").filter(
                    F.col("url").isNotNull() & (F.trim(F.col("url")) != "")
                )
                use_range = lsn_range is not None and self.plan_sample_mode in (
                    "auto", "range",
                ) and frac < 1.0
                if use_range:
                    # contiguous lsn window: pushes down to row-group
                    # stats, so the sample scan is O(sample) — see
                    # plan_sample_mode in __init__
                    lo, hi = lsn_range
                    span = max(1, int((hi - lo + 1) * frac))
                    # window start varies deterministically per batch so
                    # a replay samples the same rows but successive
                    # batches don't always probe their first segment
                    start = lo + (batch_id * span) % max(1, hi - lo + 1 - span)
                    smp_rows = base_cols.filter(
                        (F.col("lsn") >= start) & (F.col("lsn") < start + span)
                    )
                    frac = span / (hi - lo + 1)
                else:
                    smp_rows = base_cols.sample(fraction=frac, seed=42 + batch_id)
                smp = key_stats_two_level(smp_rows, self._exprs[1])
                srow = smp.agg(
                    F.sum("_events").alias("tot"),
                    F.slice(
                        F.sort_array(
                            F.collect_list(
                                F.when(
                                    F.col("_events") >= 4,
                                    F.struct("_events", "url"),
                                )
                            ),
                            asc=False,
                        ),
                        1,
                        64,
                    ).alias("top"),
                ).collect()[0]
                n_valid = int(round((srow["tot"] or 0) / frac))
                hot_candidates = [
                    (int(t["_events"] / frac), t["url"])
                    for t in (srow["top"] or [])
                ]
                bucket_counts = None
                n_changes = 0  # exact count rides the merge observation
                if self._harvest_enabled() and n_valid > 0:
                    # cold start seeds the adaptive profile from the
                    # sample estimates; subsequent batches plan from it
                    # with no jobs at all, refreshed by the exact
                    # harvest every ``harvest_every`` batches
                    self._plan_stats = {
                        "n_valid": n_valid,
                        "hot": [
                            (ev / n_valid, url) for ev, url in hot_candidates
                        ],
                        "age": 0,
                    }
                t_o = time.monotonic()
                phases["plan_collect"] = int((t_o - t_p) * 1000)
            else:
                hot_floor = (
                    self.hot_key_threshold
                    if self.hot_key_threshold
                    else _HOT_FLOOR
                )
                plan_rows = (
                    keys.select(
                        self.pages.bucket_expr("url").alias("_bucket"),
                        F.col("_events"),
                        F.col("url"),
                    )
                    .groupBy("_bucket")
                    .agg(
                        F.count(F.lit(1)).alias("cnt"),
                        F.sum(F.col("_events")).alias("ev"),
                        F.slice(
                            F.sort_array(
                                F.collect_list(
                                    F.when(
                                        F.col("_events") > hot_floor,
                                        F.struct("_events", "url"),
                                    )
                                ),
                                asc=False,
                            ),
                            1,
                            8,
                        ).alias("top"),
                    )
                    .collect()
                )
                bucket_counts = {r["_bucket"]: r["cnt"] for r in plan_rows}
                n_valid = int(sum(r["ev"] for r in plan_rows))
                hot_candidates = [
                    (int(t["_events"]), t["url"])
                    for r in plan_rows
                    for t in (r["top"] or [])
                ]
                t_o = time.monotonic()
                phases["plan_collect"] = int((t_o - t_p) * 1000)
                if not exact_keys:
                    # total input rows observed on the planning scan
                    # itself.  Observation.get asserts when the optimizer
                    # collapsed the scan to an empty LocalRelation (e.g. a
                    # .limit(0) source) and the observe node never ran —
                    # fall back to a direct count, trivial on such plans.
                    try:
                        n_changes = int(obs.get["n_total"])
                    except Exception:
                        n_changes = changes.count()
            phases["plan"] = int((time.monotonic() - t_p) * 1000)

            n_hot = 0
            aligned = False
            obs_h = None
            if self.dedup_mode == "window":
                threshold = self._resolve_hot_threshold(n_valid)
                hot_list = []
                if threshold:
                    hot_list = [
                        url for ev, url in hot_candidates if ev > threshold
                    ]
                n_hot = len(hot_list)
                if not hot_list:
                    # bucket-aligned exchange: repartitioning on url into
                    # P partitions, P a divisor of the bucket count N,
                    # puts every bucket whole into ONE task
                    # (pmod(murmur3(url), N) mod P = pmod(murmur3(url), P)),
                    # so the window dedup, the bucketed write AND (cow
                    # mode) the merge join all reuse this ONE payload
                    # exchange, and the write still emits one file per
                    # touched bucket.  P is one task per core, not one
                    # per bucket: every task of this stage starts a
                    # Python worker for the fused UDF, and that set-up
                    # cost is paid per task (see Table.aligned_partitions
                    # and BASELINE.md).  In mor mode this is the ONLY
                    # exchange in the whole merge subtree (plan-locked by
                    # test_mor_merge_subtree_single_exchange).  The salted
                    # hot-key path re-exchanges subsets and loses the
                    # alignment, so it keeps the explicit write clustering.
                    valid = valid.repartition(
                        self.pages.aligned_partitions(), F.col("url")
                    )
                    aligned = True
                harvest = (
                    sampled
                    and self._harvest_enabled()
                    and self._plan_stats is not None
                    and int(self._plan_stats.get("age", 0)) >= self.harvest_every
                )
                winners = dedup_winners_window(
                    valid, hot_keys=hot_list or None, with_counts=harvest
                )
                obs_h = None
                if harvest:
                    # next-batch skew statistics ride THIS merge job:
                    # ``_events`` (exact per-key counts, computed on
                    # the dedup window's own partitions — no exchange,
                    # no job) feeds an Observation that keeps the total
                    # and the top-64 candidate keys above a floor.
                    # The floor tracks the salting threshold so the
                    # collect buffer stays tiny at any batch size.
                    from pyspark.sql import Observation

                    floor = max(_HOT_FLOOR // 4, (threshold or _HOT_FLOOR) // 4)
                    obs_h = Observation()
                    winners = winners.observe(
                        obs_h,
                        F.sum("_events").alias("n_valid"),
                        F.count(F.lit(1)).alias("n_keys"),
                        F.slice(
                            F.sort_array(
                                F.collect_list(
                                    F.when(
                                        F.col("_events") >= floor,
                                        F.struct("_events", "url"),
                                    )
                                ),
                                asc=False,
                            ),
                            1,
                            64,
                        ).alias("hot"),
                    ).drop("_events")
            elif self.dedup_mode == "agg":
                # ONE exchange total: apply_batch pinned shuffle
                # partitions to the table's aligned partition count (a
                # divisor of n_buckets), so the aggregate's hash
                # exchange already keeps every bucket whole in one task
                # — the write reuses it (clustered), exactly like the
                # window path's explicit bucket-aligned repartition.
                # Map-side partial max_by collapses hot keys before the
                # shuffle, so no salting machinery and no planning job
                # exist in this mode.
                winners = dedup_winners(valid)
                aligned = (
                    self.merge_mode == "mor"
                    and int(
                        self.spark.conf.get("spark.sql.shuffle.partitions")
                    )
                    == self.pages.aligned_partitions()
                )
            else:  # "rank_join": payload never shuffles pre-merge
                # the cached keys are only exact in "batch" mode; the
                # keys-mode planning aggregate is a validity SUPERSET
                # (op/ts/html checks skipped), and a key whose max
                # (warc_ts, lsn) event is invalid would rank-join to
                # zero valid rows — recompute exact ranks over ``valid``
                # inside the merge job instead (a second tiny
                # map-combined shuffle of (url, ts, lsn); payload still
                # never shuffles).
                winners = dedup_winners_rank_join(
                    valid, ranks=keys if exact_keys else None
                )
            # the text/lang transform chain is FUSED into the merge
            # (after the join) rather than applied here: an
            # ArrowEvalPython node does not propagate its child's
            # output partitioning (measured: a pandas UDF between the
            # aligning exchange and the merge join makes Catalyst
            # re-shuffle the winner payload through a redundant
            # ENSURE_REQUIREMENTS exchange).  Post-join fusion keeps
            # the payload on ONE exchange and still transforms only
            # winner rows — target rows enter the UDF as nulls, so no
            # target bytes cross the Arrow boundary.  See _merge.
            staged = winners

            try:
                result = self._merge(
                    staged,
                    batch_id,
                    lsn_range,
                    phases,
                    bucket_counts=bucket_counts,
                    aligned=aligned,
                )
            finally:
                # join even when _merge raises (BatchRaced, write
                # error): a daemon quarantine thread left running would
                # keep committing behind apply_batch's back, racing any
                # immediate follow-up maintenance, and its own failure
                # would vanish from q_err unobserved
                q_thread.join()
            if q_err:
                raise q_err[0]
            n_quar = q_result.get("n_quar", n_quar)
            # wall time of the quarantine job itself; it overlaps the
            # planning/merge jobs, so it is NOT additive with the other
            # phases
            phases["quarantine"] = q_result.get("ms", 0)
            if exact_keys:
                n_changes = n_valid + n_quar
            elif sampled:
                # exact valid count observed on the merge job itself
                # (same empty-plan guard as the scan-mode observation)
                try:
                    n_changes = int(obs_v.get["n_valid"]) + n_quar
                except Exception:
                    n_changes = n_quar
            if obs_h is not None:
                # fold this batch's harvested skew profile into the
                # adaptive statistics (instant: the merge job already
                # ran, the observation is resolved)
                try:
                    row = obs_h.get
                    nv = int(row["n_valid"] or 0)
                    if nv > 0:
                        self._plan_stats = {
                            "n_valid": nv,
                            "hot": [
                                (t["_events"] / nv, t["url"])
                                for t in (row["hot"] or [])
                            ],
                            "age": 0,
                        }
                except Exception:
                    pass  # empty/collapsed plan: keep previous stats
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
        finally:
            if keys is not None:
                keys.unpersist()
            if cached_batch is not None:
                cached_batch.unpersist()

    def _sampled_planning(self) -> bool:
        """Whether this batch plans without a full scan (see ``planning``)."""
        shape_ok = (
            self.merge_mode == "mor"
            and self.dedup_mode in ("window", "agg")
            and self.materialize == "keys"
        )
        if self.planning in ("sample", "adaptive"):
            if not shape_ok:
                raise ValueError(
                    f"planning={self.planning!r} requires merge_mode='mor', "
                    "dedup_mode='window' or 'agg', materialize='keys' "
                    "(cow must declare touched buckets up front; "
                    "rank_join/batch reuse the exact per-key aggregate)"
                )
            return True
        return self.planning == "auto" and shape_ok

    def _harvest_enabled(self) -> bool:
        """Adaptive statistics ride the merge when the mode allows it."""
        return (
            self.planning in ("auto", "adaptive")
            and self.dedup_mode == "window"
            and self.merge_mode == "mor"
            and self.materialize == "keys"
        )

    _PLAN_STATS_PROP_SUFFIX = "plan.stats"

    def _plan_stats_prop(self) -> str:
        return f"stream.{self.stream_id}.{self._PLAN_STATS_PROP_SUFFIX}"

    def _load_plan_stats(self) -> dict | None:
        """Restore harvested statistics from the table (resume-warm)."""
        import json as _json

        raw = self.pages.properties.get(self._plan_stats_prop())
        if not raw:
            return None
        try:
            d = _json.loads(raw)
            return {"n_valid": int(d["n"]),
                    "hot": [(float(f), u) for f, u in d["hot"]],
                    "age": int(d.get("age", 0))}
        except Exception:
            return None

    def _plan_fraction(self) -> float:
        """Sample fraction: raised for pinned small thresholds so a hot
        key still yields >= ~24 expected sample events."""
        frac = self.plan_sample
        if self.hot_key_threshold:
            frac = max(frac, min(1.0, 24.0 / self.hot_key_threshold))
        return frac

    def _resolve_hot_threshold(self, n_changes: int) -> int | None:
        """Auto hot-key threshold: on by default in window mode.

        A key is "hot" when its event count would dominate one reducer:
        4x the average events-per-shuffle-partition (floor 64 so small
        test batches never salt).  Pass an int to pin, 0/None via
        ``hot_key_threshold=0`` to disable.
        """
        if self.hot_key_threshold is not None:
            return self.hot_key_threshold or None
        parts = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        return max(64, (4 * n_changes) // max(parts, 1))

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

        Applied AFTER the last exchange (and, in cow mode, after the
        join): winner rows get text/lang recomputed from their html;
        the UDF inputs are nulled for non-live rows so Arrow transfers
        null cells only.  Skipped for any column the batch supplied
        itself (a pre-transformed feed binds through src_col as usual).
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
                # into a single ArrowEvalPython node (verified by plan
                # test: exactly one ArrowEvalPython in the merge
                # subtree).
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

    def _merge(
        self,
        staged: DataFrame,
        batch_id: int,
        lsn_range: tuple[int, int] | None,
        phases: dict | None = None,
        bucket_counts: dict[int, int] | None = None,
        aligned: bool = False,
    ) -> ApplyResult:
        if self.merge_mode == "mor":
            return self._merge_mor(
                staged, batch_id, lsn_range, phases, bucket_counts, aligned
            )
        return self._merge_cow(
            staged, batch_id, lsn_range, phases, bucket_counts, aligned
        )

    def _batch_props(
        self, batch_id: int, lsn_range: tuple[int, int] | None, n_planned: int
    ) -> dict[str, str]:
        props = {
            f"stream.{self.stream_id}.last_batch": str(batch_id),
            # superset in keys mode: the count of PLANNED keys, not
            # applied winners — exact winners land in the metrics table
            # from the write-job observation
            f"stream.{self.stream_id}.batch.{batch_id}.planned_keys": str(n_planned),
        }
        if lsn_range is not None:
            props[f"stream.{self.stream_id}.last_lsn"] = str(lsn_range[1])
        if self._plan_stats is not None:
            # persist the adaptive skew profile with the offset log so a
            # resumed process plans warm (lags one batch: the commit
            # carries the PREVIOUS harvest; this batch's own harvest
            # resolves with the commit's write job) — a few hundred
            # bytes per snapshot, top-64 keys
            import json as _json

            props[self._plan_stats_prop()] = _json.dumps(
                {
                    "n": self._plan_stats["n_valid"],
                    "hot": [
                        [round(f, 8), u] for f, u in self._plan_stats["hot"]
                    ],
                    "age": int(self._plan_stats.get("age", 0)),
                },
                separators=(",", ":"),
            )
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
        staged: DataFrame,
        batch_id: int,
        lsn_range: tuple[int, int] | None,
        phases: dict | None = None,
        bucket_counts: dict[int, int] | None = None,
        aligned: bool = False,
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
          a 100 TB table writes the batch, not the table (the cow path
          rewrites every touched bucket wholesale),
        - the merge subtree has exactly ONE exchange (the bucket-
          aligned winner repartition); there is no per-batch target-
          side shuffle at all (the cow path re-shuffles the touched
          buckets' rows every batch because a plain parquet scan can't
          declare its bucket layout),
        - read-time cost: dirty buckets reconcile through one map-side-
          combined max_by shuffle; ``compact_deltas`` (auto above
          ``compact_threshold`` delta files) bounds it.

        Reference analog: BDB puts only the touched keys
        (BDBLookupTable.java:81-100, behavior studied — not ported).
        """
        snap = self.pages.current_snapshot()
        phases = phases if phases is not None else {}

        from pyspark.sql import Observation

        w_obs = Observation()
        staged = staged.observe(w_obs, F.count(F.lit(1)).alias("n_winners"))
        src = staged.withColumn("_bucket", self.pages.bucket_expr("url"))
        # ``bucket_counts=None`` (sampled planning): the touched set
        # and exact per-bucket counts are derived from the COMMITTED
        # manifest diff below — deltas remove nothing, so the write
        # needs no up-front bucket declaration and the batch never
        # pays a counting pass.  With counts (scan planning), the
        # declared set doubles as a containment check.
        if bucket_counts is None:
            touched = None
            n_planned = -1  # unknown at plan time (exact -> metrics)
        else:
            touched = sorted(bucket_counts)
            n_planned = int(sum(bucket_counts.values()))
        phases.setdefault("stage_winners", 0)

        delta = self._delta_frame(src, snap)
        props = self._batch_props(batch_id, lsn_range, n_planned)
        t_w = time.monotonic()
        new_snap = self.pages.append_deltas(
            touched, delta, props, base=snap, clustered=aligned,
            phases=phases, guard=self._watermark_guard(batch_id),
        )
        phases["merge_write"] = int((time.monotonic() - t_w) * 1000)
        try:
            n_winners = int(w_obs.get["n_winners"])
        except Exception:
            n_winners = 0
        if touched is None:
            touched = sorted(
                int(b)
                for b in new_snap.deltas
                if len(new_snap.deltas[b]) != len(snap.deltas.get(b, []))
            )
        # per-bucket lineage: rows in THIS commit's delta files
        # (committed manifest diff — no extra Spark job)
        per_bucket = [
            (
                int(b),
                sum(fi["rows"] for fi in new_snap.deltas.get(str(b), []))
                - sum(fi["rows"] for fi in snap.deltas.get(str(b), [])),
            )
            for b in touched
        ]
        if self.compact_threshold:
            over = [
                int(b)
                for b in touched
                if len(new_snap.deltas.get(str(b), [])) > self.compact_threshold
            ]
            if over:
                t_c = time.monotonic()
                self.pages.compact_deltas(buckets=over)
                phases["compact"] = int((time.monotonic() - t_c) * 1000)
        return ApplyResult(
            batch_id=batch_id,
            rows_winners=n_winners,
            buckets_touched=len(touched),
            per_bucket=sorted(per_bucket),
        )

    def _merge_cow(
        self,
        staged: DataFrame,
        batch_id: int,
        lsn_range: tuple[int, int] | None,
        phases: dict | None = None,
        bucket_counts: dict[int, int] | None = None,
        aligned: bool = False,
    ) -> ApplyResult:
        """Copy-on-write merge: join winners vs touched buckets, rewrite.

        Non-default (see ``_merge_mor``): kept for A/B comparison and
        for read-heavy tables that want zero read-time reconcile cost.
        Its two scale costs — both eliminated by the MOR path — are
        (a) every touched bucket rewrites WHOLESALE (under uniform-key
        batches that is the entire table per batch), and (b) the
        target side of the join re-partitions on url each batch,
        because a plain parquet scan cannot declare that its files are
        already bucketed by pmod(hash(url), N) (the same trade Iceberg
        MERGE makes without storage-partitioned join; a DSv2 connector
        reporting KeyGroupedPartitioning would remove it).

        ``bucket_counts`` (bucket -> distinct winner keys, precomputed
        by the apply stage's single planning aggregate) enables the
        cheap path: the expensive dedup + transform pipeline runs
        exactly once, inside the write job — no intermediate
        persist/collect materialization of payload rows.
        """
        snap = self.pages.current_snapshot()
        payload_cols, col_type, src_col, cur_name = self._schema_binding(snap)
        phases = phases if phases is not None else {}
        # exact winner count rides the write job for free; the planning
        # bucket_counts are a validity SUPERSET in keys mode (a key
        # whose only events are quarantined still plans its bucket), so
        # they are correct for bucket selection but would overcount the
        # "winners" lineage metric
        from pyspark.sql import Observation

        w_obs = Observation()
        staged = staged.observe(w_obs, F.count(F.lit(1)).alias("n_winners"))
        src = staged.withColumn("_bucket", self.pages.bucket_expr("url"))
        persisted = None
        try:
            t_s = time.monotonic()
            if bucket_counts is None:
                # fallback: materialize the staged winners to count them
                persisted = src = src.persist()
                bucket_counts = {
                    r["_bucket"]: r["cnt"]
                    for r in src.groupBy("_bucket")
                    .agg(F.count("*").alias("cnt"))
                    .collect()
                }
            phases["stage_winners"] = int((time.monotonic() - t_s) * 1000)
            touched = sorted(bucket_counts)
            n_winners = int(sum(bucket_counts.values()))

            target = self.pages.read(snap=snap, buckets=touched, with_bucket_col=True)

            # FLAT prefixed layout: the s side keeps the ``url``
            # attribute itself as the join key, so when the apply stage
            # pre-aligned the batch (repartition(aligned_partitions(),
            # url)), Catalyst SEES that the join's required distribution
            # is already satisfied — the winner payload is never
            # re-shuffled (struct-packing would hide the attribute and
            # force a fresh exchange).  The join output is then still
            # physically clustered by pmod(murmur3(url), P), P dividing
            # n_buckets, so every bucket sits whole in one task and the
            # write needs no clustering exchange either (``aligned``):
            # payload bytes cross the wire exactly once per batch.
            s = src.select(
                F.col("url"),
                F.lit(True).alias("_s_present"),
                F.col("warc_ts").alias("_s_warc_ts"),
                F.col("lsn").alias("_s_lsn"),
                F.col("op").alias("_s_op"),
                F.col("_bucket").alias("_s_bucket"),
                *[
                    (
                        sc.cast(col_type[c])
                        if (sc := src_col(c, src.columns)) is not None
                        else F.lit(None).cast(col_type[c])
                    ).alias(f"_s_{c}")
                    for c in payload_cols
                ],
            )
            t = target.select(
                F.col("url").alias("_t_url"),
                F.col("warc_ts").alias("_t_warc_ts"),
                F.col("_lsn").alias("_t_lsn"),
                F.col("_deleted").alias("_t_deleted"),
                F.col("_bucket").alias("_t_bucket"),
                *[F.col(c).alias(f"_t_{c}") for c in payload_cols],
            )

            joined = s.join(t, F.col("url") == F.col("_t_url"), "full_outer")

            s_wins = F.col("_t_url").isNull() | (
                F.col("_s_present").isNotNull()
                & (
                    (F.col("_s_warc_ts") > F.col("_t_warc_ts"))
                    | (
                        (F.col("_s_warc_ts") == F.col("_t_warc_ts"))
                        & (F.col("_s_lsn") > F.col("_t_lsn"))
                    )
                )
            )

            merged = joined.select(
                F.when(s_wins, F.col("url")).otherwise(F.col("_t_url")).alias("url"),
                F.when(s_wins, F.col("_s_warc_ts"))
                .otherwise(F.col("_t_warc_ts"))
                .alias("warc_ts"),
                *[
                    F.when(s_wins, F.col(f"_s_{c}"))
                    .otherwise(F.col(f"_t_{c}"))
                    .alias(c)
                    for c in payload_cols
                ],
                F.when(s_wins, F.col("_s_lsn"))
                .otherwise(F.col("_t_lsn"))
                .alias("_lsn"),
                F.when(s_wins, F.col("_s_op") == "D")
                .otherwise(F.col("_t_deleted"))
                .alias("_deleted"),
                F.when(s_wins, F.col("_s_bucket"))
                .otherwise(F.col("_t_bucket"))
                .alias("_bucket"),
                s_wins.alias("_won"),
            )
            # fused transform chain (see apply_batch): winner rows get
            # text/lang recomputed from their html HERE, after the
            # join, so no pandas-UDF node sits between the aligning
            # exchange and the join; target rows keep their stored
            # text/lang (non-live rows cross Arrow as nulls).
            live = F.col("_won") & ~F.col("_deleted")
            merged = self._fuse_transforms(
                merged, live, payload_cols, src_col, cur_name, src.columns
            )
            # tombstones keep key+ordering info, null payload
            merged = merged.select(
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
            merged = merged.select(*ordered_cols)

            props = self._batch_props(batch_id, lsn_range, n_winners)
            if os.environ.get("SPARK_GRAFT_DEBUG"):
                # debug-only probe: driver-side Catalyst analyze+optimize
                # cost of the merge plan (a SERIAL per-batch cost that
                # does not shrink with cores — watch it when chasing
                # scaling efficiency).  The write below replans, so this
                # measures, it does not pre-pay.
                t_c = time.monotonic()
                merged._jdf.queryExecution().executedPlan()
                phases["catalyst_probe"] = int((time.monotonic() - t_c) * 1000)
            t_w = time.monotonic()
            new_snap = self.pages.overwrite_buckets(
                touched, merged, props, base=snap, clustered=aligned,
                phases=phases, guard=self._watermark_guard(batch_id),
            )
            phases["merge_write"] = int((time.monotonic() - t_w) * 1000)
            try:
                n_winners = int(w_obs.get["n_winners"])
            except Exception:
                # Observation.get asserts when AQE's
                # PropagateEmptyRelation pruned the (empty) winner
                # subtree and the observe node never ran — which happens
                # exactly when there are no winners
                n_winners = 0
            # per-bucket lineage straight from the committed manifest
            # (parquet footer counts) — no extra Spark job
            per_bucket = [
                (int(b), sum(fi["rows"] for fi in new_snap.buckets.get(str(b), [])))
                for b in touched
            ]
            return ApplyResult(
                batch_id=batch_id,
                rows_winners=n_winners,
                buckets_touched=len(touched),
                per_bucket=sorted(per_bucket),
            )
        finally:
            if persisted is not None:
                persisted.unpersist()

    def _record_metrics(self, res: ApplyResult) -> None:
        import pandas as pd

        mark = f"stream.{self.stream_id}.last_batch"
        if int(self.metrics.properties.get(mark, "-1")) >= res.batch_id:
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
        self.metrics.append_local(pdf, {mark: str(res.batch_id)})

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
