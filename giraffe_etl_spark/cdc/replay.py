"""Replay loop: tail the change stream in bounded batches, resumably.

``replay`` is the giraffe `Cli --usecache` analog: it reads the last
committed batch id from the pages table's snapshot properties (the
transactional offset log) and continues from the next batch.  Killing
the process anywhere — including between the quarantine commit and the
pages commit — and re-running converges to the same final snapshot,
because every commit is guarded by its batch watermark.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from .apply import ApplyResult, CdcApplier
from .generate import ChangeGenConfig, changes_df


@dataclass
class ReplayReport:
    batches: list[ApplyResult]

    @property
    def events_total(self) -> int:
        return sum(b.rows_in for b in self.batches if not b.skipped)

    @property
    def wall_ms_total(self) -> int:
        return sum(b.wall_ms for b in self.batches if not b.skipped)


def replay(
    applier: CdcApplier,
    spark: SparkSession,
    n_events: int,
    batch_size: int,
    cfg: ChangeGenConfig | None = None,
    max_batches: int | None = None,
    source=None,
) -> ReplayReport:
    """Apply the deterministic stream [0, n_events) in batches.

    Batch b covers stream rows [b*batch_size, (b+1)*batch_size); the
    batch id doubles as the offset (lsn ranges are derived, 3 lsn per
    row index — see cdc/generate.py).  Resumes after the last committed
    batch automatically.

    ``source``: optional ``(spark, cfg, lo, hi) -> DataFrame`` batch
    factory.  Default regenerates each range via mapInPandas; a
    binlog-shaped deployment passes a factory that range-reads a
    staged log instead (see ``parquet_log_source``).
    """
    cfg = cfg or ChangeGenConfig()
    src = source or _batch_df
    n_batches = (n_events + batch_size - 1) // batch_size
    start_batch = applier.last_committed_batch() + 1
    results: list[ApplyResult] = []
    done = 0
    for b in range(start_batch, n_batches):
        lo = b * batch_size
        hi = min(lo + batch_size, n_events)
        # build the batch directly over its index range (no full-stream scan)
        batch = src(spark, cfg, lo, hi)
        res = applier.apply_batch(batch, batch_id=b, lsn_range=(lo * 3, hi * 3 - 1))
        results.append(res)
        # self-maintenance (no-op unless the applier carries a
        # MaintenancePolicy); runs AFTER the commit so apply_batch's
        # timed region stays pure apply work
        applier.maintain(b)
        done += 1
        if max_batches is not None and done >= max_batches:
            break
    return ReplayReport(results)


def stage_change_log(
    spark: SparkSession,
    path: str,
    n_events: int,
    cfg: ChangeGenConfig | None = None,
    segment_rows: int = 25_000,
) -> None:
    """Materialize the deterministic stream as a parquet change log.

    The real deployment tails a persisted binlog/WAL; this writes one,
    split into ``segment_rows``-sized segment files (real binlogs are
    segmented too).  Each segment covers a contiguous lsn range — the
    generator is pure in the row index and ``spark.range`` slices the
    index space contiguously per partition — so a batch's lsn-range
    predicate prunes to whole segments via row-group statistics, AND
    the scan parallelism inside one batch is ``rows / segment_rows``
    tasks rather than one-task-per-128MB: with compressible html a
    10^5-event range is a few MB on disk, and a single-row-group file
    would serialize the entire canonicalize/dedup scan stage no matter
    how many cores the cluster has.
    """
    cfg = cfg or ChangeGenConfig()
    n_seg = max(4, (n_events + segment_rows - 1) // segment_rows)
    changes_df(spark, n_events, cfg, partitions=n_seg).write.mode(
        "overwrite"
    ).parquet(path)


def parquet_log_source(path: str):
    """Batch factory over a staged change log: lsn-range pruned scan.

    lsn of row i lies in [3i, 3i+2], so rows [lo, hi) are exactly
    lsn in [3*lo, 3*hi): a pushed-down range predicate the parquet
    reader answers from row-group statistics — the Spark shape of
    "seek to binlog offset".  The log's schema is known
    (``_CHANGES_SCHEMA``), so opening a batch runs no schema-inference
    job.
    """
    from pyspark.sql import functions as F

    from .generate import _CHANGES_SCHEMA

    def src(spark, cfg, lo, hi):
        return (
            spark.read.schema(_CHANGES_SCHEMA)
            .parquet(path)
            .filter((F.col("lsn") >= 3 * lo) & (F.col("lsn") < 3 * hi))
        )

    return src


def _batch_df(spark: SparkSession, cfg: ChangeGenConfig, lo: int, hi: int):
    from .generate import _CHANGES_SCHEMA, gen_change_batch

    num_parts = spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids) == 0:
                continue
            yield gen_change_batch(cfg, int(ids.min()), len(ids))

    return spark.range(lo, hi, 1, num_parts).mapInPandas(gen, schema=_CHANGES_SCHEMA)
