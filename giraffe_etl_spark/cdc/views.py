"""Differential aggregate views maintained from changelog pre-images.

``ChangelogFollower`` keeps a keyed COPY in sync; ``IncrementalRollup``
keeps an AGGREGATE in sync without any copy at all.  Each ``sync()``
reads the source window once (``read_changes``'s window walk and
schema remap) and applies the signed contributions — each touched
key's post-window winner adds, its prior winner retracts — to a tiny
rollup table, the standard retraction form of incremental view
maintenance for additive aggregates (count, sum).  Non-additive
aggregates (max/min/distinct) are deliberately out of scope: a
retraction can invalidate them without enough information to
recompute incrementally.

Cost per sync at 100 TB: O(changed files) scan + the bucket-pruned
read of the touched buckets' prior row versions, one keyed aggregate
that finds each touched key's prior and post winner (partial-aggregated:
a row crosses the shuffle as its key, merge order, group values and
measures only), one more down to the touched groups' signed deltas,
collected to the driver — two exchanges, no window, no join, 3 Spark
jobs under AQE — and a driver-side O(groups) merge and replace of the
rollup's one file (pyarrow read + write, no Spark job).  The source's
base data is never re-read and no keyed replica is stored.
Exactly-once comes from the same trick the applier and follower use:
the source-snapshot cursor is committed atomically WITH the rollup
data, so a crashed sync replays idempotently.

Behavior studied (not ported): the reference has no changelog and no
derived-view maintenance; its nearest analog is re-running an
aggregating process over re-imported output files
(libgiraffe2 factories/InnerNodeSource.java:207-222, the generated
node task chain).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..lake.table import SnapshotExpired, Table
from .follow import ResyncRequired

_CURSOR_PROP = "rollup.src_snapshot"
#: persisted view definition — reopening with a different one must fail
#: loudly, not silently mix deltas computed under two definitions
_SPEC_PROP = "rollup.spec"
#: hidden live-row count per group: group existence tracks it exactly,
#: so a group whose user measures net to 0 but still has live rows
#: survives — byte-for-byte what a recompute would report
_ROWS_COL = "_rows"


class IncrementalRollup:
    """Maintain ``SELECT group_cols, SUM(measure)... GROUP BY group_cols``
    over a CDC source table, differentially.

    ``measures``: name -> SQL expression string evaluated on a
    changelog row (e.g. ``{"n_pages": "1", "chars": "length(text)"}``).
    Expressions must be additive and null-free on live rows (wrap with
    ``coalesce`` if a column can be null); tombstone halves contribute
    nothing by construction.  A hidden live-row count decides group
    existence: a group leaves the rollup exactly when its last live row
    is deleted, never because a signed user measure happens to net to
    zero.  The definition (group columns, measure expressions, deleted
    column) is persisted at creation; reopening an existing rollup with
    a different one raises instead of silently stacking deltas computed
    under two definitions.
    """

    def __init__(
        self,
        spark: SparkSession,
        src: Table,
        dst_path: str,
        group_cols: list[str],
        measures: dict[str, str],
        deleted_col: str = "_deleted",
        on_rewrite: str = "error",
    ):
        """``on_rewrite``: forwarded to ``read_changes``.  The default
        refuses windows containing rewrite commits; pass "skip" when
        the source's rewrites are known to be content-preserving MOR
        compactions (the applier's default maintenance) — their added
        files restate rows and carry no new contributions.  Operational
        only, so it may differ between opens (unlike the definition)."""
        self.spark = spark
        self.src = src
        self.group_cols = list(group_cols)
        self.measures = dict(measures)
        self.deleted_col = deleted_col
        self.on_rewrite = on_rewrite
        if not self.measures:
            raise ValueError("at least one measure is required")
        bad = [
            m for m in self.measures
            if m.startswith("_") or m in self.group_cols
        ]
        if bad:
            raise ValueError(
                f"measure names may not start with '_' or shadow group "
                f"columns: {bad}"
            )
        spec = json.dumps(
            {
                "group_cols": self.group_cols,
                "measures": self.measures,
                "deleted_col": self.deleted_col,
            },
            sort_keys=True,
        )
        if Table.exists(dst_path):
            self.dst = Table.load(spark, dst_path)
            stored = self.dst.properties.get(_SPEC_PROP)
            if stored is not None and stored != spec:
                raise ValueError(
                    "rollup already exists with a different definition "
                    f"(stored {stored}, requested {spec}) — syncing would "
                    "stack deltas computed under two definitions"
                )
            if self.dst.properties.get(_CURSOR_PROP) == self._BOOTSTRAPPING:
                # a prior constructor crashed between Table.create and
                # the seed commit: the sentinel marks the rollup as
                # unseeded — redo it (idempotent: the real cursor lands
                # only inside the seed's own commit, same crash-atomic
                # two-commit create the follower uses)
                self._seed()
            return
        src_snap = src.current_snapshot()
        src_types = {f["name"]: f["type"] for f in src_snap.schema_fields}
        unknown = [c for c in self.group_cols if c not in src_types]
        if unknown:
            raise ValueError(f"group columns not in source schema: {unknown}")
        ddl = ", ".join(
            [f"{c} {src_types[c]}" for c in self.group_cols]
            + [f"{m} double" for m in self.measures]
            + [f"{_ROWS_COL} double"]
        )
        from pyspark.sql.types import StructType

        # the rollup is |groups| rows: one bucket, one file, read and
        # replaced on the driver by every sync
        self.dst = Table.create(
            spark,
            dst_path,
            StructType.fromDDL(ddl),
            bucket_key=self.group_cols[0],
            n_buckets=1,
            properties={_CURSOR_PROP: self._BOOTSTRAPPING, _SPEC_PROP: spec},
        )
        self._seed()

    #: cursor value meaning "created, seed aggregate not yet committed"
    _BOOTSTRAPPING = "-1"

    def _seed(self) -> None:
        """Full aggregate of the CURRENT source state; the real cursor
        commits WITH it.  Also the recovery path: ``reseed()`` calls
        this when the cursor fell behind the source's retention window."""
        snap = self.src.current_snapshot()
        agg = self._aggregate_live(self.src.read(snap)).toArrow()
        self.dst.overwrite_local(
            {c: agg.column(c).to_pylist() for c in agg.column_names},
            properties_update={_CURSOR_PROP: str(snap.snapshot_id)},
        )

    def reseed(self) -> None:
        """Re-bootstrap from a full scan (after ``ResyncRequired``)."""
        self._seed()

    @property
    def cursor(self) -> int:
        return int(self.dst.properties[_CURSOR_PROP])

    def _all_measures(self) -> dict[str, str]:
        return {**self.measures, _ROWS_COL: "1"}

    def _aggregate_live(self, df: DataFrame) -> DataFrame:
        live = df.filter(~F.col(self.deleted_col)) if (
            self.deleted_col in df.columns
        ) else df
        return live.groupBy(*self.group_cols).agg(
            *[
                F.sum(F.expr(expr).cast("double")).alias(name)
                for name, expr in self._all_measures().items()
            ]
        )

    def sync(self) -> dict:
        """Fold all source commits since the cursor into the rollup.

        Returns ``commits`` (source commits folded), ``rewrites_skipped``
        (rewrite commits passed over under ``on_rewrite="skip"``),
        ``src_range`` (the source snapshot window (from, to]) and
        ``src_snapshot`` (the new cursor).  A ``rollback`` in the window
        raises ``ResyncRequired`` under either ``on_rewrite``.
        """
        # the deltas below are relative to THIS rollup state: its cursor
        # opens the window, its rows take the deltas, and the commit
        # goes through only if bucket 0 is still these rows
        base = self.dst.current_snapshot()
        cursor = int(base.properties[_CURSOR_PROP])
        head = self.src.current_snapshot()
        if head.snapshot_id <= cursor:
            return {
                "commits": 0,
                "rewrites_skipped": 0,
                "src_range": (cursor, cursor),
                "src_snapshot": cursor,
            }
        try:
            # one driver-side manifest walk serves the report and the
            # scan (a commit that removed files is a rewrite)
            from_snap = self.src.snapshot_at(cursor)
            window = self.src._commits(from_snap, head)
        except SnapshotExpired as e:
            raise ResyncRequired(
                f"rollup cursor (snapshot {cursor}) fell behind the "
                f"source's retention window ({e}) — the intervening "
                "changes are gone; call reseed() to re-bootstrap from a "
                "full scan"
            ) from None
        for snap, _, _ in window:
            if snap.summary.get("operation") == "rollback":
                raise ResyncRequired(
                    f"source snapshot {snap.snapshot_id} is a rollback — "
                    "the changelog cannot express it; call reseed() to "
                    "re-bootstrap from a full scan"
                )
        after, touched = self.src._window_scan(head, window, self.on_rewrite)
        deltas = None
        if after is not None:
            prior = self.src._prior_versions(
                from_snap, head, touched, reconcile=False
            )
            deltas = self._signed_deltas(after, prior, head).toArrow()
        self._commit_deltas(base, deltas, head.snapshot_id)
        n_rewrites = sum(1 for _, _, removed in window if removed)
        return {
            "commits": len(window) - n_rewrites,
            "rewrites_skipped": n_rewrites,
            "src_range": (cursor, head.snapshot_id),
            "src_snapshot": head.snapshot_id,
        }

    def _signed_deltas(
        self, after: DataFrame, prior: DataFrame, head
    ) -> DataFrame:
        """Per-group signed deltas of a window, in one keyed aggregate.

        ``after``: the window's row versions; ``prior``: every stacked
        version of the touched buckets at the cursor, unreconciled.
        The window's versions are CHANGE rows, not the new state — late
        data can lose to the prior winner — so per key, by the source's
        merge order: ``post`` is the winner over all versions (the
        key's state at ``head``), ``pre`` the winner over the prior
        versions only (``max_by`` skips a null ordering; the key's state
        at the cursor).  A key the window touched contributes +post (if
        live) and -pre (if live); a window whose versions all lose nets
        exactly zero.  Each version is cut down to its key, its order
        and what the rollup reads before the first exchange, so the
        source's wide columns never cross one."""
        props = head.properties
        key_cols = [c.strip() for c in props["merge.key"].split(",")]
        order_cols = [c.strip() for c in props["merge.order"].split(",")]
        live = (
            ~F.col(self.deleted_col)
            if self.deleted_col in after.columns
            else F.lit(True)
        )
        # tombstones contribute nothing: their measures are never evaluated
        value = F.struct(
            *[F.col(c) for c in self.group_cols],
            *[
                F.when(live, F.expr(expr).cast("double")).alias(name)
                for name, expr in self._all_measures().items()
            ],
            live.alias("_live"),
        )

        def versions(df: DataFrame, in_window: bool) -> DataFrame:
            return df.select(
                *key_cols,
                F.struct(*order_cols).alias("_o"),
                value.alias("_v"),
                F.lit(in_window).alias("_in_window"),
            )

        per_key = (
            versions(after, True)
            .unionByName(versions(prior, False))
            .groupBy(*key_cols)
            .agg(
                F.max_by("_v", "_o").alias("_post"),
                F.max_by("_v", F.when(~F.col("_in_window"), F.col("_o"))).alias(
                    "_pre"
                ),
                F.max("_in_window").alias("_touched"),
            )
        )
        signed = (
            per_key.filter(F.col("_touched"))
            .select(
                F.inline(
                    F.array(
                        F.struct(F.lit(1.0).alias("_s"), F.col("_post").alias("_v")),
                        F.struct(F.lit(-1.0).alias("_s"), F.col("_pre").alias("_v")),
                    )
                )
            )
            .filter(F.col("_v._live"))
        )
        return signed.groupBy(
            *[F.col("_v").getField(c).alias(c) for c in self.group_cols]
        ).agg(
            *[
                F.sum(F.col("_s") * F.col("_v").getField(name)).alias(name)
                for name in self._all_measures()
            ]
        )

    def _commit_deltas(self, base, deltas, src_snapshot: int) -> None:
        """Add the signed per-group ``deltas`` (a pyarrow Table, or None
        for a window that added no rows) to the rollup rows of ``base``
        and replace them, with the new cursor, in one commit — on the
        driver, both sides being O(groups) rows.
        A concurrent sync that committed since ``base`` makes this one
        raise ``CommitConflict`` (``overwrite_local``'s guard) instead
        of adding the same window twice.

        The merge is null-SAFE: a null group value is one group (as
        under groupBy), and Python tuples of group values compare None
        equal to None.  Group existence tracks the live-row count
        EXACTLY: a group vanishes when its ``_rows`` nets to 0, and only
        then (a user measure netting to 0 is a value, not an absence).
        """
        names = list(self._all_measures())
        g = len(self.group_cols)

        def rows(tbl):
            cols = self.group_cols + names
            return zip(*[tbl.column(c).to_pylist() for c in cols])

        merged: dict[tuple, list[float]] = {}
        tables = [self.dst.read_local(base)]
        if deltas is not None:
            tables.append(deltas)
        for tbl in tables:
            for r in rows(tbl):
                tot = merged.setdefault(r[:g], [0.0] * len(names))
                for i, v in enumerate(r[g:]):
                    tot[i] += v or 0.0
        kept = [(k, v) for k, v in merged.items() if v[-1] != 0.0]
        columns = {
            c: [k[i] for k, _ in kept] for i, c in enumerate(self.group_cols)
        }
        columns.update(
            {m: [v[i] for _, v in kept] for i, m in enumerate(names)}
        )
        self.dst.overwrite_local(
            columns,
            properties_update={_CURSOR_PROP: str(src_snapshot)},
            base=base,
        )

    def read(self) -> DataFrame:
        """The rollup: one row per group with live rows (the hidden
        existence counter stays internal)."""
        return self.dst.read().drop(_ROWS_COL)
