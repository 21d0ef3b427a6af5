"""Changelog follower: keep a downstream replica in sync with O(changes) I/O.

The consumer half of the CDC story.  ``CdcApplier`` turns a change
stream into lake-table commits; ``ChangelogFollower`` turns those
commits back into a change stream and applies it to a replica table —
a downstream materialized copy (different bucket count, different
cluster, different storage tier) that never re-reads the source's base
data.

Mechanics (all reusing the table primitives):

- each ``sync()`` diffs the source's snapshot manifests since the last
  cursor (driver-side JSON, no data I/O) and classifies every commit
  by its ``operation`` summary tag:

  * ``append`` / ``delta-append`` — the added files ARE the change
    rows (upserts + tombstones under merge-on-read); scanned once and
    committed into the replica as one delta-append,
  * ``compact`` / ``rescale`` / ``metadata`` — content-preserving:
    skipped (the replica's logical content is unaffected),
  * ``overwrite`` / ``rollback`` — content-CHANGING rewrites: the
    changelog cannot express them, so ``sync`` raises and the operator
    re-bootstraps (same contract as Iceberg's changelog scan for
    replace snapshots),

- the cursor (``follow.src_snapshot``) is stored in the REPLICA's
  snapshot properties, so advancing it is atomic with the data commit:
  a crashed sync replays idempotently — exactly-once, the same trick
  the applier uses for its batch offsets,

- last-writer-wins reconciliation is by the table's ``merge.order``
  (globally-ordered (warc_ts, _lsn)), so folding several source
  commits into one replica commit cannot change any winner,

- source schema evolution propagates structurally: the change scan
  maps added files onto the source's CURRENT schema by column id, and
  ``sync`` mirrors adds / renames / widenings / drops onto the replica
  through a persisted src-id -> dst-id column map (``follow.idmap``) —
  ids are rename-stable on both sides, so no evolution kind needs a
  manual replica operation.

At 100 TB: sync I/O is bounded by the changed files, the manifest walk
is O(commits), and the replica write path is the same single-exchange
delta-append the applier uses.
"""

from __future__ import annotations

import json as _json_mod
import os

from pyspark.sql import SparkSession

from ..lake.table import SnapshotExpired, Table

# operations whose added files are change rows
_APPEND_OPS = {"append", "delta-append"}
# operations that restate logical content without changing it
_PRESERVING_OPS = {"compact", "rescale", "metadata", "create"}

_CURSOR_PROP = "follow.src_snapshot"
#: persisted src-column-id -> dst-column-id map (schema mirroring)
_IDMAP_PROP = "follow.idmap"
#: persisted projection: the source column IDS this replica mirrors
#: (absent = full mirror).  Ids, not names — rename-stable, like the idmap.
_PROJ_PROP = "follow.projection"
#: persisted row predicate (SQL string; absent = all rows)
_WHERE_PROP = "follow.where"


class ResyncRequired(Exception):
    """The source history contains a content-changing rewrite."""


class ChangelogFollower:
    """Tail a source ``Table``'s commit log into a replica ``Table``."""

    #: cursor value meaning "created, bootstrap copy not yet committed"
    _BOOTSTRAPPING = "-1"

    def __init__(
        self,
        spark: SparkSession,
        src: Table,
        dst_path: str,
        n_buckets: int | None = None,
        compact_threshold: int = 16,
        columns: list[str] | None = None,
        where: str | None = None,
    ):
        """``columns``: optional payload projection — the replica mirrors
        only these source columns (plus, always, the bucket key, the
        ``merge.order`` columns and the engine columns), cutting sync
        I/O and replica storage to the projected width.  A derived
        table maintained this way stays O(changes) per sync like a full
        replica, but a downstream rollup reads a table that is a tiny
        fraction of the source's bytes (at 100 TB of html, a
        url/warc_ts/lang projection is ~10^4x smaller).  The projection
        is fixed at creation and persisted as source column IDS
        (rename-stable): renames/widenings/drops of kept columns still
        auto-propagate; source columns OUTSIDE the projection — present
        at creation or added later — are ignored, including their
        drops.  Loading an existing replica ignores the argument
        (the persisted projection wins); passing a conflicting one
        raises.

        ``where``: optional row predicate (SQL string over SOURCE
        columns) — a partial replica holding only matching rows.  To
        stay LWW-correct under late data, non-matching row versions are
        not dropped but TOMBSTONIZED (bucket key, merge key and
        merge-order columns kept, payload nulled, deleted flag set): a
        key whose current winner doesn't match leaves an index-sized
        stub that outranks any late-arriving older version which does
        match — dropping it instead would let that stale version
        resurrect in the replica.
        A row UPDATED from matching to non-matching therefore converges
        to a tombstone, exactly as a recompute of ``filter(where)``
        would hide it.  The predicate is fixed at creation (persisted;
        conflicting reopen raises), resolved by NAME at each sync —
        renaming a referenced source column breaks it (documented
        limitation, same as any SQL view).  Composes with ``columns``:
        the predicate may reference columns outside the projection
        (filter runs on the source-shaped frame, before projection).
        """
        self.spark = spark
        self.src = src
        # replica MOR maintenance: fold a bucket's deltas into its base
        # above this many delta files (0 disables) — without it an
        # un-compacted replica's read-side reconcile grows unboundedly
        self.compact_threshold = compact_threshold
        if Table.exists(dst_path):
            self.dst = Table.load(spark, dst_path)
            self._check_requested_projection(columns)
            stored = self.dst.properties.get(_WHERE_PROP)
            if where is not None and where != stored:
                raise ValueError(
                    f"replica already exists with a different predicate "
                    f"(stored {stored!r}, requested {where!r})"
                )
            if self.dst.properties.get(_CURSOR_PROP, self._BOOTSTRAPPING) == (
                self._BOOTSTRAPPING
            ):
                # a prior constructor crashed between Table.create and
                # the bootstrap data commit: the sentinel cursor marks
                # the copy as incomplete — redo it (idempotent: the
                # real cursor lands only inside the copy's own commit)
                self._bootstrap()
            return
        # bootstrap: replica shares the source's CURRENT schema and
        # merge spec; bucket count is the replica's own choice.  The
        # cursor is created as a SENTINEL and set to the real source
        # snapshot only inside the bootstrap data commit below — the
        # two-commit create is therefore crash-atomic (a crash between
        # them leaves the sentinel, and reconstruction redoes the copy
        # instead of silently skipping all pre-cursor rows).
        snap = src.current_snapshot()
        props = {
            k: v
            for k, v in snap.properties.items()
            if k in ("merge.key", "merge.order", "stats.cols")
        }
        props[_CURSOR_PROP] = self._BOOTSTRAPPING
        if where is not None:
            if "_deleted" not in {f["name"] for f in snap.schema_fields}:
                raise ValueError(
                    "where= requires a tombstone column (_deleted) on the "
                    "source — non-matching versions are tombstonized, not "
                    "dropped"
                )
            props[_WHERE_PROP] = where
        struct = src._current_struct(snap)
        if columns is not None:
            keep = self._resolve_projection(snap, columns)
            props[_PROJ_PROP] = _json_mod.dumps(sorted(keep))
            struct = type(struct)(
                [f for f in struct.fields if f.name in {
                    g["name"] for g in snap.schema_fields if g["id"] in keep
                }]
            )
            # a projected replica must not claim stats columns it
            # doesn't carry
            stats = [
                c for c in props.get("stats.cols", "").split(",")
                if c and c in {f.name for f in struct.fields}
            ]
            if stats:
                props["stats.cols"] = ",".join(stats)
            else:
                props.pop("stats.cols", None)
        self.dst = Table.create(
            spark,
            dst_path,
            struct,
            bucket_key=snap.properties["bucket.key"],
            n_buckets=n_buckets or int(snap.properties["bucket.count"]),
            properties=props,
        )
        self._bootstrap()

    def _resolve_projection(self, src_snap, columns: list[str]) -> set[int]:
        """Requested payload names -> kept source ids (plus required).

        Required = bucket key + merge.key + merge.order columns (the
        replica copies those properties, so dropping a column they name
        would break its own reconciled reads) + engine columns.  A
        required name the source schema lacks is an error, not a silent
        drop — a replica missing its own merge.order column is corrupt
        at creation.
        """
        from .apply import ENGINE_COLS

        by_name = {f["name"]: f["id"] for f in src_snap.schema_fields}
        unknown = [c for c in columns if c not in by_name]
        if unknown:
            raise ValueError(f"projection names unknown source columns: {unknown}")
        props = src_snap.properties
        required = [props["bucket.key"]]
        for prop in ("merge.key", "merge.order"):
            required += [
                c.strip() for c in props.get(prop, "").split(",") if c.strip()
            ]
        missing = [c for c in required if c not in by_name]
        if missing:
            raise ValueError(
                f"source schema lacks required replica columns {missing} "
                "(bucket/merge key or order)"
            )
        required += [c for c in ENGINE_COLS if c in by_name]
        return {by_name[c] for c in (*required, *columns)}

    def _projection(self) -> set[int] | None:
        raw = self.dst.properties.get(_PROJ_PROP)
        return set(_json_mod.loads(raw)) if raw else None

    def _check_requested_projection(self, columns: list[str] | None) -> None:
        """Loading an existing replica: the persisted projection wins,
        but a CONFLICTING request must fail loudly, not silently serve
        different columns than the caller asked for.

        Compared over the ids that still exist in the source: a kept
        column dropped at the source leaves the replica, but its id
        stays in the stored projection (ids are never reused), so the
        caller's original ``columns=`` still matches.  A requested name
        the source no longer has is ignored only when an id it had is
        in the stored projection; any other unknown name stays an
        error.
        """
        if columns is None:
            return
        snap = self.src.current_snapshot()
        live_ids = {f["id"] for f in snap.schema_fields}
        live_names = {f["name"] for f in snap.schema_fields}
        have = self._projection() or set()
        dropped = {
            f["name"]
            for fields in snap.schemas.values()
            for f in fields
            if f["id"] in have - live_ids and f["name"] not in live_names
        }
        want = self._resolve_projection(
            snap, [c for c in columns if c not in dropped]
        )
        if not have or want != have & live_ids:
            raise ValueError(
                "replica already exists with a different projection "
                f"(stored src ids {sorted(have) if have else 'ALL'}, "
                f"requested {sorted(want)})"
            )

    def _project_to_dst(self, df):
        """Restrict a source-shaped frame to the replica's columns."""
        names = [f["name"] for f in self.dst.current_snapshot().schema_fields]
        return df.select(*names) if set(names) != set(df.columns) else df

    def _apply_where(self, df):
        """Tombstonize row versions that fail the replica's predicate.

        Matching live rows pass through; everything else (non-matching,
        null-predicate, already-deleted) keeps only the bucket key, the
        merge key, the merge-order columns and the deleted flag — an
        index-sized stub whose merge-order still outranks late-arriving
        older versions.
        """
        from pyspark.sql import functions as F

        where = self.dst.properties.get(_WHERE_PROP)
        if not where:
            return df
        from .apply import ENGINE_COLS

        src_snap = self.src.current_snapshot()
        # same required set as _resolve_projection: a stub without its
        # merge key would fold under a null key and block nothing
        keep = {src_snap.properties["bucket.key"]}
        for prop in ("merge.key", "merge.order"):
            keep |= {
                c.strip()
                for c in src_snap.properties.get(prop, "").split(",")
                if c.strip()
            }
        keep |= set(ENGINE_COLS)
        cond = F.coalesce(F.expr(where), F.lit(False)) & ~F.col("_deleted")
        cols = []
        for name, dtype in df.dtypes:
            if name == "_deleted":
                cols.append((~cond).alias("_deleted"))
            elif name in keep:
                cols.append(F.col(name))
            else:
                cols.append(
                    F.when(cond, F.col(name))
                    .otherwise(F.lit(None).cast(dtype))
                    .alias(name)
                )
        return df.select(*cols)

    def _bootstrap(self) -> None:
        """Initial copy: reconciled current content, cursor set with it.

        O(table) once, O(changes) forever after.  ONE commit carries
        both the data and the real cursor (an empty source commits the
        cursor as a metadata-only snapshot), so any crash point replays
        idempotently — re-running stacks duplicate row VERSIONS at
        worst, which per-key LWW reconcile collapses.
        """
        snap = self.src.current_snapshot()
        self._evolve_dst_to_src(snap)
        full = self._project_to_dst(
            self._apply_where(self.src.read(snap, reconcile=True))
        )
        if full.take(1):
            self.dst.append_deltas(
                None,
                full,
                properties_update={_CURSOR_PROP: str(snap.snapshot_id)},
            )
            self._compact_if_needed()
        else:
            self.dst.set_properties({_CURSOR_PROP: str(snap.snapshot_id)})

    @property
    def cursor(self) -> int:
        return int(self.dst.properties[_CURSOR_PROP])

    def _evolve_dst_to_src(self, src_snap) -> None:
        """Mirror source schema evolution onto the replica — by column id.

        The replica persists a src-id -> dst-id map (``follow.idmap``),
        seeded positionally at bootstrap (the replica is created from
        the source's current field list, so index i of each side is the
        same column).  Ids are stable across renames on BOTH tables, so
        every evolution kind propagates structurally:

        * src id missing from the map      -> add_column on the replica
        * mapped ids, names differ         -> rename_column (the round-3
          manual-rename contract is gone)
        * mapped ids, types differ         -> widen_column
        * mapped src id gone from src      -> drop_column

        Drops run first so a rename TO a just-dropped name cannot
        collide.  Each step is idempotent against a crash between an
        evolution commit and the idmap save: a re-run adopts an
        existing same-name unmapped column instead of re-adding, and a
        missing dst field just clears the stale map entry.  Replica
        columns outside the map (user-added locals) are refused — the
        sync append writes src-shaped frames under the replica's
        current schema id, so a local extra would poison the scan.
        """
        _json = _json_mod

        idmap: dict[str, int] = _json.loads(
            self.dst.properties.get(_IDMAP_PROP, "") or "{}"
        )
        # projected replica: the evolution mirror sees ONLY the kept
        # source ids — outside-projection adds/renames/drops are
        # invisible by construction.  A kept column's drop keeps its id
        # in the persisted projection (see _check_requested_projection).
        proj = self._projection()
        dst_fields = self.dst.current_snapshot().schema_fields
        dirty = False
        if not idmap:
            # fresh bootstrap or legacy replica (pre-idmap): seed by
            # name — names match at bootstrap by construction, and the
            # legacy contract guaranteed they matched at every sync.
            # Persist the seed NOW: rename detection needs the pairing
            # that existed before the rename.
            by_name = {f["name"]: f["id"] for f in dst_fields}
            idmap = {
                str(f["id"]): by_name[f["name"]]
                for f in src_snap.schema_fields
                if f["name"] in by_name
                and (proj is None or f["id"] in proj)
            }
            dirty = True
        src_fields = [
            f for f in src_snap.schema_fields
            if proj is None or f["id"] in proj
        ]
        src_ids = {f["id"] for f in src_fields}

        def dst_by_id() -> dict:
            return {
                f["id"]: f for f in self.dst.current_snapshot().schema_fields
            }

        for sid_s in list(idmap):
            if int(sid_s) not in src_ids:
                hit = dst_by_id().get(idmap[sid_s])
                if hit is not None:
                    self.dst.drop_column(hit["name"])
                del idmap[sid_s]
                dirty = True
        for f in src_fields:
            did = idmap.get(str(f["id"]))
            if did is None:
                existing = [
                    g
                    for g in self.dst.current_snapshot().schema_fields
                    if g["name"] == f["name"]
                ]
                if existing and existing[0]["id"] in set(idmap.values()):
                    raise ResyncRequired(
                        f"source added column {f['name']} but the replica "
                        "already maps that name to a different source column"
                    )
                if existing:  # crash-replay: adopt the earlier add
                    idmap[str(f["id"])] = existing[0]["id"]
                else:
                    snap = self.dst.add_column(f["name"], f["type"])
                    new_id = [
                        g["id"]
                        for g in snap.schema_fields
                        if g["name"] == f["name"]
                    ][0]
                    idmap[str(f["id"])] = new_id
                dirty = True
                continue
            g = dst_by_id().get(did)
            if g is None:
                raise ResyncRequired(
                    f"replica column for source id {f['id']} was dropped "
                    "out-of-band; re-bootstrap"
                )
            if g["name"] != f["name"]:
                self.dst.rename_column(g["name"], f["name"])
            if g["type"] != f["type"]:
                self.dst.widen_column(f["name"], f["type"])
        unmapped = {
            g["name"]
            for g in self.dst.current_snapshot().schema_fields
            if g["id"] not in set(idmap.values())
        }
        if unmapped:
            raise ResyncRequired(
                f"replica has columns the source lacks: {sorted(unmapped)} — "
                "drop them on the replica or re-bootstrap"
            )
        if dirty:
            self.dst.set_properties({_IDMAP_PROP: _json.dumps(idmap)})

    def sync(self) -> dict:
        """Apply all source commits since the cursor; returns a report."""
        head = self.src.current_snapshot()
        cur = self.cursor
        if head.snapshot_id <= cur:
            return {"commits": 0, "files": 0, "src_snapshot": cur}
        entries: list[dict] = []
        n_commits = 0
        try:
            commits = self.src._commits(self.src.snapshot_at(cur), head)
        except SnapshotExpired as e:
            raise ResyncRequired(
                f"follower cursor (snapshot {cur}) fell behind the source's "
                f"retention window ({e}) — the intervening changes are gone; "
                "re-bootstrap the replica from a full scan"
            ) from None
        for snap, added, removed in commits:
            op = snap.summary.get("operation", "unknown")
            if op in _PRESERVING_OPS:
                continue
            if op not in _APPEND_OPS or removed:
                raise ResyncRequired(
                    f"source snapshot {snap.snapshot_id} is a "
                    f"content-changing '{op}' commit "
                    f"({len(removed)} file(s) removed) — the changelog "
                    "cannot express it; re-bootstrap the replica"
                )
            n_commits += 1
            entries.extend(added)
        # mirror schema BEFORE the early return: a metadata-only window
        # (pure evolution, no data) must still propagate — a drop that
        # waited for the next data commit would leave the replica
        # serving a column the source no longer has
        self._evolve_dst_to_src(head)
        if not entries:
            # nothing but preserving commits: advance the cursor only
            self.dst.set_properties({_CURSOR_PROP: str(head.snapshot_id)})
            return {"commits": 0, "files": 0, "src_snapshot": head.snapshot_id}
        changes = self._project_to_dst(
            self._apply_where(
                self.src._scan(head, entries, with_bucket_col=False)
            )
        )
        # touched buckets derive from the committed manifest diff
        # (bucket_ids=None) — per-sync manifest metadata is O(touched
        # replica buckets), not O(all buckets)
        self.dst.append_deltas(
            None,
            changes,
            properties_update={_CURSOR_PROP: str(head.snapshot_id)},
        )
        self._compact_if_needed()
        return {
            "commits": n_commits,
            "files": len(entries),
            "src_snapshot": head.snapshot_id,
        }

    def _compact_if_needed(self) -> None:
        """Fold replica deltas above the threshold (same policy as the
        applier) so read-side reconcile cost stays bounded."""
        if self.compact_threshold:
            self.dst.compact_deltas(max_delta_files=self.compact_threshold)
