"""Snapshot-isolated, bucketed lake table over parquet files.

Why this exists: the production design targets Apache Iceberg
(``MERGE INTO`` + snapshot properties for the offset log, see
SURVEY.md §3.4).  The sandbox ships no Iceberg runtime jar, so this
module supplies the same *semantics* with the same API shape, keeping
everything above it (cdc/apply.py) a thin, portable planner:

- **snapshot isolation / atomic commit**: a snapshot is an immutable
  JSON manifest (file list per bucket + schema + properties); the
  current-snapshot pointer is flipped atomically and manifests are
  claimed create-if-absent — both primitives behind the ``FileIO``
  seam (lake/fileio.py; POSIX default, S3-class strategy documented
  there); optimistic concurrency via parent-id check,
- **bucket layout**: rows are hash-distributed into N buckets by a key
  column (Iceberg ``bucket(N, url)``); MERGE rewrites only the buckets
  the source batch touches — at 100 TB this is the difference between
  rewriting gigabytes and rewriting the table,
- **merge-on-read deltas** (Iceberg v2 MOR analog): a bucket holds
  *base* files (unique keys) plus *delta* files (newer row versions,
  including tombstones); reads reconcile per key by last-writer-wins
  over the table's declared ``merge.order`` columns, and
  ``compact_deltas`` folds deltas back into the base.  A CDC batch
  then commits O(batch) bytes no matter how many keys it scatters
  across — the copy-on-write alternative rewrites every touched
  bucket wholesale, which under uniform-key batches is the whole
  table,
- **schema evolution by column id**: add / rename / widen / drop keep
  stable column ids (rename is a name change on the same id; drop is
  metadata-only and ids are never reused, so a re-added name cannot
  resurrect dropped data); every data file records the schema id it
  was written under, and reads map old files onto the current schema
  by id (rename-safe, widen-casts, fills added columns with null),
- **properties**: arbitrary string map carried on each snapshot — the
  CDC layer stores stream offsets there, which is what makes the
  offset log transactional with the data (exactly-once).

Reference analog (behavior only): the transactional BDB JE environment
that giraffe-etl used as its persistent state store + resume cache
(libgiraffe2 database/DatabaseHandler.java:140-167, ``--usecache``).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructType

from ..session import _conf_pinned
from .fileio import FileIO, PosixFileIO
from .catalog_http import CasConflict

_WIDENINGS = {
    ("int", "bigint"),
    ("float", "double"),
    ("timestamp", "timestamp_ntz"),
    ("timestamp_ntz", "timestamp"),
    ("date", "timestamp"),
}


# Scans list their files serially on the driver: the manifest already
# names every file, and parallel partition discovery would run a Spark
# job with one task per path once a scan passes the threshold (32).
_SERIAL_LISTING = {
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1)
}


def _struct(fields: list[dict]) -> StructType:
    """The Spark struct of a manifest schema's field list."""
    return StructType.fromDDL(
        ", ".join(f"`{f['name']}` {f['type']}" for f in fields)
    )


def _empty_frame(spark: SparkSession, struct: StructType) -> DataFrame:
    """A row-less DataFrame built on the JVM: an empty ``LocalRelation``
    has no partitions, so it runs no task, and the optimizer drops it
    from a union.  (``spark.createDataFrame([], schema)`` parallelizes
    an empty Python list: one Python-worker task per core that
    unpickles nothing.)"""
    jspark = spark._jsparkSession
    jstruct = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(struct.json())
    return DataFrame(
        jspark.createDataFrame(spark._jvm.java.util.ArrayList(), jstruct), spark
    )


def aligned_partition_count(n_buckets: int, slots: int) -> int:
    """Smallest divisor of ``n_buckets`` that is >= ``slots``, else
    ``n_buckets`` (see ``Table.aligned_partitions``)."""
    return next(
        (p for p in range(max(slots, 1), n_buckets) if n_buckets % p == 0),
        n_buckets,
    )


def last_writer_wins(
    df: DataFrame, key: str, order_cols: list[str], count_as: str | None = None
) -> DataFrame:
    """The winning row per ``key``: ``max_by(every column, order)``.

    One aggregate, map-side combined: the partial aggregate before the
    exchange collapses each key to ONE row per map task, so a key with
    many versions (or a hot key in a change batch) ships one
    pre-aggregated row per task, never its whole history.  The order
    columns must be unique per key among the rows (the CDC layer
    guarantees this with globally-unique lsns).  ``count_as``: also
    emit the key's row count under that name, from the same aggregate.
    """
    cols = df.columns
    aggs = [
        F.max_by(
            F.struct(*[F.col(c) for c in cols]),
            F.struct(*[F.col(c) for c in order_cols]),
        ).alias("_w")
    ]
    if count_as:
        aggs.append(F.count(F.lit(1)).alias(count_as))
    won = df.groupBy(key).agg(*aggs)
    return won.select(
        *[F.col("_w").getField(c).alias(c) for c in cols],
        *([count_as] if count_as else []),
    )


class SnapshotExpired(Exception):
    """A referenced snapshot's manifest no longer exists (expired)."""


class CommitConflict(Exception):
    """Another writer committed since this snapshot was read."""


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    schema_id: int
    schemas: dict[str, list[dict]]          # schema_id -> [{id,name,type}]
    buckets: dict[str, list[dict]]          # bucket -> [{path, schema_id, rows}]
    properties: dict[str, str] = field(default_factory=dict)
    summary: dict[str, int] = field(default_factory=dict)
    # merge-on-read delta files per bucket (same entry shape as buckets);
    # default keeps pre-MOR manifests loadable
    deltas: dict[str, list[dict]] = field(default_factory=dict)

    @property
    def schema_fields(self) -> list[dict]:
        return self.schemas[str(self.schema_id)]


# manifest-shard cache: shards are content-addressed and therefore
# immutable, so a path can be cached forever; bounded FIFO so a
# long-lived session over many tables stays flat.  Mutated from
# concurrent committer threads — every get/insert/evict holds the
# lock (two unsynchronized evictions at the cap can race to pop the
# same key and fail an otherwise-valid commit).
import threading as _threading

_MANIFEST_CACHE: dict[str, list] = {}
_MANIFEST_CACHE_CAP = 4096
_MANIFEST_CACHE_LOCK = _threading.Lock()


def _manifest_cache_put(path: str, entries: list) -> None:
    with _MANIFEST_CACHE_LOCK:
        while len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_CAP:
            _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)), None)
        _MANIFEST_CACHE[path] = entries


def _manifest_cache_drop(path: str) -> None:
    with _MANIFEST_CACHE_LOCK:
        _MANIFEST_CACHE.pop(path, None)


def _footer_stats(md, stats_cols: list[str]) -> dict[str, list]:
    """min/max per requested column from parquet row-group statistics.

    JSON-safe values only (timestamps -> isoformat); a column whose
    statistics are missing in any row group is omitted — consumers must
    treat absence as "unknown", never as "no matches".
    """
    if not stats_cols:
        return {}
    names = [md.schema.column(j).name for j in range(md.num_columns)]
    out: dict[str, list] = {}
    for cname in stats_cols:
        if cname not in names:
            continue
        j = names.index(cname)
        mn = mx = None
        ok = md.num_row_groups > 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(j).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)

        def safe(v):
            if isinstance(v, (bool, int, float, str)) or v is None:
                return v
            iso = getattr(v, "isoformat", None)
            return iso() if iso else None

        if ok and safe(mn) is not None and safe(mx) is not None:
            out[cname] = [safe(mn), safe(mx)]
    return out


# The atomic create-if-absent / pointer-flip primitives live behind the
# FileIO seam (lake/fileio.py): PosixFileIO is the default; the module
# docstring there records the object-store (S3-class) strategy.


class Table:
    """A bucketed, snapshot-versioned parquet table.

    Layout::

        <path>/_meta/v{N}.json   immutable snapshot manifests
        <path>/_meta/_current    text file holding the current N
        <path>/data/...parquet   immutable data files
    """

    def __init__(
        self, spark: SparkSession, path: str, io: FileIO | None = None
    ):
        self.spark = spark
        self.path = path
        self.io = io or PosixFileIO()
        self.meta_dir = os.path.join(path, "_meta")
        self.data_dir = os.path.join(path, "data")

    # ---- lifecycle -----------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: StructType,
        bucket_key: str,
        n_buckets: int,
        properties: dict[str, str] | None = None,
        io: FileIO | None = None,
    ) -> "Table":
        t = cls(spark, path, io=io)
        # Metadata exclusivity goes through the FileIO seam (a marker
        # conditional-PUT on object stores); the data dir stays a real
        # local/Hadoop path because Spark's writers own it.
        t.io.makedirs(t.meta_dir, exist_ok=False)
        os.makedirs(t.data_dir, exist_ok=True)
        fields = [
            {"id": i + 1, "name": f.name, "type": f.dataType.simpleString()}
            for i, f in enumerate(schema.fields)
        ]
        props = dict(properties or {})
        props["bucket.key"] = bucket_key
        props["bucket.count"] = str(n_buckets)
        snap = Snapshot(
            snapshot_id=0,
            parent_id=None,
            schema_id=0,
            schemas={"0": fields},
            buckets={},
            properties=props,
            summary={"total_rows": 0, "operation": "create"},
        )
        t._write_snapshot(snap)
        return t

    @classmethod
    def load(
        cls, spark: SparkSession, path: str, io: FileIO | None = None
    ) -> "Table":
        t = cls(spark, path, io=io)
        if not t.io.exists(os.path.join(t.meta_dir, "_current")):
            raise FileNotFoundError(f"not a lake table: {path}")
        return t

    @staticmethod
    def exists(path: str, io: FileIO | None = None) -> bool:
        return (io or PosixFileIO()).exists(
            os.path.join(path, "_meta", "_current")
        )

    # ---- snapshot plumbing ----------------------------------------------

    @property
    def manifest_dir(self) -> str:
        return os.path.join(self.meta_dir, "manifests")

    def _load_manifest(self, ref: str) -> list[dict]:
        """Resolve a manifest-shard ref to its file-entry list (cached).

        Shards are content-addressed (the ref embeds the content hash),
        hence immutable — cache hits are safe forever.  Returns a fresh
        outer list (entry dicts are shared; they are treated as
        immutable everywhere).
        """
        path = os.path.join(self.manifest_dir, ref)
        with _MANIFEST_CACHE_LOCK:
            ent = _MANIFEST_CACHE.get(path)
        if ent is None:
            ent = json.loads(self.io.read_text(path))
            _manifest_cache_put(path, ent)
        return list(ent)

    def _store_manifest(self, entries: list[dict]) -> str:
        """Write one bucket's file list as a content-addressed shard.

        Identical content -> identical ref -> no write: a commit that
        leaves a bucket untouched reuses the parent snapshot's shard,
        so commit METADATA I/O is O(touched buckets), mirroring what
        merge-on-read does for data I/O (Iceberg's manifest-list reuse,
        same idea).  Two writers racing the same content collide on the
        same name — by construction the same bytes, so the loser's
        ``CommitConflict`` is ignored.
        """
        content = json.dumps(entries, sort_keys=True)
        ref = "m-" + hashlib.sha256(content.encode()).hexdigest()[:16] + ".json"
        path = os.path.join(self.manifest_dir, ref)
        if not self.io.exists(path):
            self.io.makedirs(self.manifest_dir, exist_ok=True)
            try:
                self.io.create_if_absent(path, content)
            except FileExistsError:
                pass  # content-addressed: same name == same content
            _manifest_cache_put(path, entries)
        return ref

    def _read_snapshot_file(self, path: str) -> Snapshot:
        d = json.loads(self.io.read_text(path))
        d.pop("format", None)
        d.pop("writer_nonce", None)
        for key in ("buckets", "deltas"):
            m = d.get(key) or {}
            # v2 stores shard refs (str); v1 stored the lists inline
            d[key] = {
                b: self._load_manifest(v) if isinstance(v, str) else v
                for b, v in m.items()
            }
        return Snapshot(**d)

    def current_snapshot(self) -> Snapshot:
        n = int(self.io.read_text(os.path.join(self.meta_dir, "_current")).strip())
        return self._read_snapshot_file(os.path.join(self.meta_dir, f"v{n}.json"))

    def snapshot_at(self, snapshot_id: int) -> Snapshot:
        try:
            return self._read_snapshot_file(
                os.path.join(self.meta_dir, f"v{snapshot_id}.json")
            )
        except FileNotFoundError:
            raise SnapshotExpired(
                f"snapshot {snapshot_id} has no manifest — it was expired "
                "(expire_snapshots) or never existed; time travel, rollback "
                "and changelog reads must start at a surviving snapshot"
            ) from None

    def _write_snapshot(self, snap: Snapshot) -> None:
        """Commit: atomic manifest create, parent check, pointer flip.

        The manifest create (``io.create_if_absent``) is the linearization
        point: exactly one committer can own snapshot id N.  The parent
        check before the pointer flip catches the remaining interleave
        (our parent was superseded while we linked) — the flip itself
        only ever moves the pointer to a manifest whose parent IS the
        current pointee, so history stays a chain.

        File lists are stored as per-bucket content-addressed shards
        (``_store_manifest``): the snapshot JSON itself is O(buckets)
        regardless of file count, and an untouched bucket's shard is
        shared with the parent snapshot by reference.

        Every delete of ``v{N}.json`` on the failure paths is
        OWNER-CHECKED via ``io.delete_if_matches`` against the exact
        bytes this attempt wrote: the doc embeds a per-attempt
        ``writer_nonce`` so no two attempts ever serialize to the same
        bytes.  Without this, a writer stalled past ``ORPHAN_GRACE_S``
        between manifest create and parent check could be reaped by a
        second writer, resume, see the moved pointer, and blindly
        delete the second writer's LIVE committed manifest — stranding
        ``_current`` at a missing file (table corruption).  The nonce
        guard turns that delete into a no-op.
        """
        doc = {
            "format": 2,
            "writer_nonce": uuid.uuid4().hex,
            "snapshot_id": snap.snapshot_id,
            "parent_id": snap.parent_id,
            "schema_id": snap.schema_id,
            "schemas": snap.schemas,
            "buckets": {
                b: self._store_manifest(fs) for b, fs in snap.buckets.items()
            },
            "deltas": {
                b: self._store_manifest(fs) for b, fs in snap.deltas.items()
            },
            "properties": snap.properties,
            "summary": snap.summary,
        }
        mpath = os.path.join(self.meta_dir, f"v{snap.snapshot_id}.json")
        payload = json.dumps(doc, sort_keys=True)
        try:
            self.io.create_if_absent(mpath, payload)
        except FileExistsError:
            # A manifest with our id already exists.  Either (a) a live
            # concurrent writer just created it and is about to flip the
            # pointer — lose the race, let _retry_commit re-read — or
            # (b) a writer CRASHED between creating it and the pointer
            # flip, leaving an orphan that would otherwise block every
            # future commit forever (all writers compose id N, collide,
            # re-read an unmoved pointer, exhaust retries).  An orphan
            # is distinguishable: its parent still IS the current
            # pointee (a live winner flips within the grace period).
            if not self._reap_orphan_manifest(mpath, snap.parent_id):
                raise CommitConflict(
                    f"manifest already exists: {mpath}"
                ) from None
            try:
                self.io.create_if_absent(mpath, payload)
            except FileExistsError:
                raise CommitConflict(
                    f"manifest already exists: {mpath}"
                ) from None
        self._park_for_test("post_create")
        cur = os.path.join(self.meta_dir, "_current")
        if self.io.exists(cur) and snap.parent_id is not None:
            if int(self.io.read_text(cur).strip()) != snap.parent_id:
                # Owner-checked: delete ONLY the manifest these exact
                # bytes created.  If we were reaped while stalled and
                # the slot was re-won by another writer, this is a
                # no-op and their committed manifest survives.
                self.io.delete_if_matches(mpath, payload)
                raise CommitConflict("current snapshot moved during commit")
        self._park_for_test("pre_flip")
        expected = None if snap.parent_id is None else str(snap.parent_id)
        try:
            self.io.flip_pointer(cur, str(snap.snapshot_id), expected=expected)
        except CasConflict:
            # catalog-backed IO: the flip itself is a compare-and-swap
            # and it lost — same cleanup + retry contract as the
            # parent-check conflict above (owner-checked delete, then
            # let _retry_commit re-read and re-compose)
            self.io.delete_if_matches(mpath, payload)
            raise CommitConflict(
                "pointer CAS rejected by catalog during commit"
            ) from None

    def _park_for_test(self, point: str) -> None:
        """Failure-injection seam: tests park a writer at a named point
        (e.g. between manifest create and parent check) to exercise
        stall races that are otherwise sub-millisecond windows."""
        hook = getattr(self, "_test_park_hook", None)
        if hook is not None:
            hook(point)

    # grace before a pointer-less manifest is declared abandoned; long
    # enough that no live committer sits between manifest create and
    # pointer flip (that window is driver-local JSON I/O, milliseconds)
    ORPHAN_GRACE_S = 30.0

    def _reap_orphan_manifest(self, mpath: str, parent_id: int | None) -> bool:
        """Delete ``mpath`` iff it is an abandoned crash orphan.

        True only when: the existing manifest's parent equals OUR
        parent (= the snapshot we read as current), the pointer still
        points at that parent (nobody flipped), and the file is older
        than the grace period.  Any other state means a live racer —
        back off.  The delete itself is compare-and-delete against the
        exact bytes we judged to be an orphan, so a manifest that was
        concurrently reaped-and-recreated by a third writer (different
        ``writer_nonce`` → different bytes) is never our victim.
        """
        try:
            raw = self.io.read_text(mpath)
            other = json.loads(raw)
            if other.get("parent_id") != parent_id:
                return False
            if time.time() - self.io.mtime(mpath) < self.ORPHAN_GRACE_S:
                return False
            cur = self.io.read_text(os.path.join(self.meta_dir, "_current"))
            if parent_id is None or int(cur.strip()) != parent_id:
                return False
            return self.io.delete_if_matches(mpath, raw)
        except OSError:
            return False

    @property
    def properties(self) -> dict[str, str]:
        return self.current_snapshot().properties

    def n_buckets(self) -> int:
        return int(self.current_snapshot().properties["bucket.count"])

    def bucket_key(self) -> str:
        return self.current_snapshot().properties["bucket.key"]

    def bucket_expr(
        self, col: str | None = None, snap: Snapshot | None = None
    ) -> F.Column:
        """pmod(murmur3(key), N) — the table's partition transform.
        ``snap``: take N and the key from this snapshot instead of
        loading the current one."""
        snap = snap or self.current_snapshot()
        key = col or snap.properties["bucket.key"]
        n = int(snap.properties["bucket.count"])
        return F.pmod(F.hash(F.col(key)), F.lit(n)).cast("int")

    def aligned_partitions(self, snap: Snapshot | None = None) -> int:
        """Partition count for a bucket-aligned hash exchange on the key.

        ``repartition(P, key)`` places a row in task pmod(murmur3(key), P).
        When P divides the bucket count N, that equals
        pmod(bucket, P), so every bucket lands whole in ONE task and a
        write after the exchange needs no clustering of its own.  P is
        the smallest such divisor that still fills every slot, so the
        exchange runs one task per core instead of one per bucket
        (each Python-UDF task pays a fixed worker set-up cost).
        ``snap``: read N from this snapshot instead of loading the
        current one.
        """
        snap = snap or self.current_snapshot()
        return aligned_partition_count(
            int(snap.properties["bucket.count"]),
            self.spark.sparkContext.defaultParallelism,
        )

    def bucket_of(self, *keys, snap: Snapshot | None = None) -> list[int]:
        """Bucket ids for literal key values under ``snap`` (default:
        the current snapshot).

        Hashes on the driver with the JVM's own ``Murmur3HashFunction``
        — the function ``F.hash`` evaluates on the write side, seed 42 —
        so lookup code can never drift from the partition transform the
        way a reimplementation could, and no Spark job runs.  The key's
        type comes from the snapshot schema: murmur3 hashes a long and
        an int of the same value differently.  The bucket count is the
        snapshot's (``rescale_buckets`` changes it between snapshots).
        """
        snap = snap or self.current_snapshot()
        n = int(snap.properties["bucket.count"])
        key = snap.properties["bucket.key"]
        ktype = next(f["type"] for f in snap.schema_fields if f["name"] == key)
        jvm = self.spark._jvm
        expressions = jvm.org.apache.spark.sql.catalyst.expressions
        murmur3 = getattr(getattr(expressions, "Murmur3HashFunction$"), "MODULE$")
        if ktype == "string":
            strings = jvm.org.apache.spark.unsafe.types.UTF8String
            string_type = jvm.org.apache.spark.sql.types.DataTypes.StringType

            def h(k):
                return murmur3.hash(strings.fromString(k), string_type, 42)
        elif ktype == "bigint":
            def h(k):
                return murmur3.hashLong(int(k), 42)
        elif ktype in ("int", "smallint", "tinyint"):
            def h(k):
                return murmur3.hashInt(int(k), 42)
        else:
            raise ValueError(f"bucket_of supports string and integer keys, not {ktype}")
        # F.hash is the 32-bit value; pmod(h, n) is Python's h % n
        return [((int(h(k)) + 2**31) % 2**32 - 2**31) % n for k in keys]

    def read_keys(self, values: list, snap: Snapshot | None = None) -> DataFrame:
        """Point lookup: rows whose bucket key is in ``values``.

        The bucket transform prunes the scan to the (at most
        ``len(values)``) buckets the keys hash to — on a 1024-bucket
        100 TB table a single-key lookup reads one bucket's files, not
        the table — then filters exactly (Iceberg's bucket-transform
        predicate pushdown, expressed as manifest-level pruning).
        Reads reconcile as usual, so the result is the live winner row
        per key.

        The transform parameters (bucket count + key) are taken from
        the snapshot actually being scanned: after ``rescale_buckets``,
        pruning a pre-rescale snapshot with the CURRENT count would
        select buckets absent from the old manifest and silently miss
        rows (and a rescale racing between the hashing and the scan
        would do the same).  Resolving the snapshot ONCE here closes
        both.
        """
        if not values:
            raise ValueError("read_keys requires at least one key value")
        snap = snap or self.current_snapshot()
        key = snap.properties["bucket.key"]
        bucket_ids = sorted(set(self.bucket_of(*values, snap=snap)))
        return self.read(snap=snap, buckets=bucket_ids).filter(
            F.col(key).isin(list(values))
        )

    # ---- read path --------------------------------------------------------

    def _current_struct(self, snap: Snapshot) -> StructType:
        return _struct(snap.schema_fields)

    def read(
        self,
        snap: Snapshot | None = None,
        buckets: list[int] | None = None,
        with_bucket_col: bool = False,
        reconcile: bool = True,
    ) -> DataFrame:
        """Schema-id-aware scan of the given snapshot.

        Files written under old schema ids are mapped onto the current
        schema by column id: renames resolve, widened types cast, added
        columns materialize as nulls.  ``buckets`` restricts the scan to
        those bucket ids (partition pruning — the MERGE path relies on
        it).  ``with_bucket_col`` adds the storage bucket id as
        ``_bucket`` without recomputing hashes.

        Merge-on-read: buckets carrying delta files are reconciled per
        key — last-writer-wins by the table's ``merge.order`` columns
        (one map-side-combined ``max_by`` shuffle over ONLY the dirty
        buckets' rows).  Buckets without deltas stream through with no
        shuffle.  ``reconcile=False`` returns the raw row versions
        (base + deltas stacked) — compaction and debugging only.
        """
        snap = snap or self.current_snapshot()
        want = {str(b) for b in buckets} if buckets is not None else None

        def sel(m: dict[str, list[dict]]) -> dict[str, list[dict]]:
            return {
                b: fs for b, fs in m.items() if fs and (want is None or b in want)
            }

        base, deltas = sel(snap.buckets), sel(snap.deltas)
        if not reconcile or not deltas:
            entries = [fi for fs in base.values() for fi in fs]
            entries += [fi for fs in deltas.values() for fi in fs]
            return self._scan(snap, entries, with_bucket_col)
        dirty = set(deltas)
        clean_entries = [
            fi for b, fs in base.items() if b not in dirty for fi in fs
        ]
        dirty_entries = [fi for b, fs in base.items() if b in dirty for fi in fs]
        dirty_entries += [fi for fs in deltas.values() for fi in fs]
        clean_df = self._scan(snap, clean_entries, with_bucket_col)
        dirty_df = self._reconcile(
            self._scan(snap, dirty_entries, with_bucket_col), snap
        )
        return clean_df.unionByName(dirty_df)

    def _reconcile(self, df: DataFrame, snap: Snapshot) -> DataFrame:
        """Collapse stacked row versions to the winner per merge key:
        ``last_writer_wins`` by the table's ``merge.order``."""
        key = snap.properties.get("merge.key")
        order = snap.properties.get("merge.order")
        if not key or not order:
            raise ValueError(
                "delta files present but merge.key/merge.order properties unset"
            )
        return last_writer_wins(df, key, [c.strip() for c in order.split(",")])

    def _scan(
        self, snap: Snapshot, entries: list[dict], with_bucket_col: bool
    ) -> DataFrame:
        """Union scan of file entries, mapped onto the current schema.

        Opened from the manifest alone, so building the DataFrame runs
        no Spark job: each group of files is read with the schema it
        was written under (no schema-inference job), and the listed
        paths are stat'ed serially on the driver (no parallel-listing
        job of one task per path above 32 paths).  Every read reaches
        storage here — ``read``, ``read_keys``, ``read_changes`` and its
        pre-images, compaction, the follower's change scan.
        """
        cur_fields = snap.schema_fields

        # group files by the schema they were written under
        groups: dict[str, list[str]] = {}
        for fi in entries:
            groups.setdefault(str(fi["schema_id"]), []).append(fi["path"])

        if not groups:
            struct = self._current_struct(snap)
            if with_bucket_col:
                struct = struct.add("_bucket", IntegerType())
            return _empty_frame(self.spark, struct)

        parts = []
        with _conf_pinned(self.spark, _SERIAL_LISTING):
            opened = {
                sid: self.spark.read.schema(_struct(snap.schemas[sid])).parquet(
                    *paths
                )
                for sid, paths in groups.items()
            }
        for sid, df in opened.items():
            file_by_id = {f["id"]: f for f in snap.schemas[sid]}
            cols = []
            for f in cur_fields:
                old = file_by_id.get(f["id"])
                if old is None:
                    cols.append(F.lit(None).cast(f["type"]).alias(f["name"]))
                elif old["type"] != f["type"]:
                    cols.append(F.col(old["name"]).cast(f["type"]).alias(f["name"]))
                else:
                    cols.append(F.col(old["name"]).alias(f["name"]))
            if with_bucket_col:
                # every data file lives under .../_bucket=K/ (all writes go
                # through _write_files), so the bucket id is recoverable
                # from the path without touching row data
                df = df.withColumn(
                    "_bucket",
                    F.regexp_extract(F.input_file_name(), r"_bucket=(\d+)", 1).cast("int"),
                )
                cols.append(F.col("_bucket"))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ---- write path --------------------------------------------------------

    def _write_files(
        self,
        df: DataFrame,
        base: Snapshot,
        clustered: bool = False,
        phases: dict | None = None,
    ) -> dict[str, list[dict]]:
        """Write df (must carry ``_bucket``) into new immutable files.

        ``base`` is the snapshot df was built under: its schema id tags
        the new files, and its bucket count and ``stats.cols`` apply.

        Returns bucket -> file-entry list.  The data is clustered on
        ``_bucket`` before writing so each bucket lands in ONE file per
        commit: without this, every (task x bucket) pair emits its own
        small file — hundreds per commit — and both the driver-side
        footer reads here and every later scan of the bucket pay for
        the fragmentation.  (Iceberg analog: write.distribution-mode =
        hash on the bucket transform.)

        ``clustered=True`` asserts the caller already arranged the
        physical partitioning so that every task holds rows of at most
        whole buckets only (e.g. the CDC merge pipeline's bucket-aligned
        ``repartition(aligned_partitions(), url)`` — the partition count
        divides the bucket count, so each bucket lands in exactly one
        task): the write then inserts NO exchange, and the payload is
        not shuffled again.
        """
        import pyarrow.parquet as pq

        out_dir = os.path.join(self.data_dir, uuid.uuid4().hex)
        if clustered:
            out = df
        else:
            # hash-cluster on _bucket so each bucket's rows land wholly
            # in ONE task (=> one file per bucket), but cap the task
            # count at ~2x the available slots: a task covering several
            # buckets still emits one file per bucket via partitionBy,
            # and 32 near-empty tasks would pay fixed per-task cost at
            # low parallelism for nothing
            par = self.spark.sparkContext.defaultParallelism
            n_parts = min(int(base.properties["bucket.count"]), max(2 * par, 4))
            out = df.repartition(n_parts, F.col("_bucket"))
        t_j = time.monotonic()
        out.write.partitionBy("_bucket").mode("overwrite").parquet(out_dir)
        if phases is not None:
            phases["write_job"] = int((time.monotonic() - t_j) * 1000)
        t_f = time.monotonic()
        result: dict[str, list[dict]] = {}
        sid = base.schema_id
        stats_cols = [
            c for c in base.properties.get("stats.cols", "").split(",") if c
        ]
        paths: list[tuple[str, str]] = []  # (bucket, path)
        for entry in os.listdir(out_dir):
            if not entry.startswith("_bucket="):
                continue
            b = entry.split("=", 1)[1]
            bdir = os.path.join(out_dir, entry)
            for fn in os.listdir(bdir):
                if fn.endswith(".parquet"):
                    paths.append((b, os.path.join(bdir, fn)))

        # row count (and opt-in column min/max) from the parquet
        # footer: free lineage + pruning metadata, no extra Spark job.
        # Footer reads are independent metadata I/O — at a 1024-bucket
        # commit a serial loop is seconds of driver time, so read them
        # on a small thread pool (I/O-bound; GIL released in pyarrow)
        def footer(bp: tuple[str, str]) -> tuple[str, dict]:
            b, p = bp
            md = pq.ParquetFile(p).metadata
            info = {"path": p, "schema_id": sid, "rows": md.num_rows}
            st = _footer_stats(md, stats_cols)
            if st:
                info["stats"] = st
            return b, info

        if len(paths) > 4:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=16) as pool:
                infos = list(pool.map(footer, paths))
        else:
            infos = [footer(bp) for bp in paths]
        for b, info in infos:
            result.setdefault(b, []).append(info)
        if phases is not None:
            phases["footers"] = int((time.monotonic() - t_f) * 1000)
        return result

    def _with_bucket(
        self, df: DataFrame, snap: Snapshot | None = None
    ) -> DataFrame:
        if "_bucket" in df.columns:
            return df
        return df.withColumn("_bucket", self.bucket_expr(snap=snap))

    def _retry_commit(
        self,
        compose,
        base: Snapshot,
        guard=None,
        retries: int = 5,
    ) -> Snapshot:
        """Optimistic-concurrency loop around a manifest commit.

        ``compose(base)`` merges already-written data files into
        ``base``'s manifests and calls ``_commit``.  Losing the race to
        a concurrent writer raises ``CommitConflict``; the loop then
        re-reads the current snapshot and re-runs ``compose`` against
        it — a retry re-merges MANIFESTS only, the data files written
        before the loop are reused, so retry cost is a driver-side JSON
        rewrite no matter how large the batch was.  ``guard(fresh)``
        runs before each retry and may raise to abort (the CDC applier
        uses it to detect that a concurrent applier already committed
        this batch id — the lost-update check that makes retry safe for
        at-most-once batch semantics).
        """
        attempt = 0
        while True:
            try:
                return compose(base)
            except CommitConflict:
                attempt += 1
                if attempt > retries:
                    raise
                # brief backoff: the race winner may have created its
                # manifest but not yet flipped the pointer — give the
                # flip time to land so the re-read sees the new base
                time.sleep(0.01 * attempt)
                base = self.current_snapshot()
                if guard is not None:
                    guard(base)

    def append(
        self,
        df: DataFrame,
        properties_update: dict[str, str] | None = None,
        base: Snapshot | None = None,
        guard=None,
    ) -> Snapshot:
        """Append-only commit (new files added to their buckets).

        Appends commute: two writers' file additions merge cleanly, so
        a lost commit race is retried against the fresh snapshot
        without touching data (see ``_retry_commit``).
        """
        base = base or self.current_snapshot()
        new_files = self._write_files(self._with_bucket(df, base), base)

        def compose(b: Snapshot) -> Snapshot:
            buckets = {k: list(fs) for k, fs in b.buckets.items()}
            for k, fs in new_files.items():
                buckets.setdefault(k, []).extend(fs)
            return self._commit(b, buckets, properties_update, operation="append")

        return self._retry_commit(compose, base, guard)

    def append_local(
        self,
        pdf,
        properties_update: dict[str, str] | None = None,
        base: Snapshot | None = None,
    ) -> Snapshot:
        """Driver-side append of a SMALL pandas DataFrame (no Spark job).

        For metadata-scale rows (per-batch metrics/lineage): a Spark
        write for a handful of rows costs a full job schedule + task
        launch (seconds under load); writing one parquet file with
        pyarrow from the driver costs milliseconds.  All rows land in
        bucket 0 — these tables are scanned whole, never key-pruned.
        """
        import pandas as pd

        base = base or self.current_snapshot()

        def clean(vals):
            # pandas stores None as NaN in numeric columns and as NaT in
            # datetime ones; arrow conversion takes neither for a null
            return [
                None
                if v is None or v is pd.NaT or (isinstance(v, float) and v != v)
                else v
                for v in vals
            ]

        entry = self._local_file(
            base, {n: clean(pdf[n].tolist()) for n in pdf.columns}
        )

        def compose(b: Snapshot) -> Snapshot:
            buckets = {k: list(fs) for k, fs in b.buckets.items()}
            buckets.setdefault("0", []).append(entry)
            return self._commit(b, buckets, properties_update, operation="append")

        return self._retry_commit(compose, base)

    def overwrite_local(
        self,
        columns: dict[str, list],
        properties_update: dict[str, str] | None = None,
        base: Snapshot | None = None,
    ) -> Snapshot:
        """Driver-side replace of bucket 0 with ``columns`` (no Spark job).

        The copy-on-write commit of a one-bucket table small enough to
        live on the driver (the incremental rollup): one pyarrow file
        (``columns``: name -> values) becomes bucket 0's whole content,
        with ``overwrite_buckets``' lost-update guard — a lost commit
        race retries only if bucket 0 did not change.
        """
        base = base or self.current_snapshot()
        entry = self._local_file(base, columns)
        return self._replace_buckets(
            {"0"}, {"0": [entry]}, base, properties_update, "overwrite"
        )

    def read_local(self, snap: Snapshot | None = None):
        """Driver-side read of a table the ``*_local`` writers keep: the
        rows of bucket 0 as one pyarrow Table in the snapshot's schema
        (no Spark job).  Refuses other buckets, deltas and files of an
        older schema instead of reading them wrong."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        snap = snap or self.current_snapshot()
        files = snap.buckets.get("0", [])
        if (
            set(snap.buckets) - {"0"}
            or any(snap.deltas.values())
            or any(fi["schema_id"] != snap.schema_id for fi in files)
        ):
            raise ValueError(
                "read_local reads only bucket 0's base files, written "
                "under the snapshot's schema"
            )
        schema = to_arrow_schema(self._current_struct(snap))
        return pa.concat_tables(
            [schema.empty_table()]
            + [pq.read_table(fi["path"], schema=schema) for fi in files]
        )

    def _local_file(self, base: Snapshot, columns: dict[str, list]) -> dict:
        """Write ``columns`` (name -> values) as one bucket-0 parquet file
        under ``base``'s schema; returns its manifest entry.

        Type-exact: the arrow schema is Spark's own conversion of the
        table schema, which raises on a type it cannot convert rather
        than writing the column as something a typed scan cannot read.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(self._current_struct(base))
        table = pa.Table.from_arrays(
            [pa.array(columns[f.name], type=f.type) for f in schema],
            schema=schema,
        )
        out_dir = os.path.join(self.data_dir, uuid.uuid4().hex, "_bucket=0")
        os.makedirs(out_dir)
        path = os.path.join(out_dir, "part-0.parquet")
        pq.write_table(table, path)
        return {"path": path, "schema_id": base.schema_id, "rows": table.num_rows}

    def overwrite_buckets(
        self,
        bucket_ids: list[int],
        df: DataFrame,
        properties_update: dict[str, str] | None = None,
        base: Snapshot | None = None,
        clustered: bool = False,
        phases: dict | None = None,
        operation: str = "overwrite",
        guard=None,
    ) -> Snapshot:
        """Replace the file sets of ``bucket_ids`` with df's data.

        The copy-on-write commit primitive (also the compaction step of
        the MOR path): swaps the touched buckets' base file lists AND
        clears their delta lists — the caller's df must therefore be
        the fully reconciled content.  Untouched buckets carry over by
        reference.  ``clustered`` — see ``_write_files``; concurrency —
        see ``_replace_buckets``.
        """
        base = base or self.current_snapshot()
        new_files = self._write_files(
            self._with_bucket(df, base), base, clustered=clustered, phases=phases
        )
        return self._replace_buckets(
            {str(b) for b in bucket_ids},
            new_files,
            base,
            properties_update,
            operation,
            guard,
        )

    def _replace_buckets(
        self,
        touched: set[str],
        new_files: dict[str, list[dict]],
        base: Snapshot,
        properties_update: dict[str, str] | None,
        operation: str,
        guard=None,
    ) -> Snapshot:
        """Commit ``new_files`` as the whole content of ``touched``.

        Concurrency: a lost commit race is retried only when the
        concurrent commits left every TOUCHED bucket's content (base
        and delta file lists) unchanged — the rewritten content is then
        still the reconciled truth and the manifests re-merge.  If a
        touched bucket changed, retrying would silently drop the
        concurrent writer's rows (lost update), so ``CommitConflict``
        propagates and the caller must recompute from the new snapshot.
        """
        if not set(new_files) <= touched:
            raise ValueError(
                f"merge wrote rows outside declared buckets: "
                f"{sorted(set(new_files) - touched)}"
            )

        def compose(b: Snapshot) -> Snapshot:
            buckets = {
                k: list(fs) for k, fs in b.buckets.items() if k not in touched
            }
            for k, fs in new_files.items():
                buckets[k] = fs
            deltas = {k: fs for k, fs in b.deltas.items() if k not in touched}
            return self._commit(
                b, buckets, properties_update, deltas=deltas, operation=operation
            )

        def retry_guard(fresh: Snapshot) -> None:
            if guard is not None:
                guard(fresh)
            for t in touched:
                if (
                    fresh.buckets.get(t) != base.buckets.get(t)
                    or fresh.deltas.get(t) != base.deltas.get(t)
                ):
                    raise CommitConflict(
                        f"bucket {t} changed during a copy-on-write "
                        "rewrite — recompute the reconciled content "
                        "from the current snapshot and re-run"
                    )

        return self._retry_commit(compose, base, retry_guard)

    def append_deltas(
        self,
        bucket_ids: list[int] | None,
        df: DataFrame,
        properties_update: dict[str, str] | None = None,
        base: Snapshot | None = None,
        clustered: bool = False,
        phases: dict | None = None,
        guard=None,
    ) -> Snapshot:
        """Merge-on-read commit: add df's rows as DELTA files.

        The MERGE primitive of the MOR path: a batch's winner rows
        (newer versions + tombstones, already deduped per key) land as
        one delta file per touched bucket; no base file is read or
        rewritten, so commit I/O is O(batch), never O(touched buckets).
        Reads reconcile per key by ``merge.order`` (see ``read``);
        ``compact_deltas`` folds deltas into the base when a bucket
        accumulates too many.  Requires merge.key/merge.order table
        properties (fails fast otherwise, before any data is written).

        Concurrency: delta-appends commute — reconciliation is per key
        by ``merge.order``, which is a property of the ROWS, not of the
        commit order — so a lost commit race safely retries against the
        fresh snapshot, re-merging manifests only (the delta files are
        reused).  ``guard`` lets the caller abort the retry (the CDC
        applier checks its batch watermark on the fresh snapshot so a
        concurrently-committed identical batch is not applied twice).
        """
        base = base or self.current_snapshot()
        if not (
            base.properties.get("merge.key") and base.properties.get("merge.order")
        ):
            raise ValueError("append_deltas requires merge.key/merge.order properties")
        new_files = self._write_files(
            self._with_bucket(df, base), base, clustered=clustered, phases=phases
        )
        if bucket_ids is not None:
            # declared-bucket containment check; pass None to derive the
            # touched set from the write itself (valid for deltas — they
            # remove nothing, so there is no stale-content risk)
            touched = {str(b) for b in bucket_ids}
            if not set(new_files) <= touched:
                raise ValueError(
                    f"merge wrote rows outside declared buckets: "
                    f"{sorted(set(new_files) - touched)}"
                )

        def compose(b: Snapshot) -> Snapshot:
            deltas = {k: list(fs) for k, fs in b.deltas.items()}
            for k, fs in new_files.items():
                deltas.setdefault(k, []).extend(fs)
            return self._commit(
                b, b.buckets, properties_update, deltas=deltas,
                operation="delta-append",
            )

        return self._retry_commit(compose, base, guard)

    def set_properties(self, updates: dict[str, str]) -> Snapshot:
        base = self.current_snapshot()
        return self._retry_commit(
            lambda b: self._commit(b, b.buckets, updates, operation="metadata"),
            base,
        )

    # ---- changelog emission (CDC out) -------------------------------------

    def meta(self, kind: str) -> DataFrame:
        """Metadata tables — the Iceberg-style inspection surface.

        ``kind``:

        * ``"snapshots"`` — one row per reachable (non-expired)
          snapshot, newest first: id, parent, operation tag, schema id,
          base/delta file and row counts.  The operator's first stop for
          "what happened to this table" (commit history, compaction
          cadence, rollback points).
        * ``"files"`` — one row per live data file of the CURRENT
          snapshot: bucket, base/delta kind, path, schema id, rows.
          Fragmentation and skew are read off this directly.
        * ``"schemas"`` — one row per column per schema version ever
          committed: schema id, column id, name, type.  The evolution
          audit trail (renames keep the id, so a column's history is
          its id's row set).

        All driver-side manifest JSON — no data I/O, O(snapshots +
        files) rows.
        """
        if kind == "snapshots":
            rows = []
            sid = self.current_snapshot().snapshot_id
            while sid >= 0:
                try:
                    s = self.snapshot_at(sid)
                except SnapshotExpired:
                    break
                rows.append(
                    (
                        s.snapshot_id,
                        s.parent_id,
                        s.summary.get("operation", "unknown"),
                        s.schema_id,
                        sum(len(fs) for fs in s.buckets.values()),
                        sum(len(fs) for fs in s.deltas.values()),
                        sum(
                            int(fi.get("rows") or 0)
                            for m in (s.buckets, s.deltas)
                            for fs in m.values()
                            for fi in fs
                        ),
                    )
                )
                if s.parent_id is None:
                    break
                sid = s.parent_id
            return self.spark.createDataFrame(
                rows,
                "snapshot_id long, parent_id long, operation string, "
                "schema_id int, base_files int, delta_files int, rows long",
            )
        if kind == "files":
            s = self.current_snapshot()
            rows = [
                (
                    int(b),
                    knd,
                    fi["path"],
                    int(fi["schema_id"]),
                    int(fi.get("rows") or 0),
                )
                for knd, m in (("base", s.buckets), ("delta", s.deltas))
                for b, fs in m.items()
                for fi in fs
            ]
            return self.spark.createDataFrame(
                rows,
                "bucket int, kind string, path string, schema_id int, "
                "rows long",
            )
        if kind == "schemas":
            s = self.current_snapshot()
            rows = [
                (int(sid), f["id"], f["name"], f["type"])
                for sid, fields in sorted(
                    s.schemas.items(), key=lambda kv: int(kv[0])
                )
                for f in fields
            ]
            return self.spark.createDataFrame(
                rows, "schema_id int, column_id int, name string, type string"
            )
        raise ValueError(
            f"unknown metadata table {kind!r}: snapshots | files | schemas"
        )

    def commits_between(
        self, from_id: int, to_id: int | None = None
    ) -> list[tuple[Snapshot, list[dict], list[str]]]:
        """Per-commit file diff over (from_id, to_id].

        Snapshot ids are sequential, so the commit history is walked
        manifest by manifest (driver-side JSON reads, no data I/O).
        Returns ``[(snapshot, files_added, paths_removed), ...]`` in
        commit order.  A commit that removed files is a REWRITE
        (copy-on-write merge, delta compaction, tombstone expiry): its
        added files restate surviving rows rather than describing
        changes.
        """
        to_snap = (
            self.current_snapshot() if to_id is None else self.snapshot_at(to_id)
        )
        return self._commits(self.snapshot_at(from_id), to_snap)

    def _commits(
        self, from_snap: Snapshot, to_snap: Snapshot
    ) -> list[tuple[Snapshot, list[dict], list[str]]]:
        """``commits_between`` over snapshots the caller already holds:
        only the commits strictly inside the window are read."""

        def entries(s: Snapshot) -> list[dict]:
            return [fi for m in (s.buckets, s.deltas) for fs in m.values() for fi in fs]

        out = []
        prev_paths = {fi["path"] for fi in entries(from_snap)}
        for k in range(from_snap.snapshot_id + 1, to_snap.snapshot_id + 1):
            snap = to_snap if k == to_snap.snapshot_id else self.snapshot_at(k)
            files = entries(snap)
            paths = {fi["path"] for fi in files}
            added = [fi for fi in files if fi["path"] not in prev_paths]
            out.append((snap, added, sorted(prev_paths - paths)))
            prev_paths = paths
        return out

    def read_changes(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        on_rewrite: str = "error",
        with_commit_col: bool = False,
        with_pre_images: bool = False,
    ) -> DataFrame:
        """Incremental scan: rows ADDED by commits in (from, to].

        The CDC-out side of the engine: a downstream consumer that saw
        snapshot ``from`` reads exactly the new row versions (upserts +
        tombstones under merge-on-read — each MOR commit's delta files
        ARE its change rows; plain appends are inserts), mapped onto the
        ``to`` snapshot's schema.  O(changed files) I/O — base files
        are never re-read.

        ``with_pre_images=True`` additionally emits, tagged by a
        ``_change_type`` column ('before'/'after'), the PRIOR
        reconciled row version of every key the window touched — the
        UPDATE_BEFORE half of an Iceberg-changelog-style feed, which
        differential consumers need to retract old contributions
        (decrement the old group, remove the old index entry) without
        keeping their own copy of the table.  Pre-image I/O is bounded:
        the ``from`` snapshot is read over the TOUCHED BUCKETS ONLY
        (derived driver-side from the commits' manifest diffs),
        left-semi joined to the window's key set, and remapped onto the
        ``to`` schema by column id (renames/widenings/adds between the
        two snapshots resolve like any schema-id-aware scan).  Keys
        whose prior winner was a tombstone still emit it ('before' with
        the tombstone flag set) — consumers that only want prior LIVE
        rows filter on their deleted column.

        Rewrite commits (copy-on-write merge, ``compact_deltas``,
        ``compact_tombstones``) restate surviving rows instead of
        describing changes, so their added files are NOT a changelog:
        ``on_rewrite="error"`` (default) raises — consumers must read
        ranges that end before a rewrite or resync from a full scan —
        while ``"skip"`` drops those commits' files and keeps the
        pure-append commits' rows (Iceberg's changelog scan makes the
        same distinction for replace snapshots).  A ``rollback`` commit
        changes content, so it raises under either setting.

        ``with_commit_col`` appends ``_commit_snapshot`` (the snapshot
        id that introduced each row) for consumers that need commit
        ordering.
        """
        to_snap = (
            self.current_snapshot()
            if to_snapshot_id is None
            else self.snapshot_at(to_snapshot_id)
        )
        from_snap = self.snapshot_at(from_snapshot_id)
        return self._read_changes(
            from_snap, to_snap, self._commits(from_snap, to_snap), on_rewrite,
            with_commit_col, with_pre_images,
        )

    def _read_changes(
        self,
        from_snap: Snapshot,
        to_snap: Snapshot,
        window: list[tuple[Snapshot, list[dict], list[str]]],
        on_rewrite: str,
        with_commit_col: bool,
        with_pre_images: bool,
    ) -> DataFrame:
        """``read_changes`` over an already walked ``window``
        (``_commits(from_snap, to_snap)``)."""
        out, touched = self._window_scan(to_snap, window, on_rewrite, with_commit_col)
        if out is None:
            struct = self._current_struct(to_snap)
            if with_commit_col:
                struct = struct.add("_commit_snapshot", LongType())
            if with_pre_images:
                struct = struct.add("_change_type", StringType())
            return _empty_frame(self.spark, struct)
        if not with_pre_images:
            return out
        out = out.withColumn("_change_type", F.lit("after"))
        key_cols = [
            c.strip()
            for c in to_snap.properties.get("merge.key", "").split(",")
            if c.strip()
        ]
        if not key_cols:
            raise ValueError("with_pre_images requires the merge.key property")
        prior = self._prior_versions(from_snap, to_snap, touched, reconcile=True)
        before = prior.join(
            out.select(*key_cols).distinct(), key_cols, "left_semi"
        )
        if with_commit_col:
            before = before.withColumn(
                "_commit_snapshot", F.lit(None).cast("long")
            )
        return out.unionByName(before.withColumn("_change_type", F.lit("before")))

    def _window_scan(
        self,
        to_snap: Snapshot,
        window: list[tuple[Snapshot, list[dict], list[str]]],
        on_rewrite: str,
        with_commit_col: bool = False,
    ) -> tuple[DataFrame | None, set[str]]:
        """The rows added by the window's pure-append commits, mapped
        onto the ``to`` schema (None when no commit added any), and the
        buckets those commits touched (numbered under their own layout).
        Applies ``read_changes``'s rollback and ``on_rewrite`` rules."""
        if on_rewrite not in ("error", "skip"):
            raise ValueError(f"on_rewrite must be 'error' or 'skip': {on_rewrite!r}")
        parts = []
        touched_buckets: set[str] = set()
        for snap, added, removed in window:
            if snap.summary.get("operation") == "rollback":
                raise ValueError(
                    f"snapshot {snap.snapshot_id} is a rollback — it changes "
                    f"content, which a changelog cannot express; read up to "
                    f"snapshot {snap.snapshot_id - 1} or resync from a full scan"
                )
            if removed:
                if on_rewrite == "error":
                    raise ValueError(
                        f"snapshot {snap.snapshot_id} rewrote "
                        f"{len(removed)} file(s) (compaction or copy-on-write "
                        f"merge) — not a pure-append commit; read up to "
                        f"snapshot {snap.snapshot_id - 1}, resync from a full "
                        f"scan, or pass on_rewrite='skip'"
                    )
                continue
            if not added:
                continue
            added_paths = {fi["path"] for fi in added}
            for m in (snap.buckets, snap.deltas):
                for b, fs in m.items():
                    if any(fi["path"] in added_paths for fi in fs):
                        touched_buckets.add(b)
            df = self._scan(to_snap, added, with_bucket_col=False)
            if with_commit_col:
                df = df.withColumn(
                    "_commit_snapshot", F.lit(snap.snapshot_id).cast("long")
                )
            parts.append(df)
        if not parts:
            return None, touched_buckets
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out, touched_buckets

    def _prior_versions(
        self,
        from_snap: Snapshot,
        to_snap: Snapshot,
        touched_buckets: set[str],
        reconcile: bool,
    ) -> DataFrame:
        """The ``from`` snapshot's rows in the window's touched buckets
        (``_window_scan``), remapped onto the ``to`` schema by column
        id.  ``reconcile=False``: every stacked row version, unmerged."""
        # touched buckets are numbered under the commits' (post-window)
        # layout; the prior-state scan runs against the FROM snapshot's
        # layout.  After a mid-window rescale (k*N split, skipped as a
        # restatement) the counts differ — translate via the rescale
        # invariant pmod(h, kN) mod N == pmod(h, N), i.e. new % old.
        # An unrecognized relation falls back to an unpruned read:
        # correct, just not bucket-pruned.
        from_n = int(from_snap.properties.get("bucket.count", 0) or 0)
        to_n = int(to_snap.properties.get("bucket.count", 0) or 0)
        if from_n == to_n or not (from_n and to_n):
            sel = sorted(int(b) for b in touched_buckets)
        elif to_n % from_n == 0:
            sel = sorted({int(b) % from_n for b in touched_buckets})
        else:
            sel = None
        prior = self.read(from_snap, buckets=sel, reconcile=reconcile)
        # remap the from-snapshot frame onto the to-snapshot schema by
        # column id: renames resolve, widened types cast, columns added
        # since `from` materialize as nulls
        src_by_id = {f["id"]: f for f in from_snap.schema_fields}
        return prior.select(
            *[
                (
                    F.col(src_by_id[f["id"]]["name"]).cast(f["type"])
                    if f["id"] in src_by_id
                    else F.lit(None).cast(f["type"])
                ).alias(f["name"])
                for f in to_snap.schema_fields
            ]
        )

    def rollback(self, snapshot_id: int) -> Snapshot:
        """Roll the table back to an earlier snapshot's state.

        Non-destructive (Iceberg-style): commits a NEW snapshot whose
        content — file lists, deltas, schema, properties — equals the
        target's, so history stays linear, concurrent readers of the
        bad snapshots are unaffected, and the rollback itself can be
        rolled back.  Data files are shared by reference; nothing is
        rewritten.

        Deliberately NOT wrapped in ``_retry_commit``, unlike every
        other commit path: losing the race means someone committed new
        data between the operator deciding to roll back and the
        rollback landing, and silently retrying would erase that commit
        without anyone having looked at it.  ``CommitConflict`` goes to
        the caller — rolling back under concurrent writes deserves a
        human decision.
        """
        target = self.snapshot_at(snapshot_id)
        base = self.current_snapshot()
        snap = Snapshot(
            snapshot_id=base.snapshot_id + 1,
            parent_id=base.snapshot_id,
            schema_id=target.schema_id,
            schemas=target.schemas,
            buckets=target.buckets,
            properties=dict(target.properties),
            summary={
                "n_files": sum(len(v) for v in target.buckets.values()),
                "n_delta_files": sum(len(v) for v in target.deltas.values()),
                "rolled_back_to": snapshot_id,
                "operation": "rollback",
            },
            deltas=target.deltas,
        )
        self._write_snapshot(snap)
        return snap

    def rescale_buckets(self, new_n: int) -> Snapshot:
        """Grow the bucket layout to ``new_n`` = k x current, shuffle-free.

        A table sized for 1 TB is mis-bucketed at 100 TB: buckets grow
        unboundedly and per-bucket parallelism saturates.  Because the
        transform is ``pmod(hash(key), N)`` and ``pmod(h, kN) mod N ==
        pmod(h, N)``, every row of old bucket b lands in one of the k
        new buckets ``{b, b+N, ..., b+(k-1)N}`` — so the rewrite is a
        per-file LOCAL split: each task reads one file and fans its
        rows into at most k output files via ``partitionBy``, with NO
        exchange anywhere in the plan (plan-locked by test).  Base
        files split into base files and delta files into delta files —
        reconcile semantics are per key and bucket-id independent, so
        deltas survive the rescale untouched (no fold, no reconcile
        shuffle).

        This is a REWRITE commit (old files removed): ``read_changes``
        refuses to cross it, exactly like compaction.  At 100 TB it
        runs like compaction — rarely, snapshot-isolated, and losing
        the optimistic-concurrency race to a concurrent batch commit
        raises ``CommitConflict`` (retry on the new base).  Subsequent
        ``CdcApplier`` batches pick the new count up from the table
        (``bucket_expr``/``n_buckets`` read the current snapshot).
        Shrinking is intentionally unsupported: it needs file
        re-labeling (k old buckets map wholly onto one new bucket),
        which the path-derived ``_bucket`` column cannot express.
        """
        snap = self.current_snapshot()
        old_n = int(snap.properties["bucket.count"])
        if new_n == old_n:
            return snap
        if new_n < old_n or new_n % old_n != 0:
            raise ValueError(
                f"bucket rescale must grow by an integer factor: "
                f"{old_n} -> {new_n}"
            )

        def split(manifest: dict[str, list[dict]]) -> dict[str, list[dict]]:
            df = self._rescale_split(snap, manifest, new_n)
            return {} if df is None else self._write_files(df, snap, clustered=True)

        return self._commit(
            snap,
            split(snap.buckets),
            {"bucket.count": str(new_n)},
            deltas=split(snap.deltas),
            operation="rescale",
        )

    def _rescale_split(
        self, snap: Snapshot, manifest: dict[str, list[dict]], new_n: int
    ) -> DataFrame | None:
        """The frame ``rescale_buckets`` writes for one manifest (base
        or deltas): its files scanned and relabelled with their bucket
        under ``new_n`` — scan -> project, no exchange (plan-locked by
        test).  None when the manifest has no files."""
        entries = [fi for fs in manifest.values() for fi in fs]
        if not entries:
            return None
        key = snap.properties["bucket.key"]
        return self._scan(snap, entries, with_bucket_col=False).withColumn(
            "_bucket", F.pmod(F.hash(F.col(key)), F.lit(new_n)).cast("int")
        )

    def _commit(
        self,
        base: Snapshot,
        buckets: dict[str, list[dict]],
        properties_update: dict[str, str] | None,
        schema_id: int | None = None,
        schemas: dict[str, list[dict]] | None = None,
        deltas: dict[str, list[dict]] | None = None,
        operation: str = "append",
    ) -> Snapshot:
        props = dict(base.properties)
        props.update(properties_update or {})
        deltas = deltas if deltas is not None else base.deltas
        snap = Snapshot(
            snapshot_id=base.snapshot_id + 1,
            parent_id=base.snapshot_id,
            schema_id=schema_id if schema_id is not None else base.schema_id,
            schemas=schemas or base.schemas,
            buckets=buckets,
            properties=props,
            summary={
                "n_files": sum(len(v) for v in buckets.values()),
                "n_delta_files": sum(len(v) for v in deltas.values()),
                # Iceberg-style snapshot operation: lets changelog
                # consumers tell content-preserving rewrites (compact,
                # rescale) from content-changing ones (overwrite,
                # rollback) without reading any data
                "operation": operation,
            },
            deltas=deltas,
        )
        self._write_snapshot(snap)
        return snap

    # ---- schema evolution ----------------------------------------------------

    @staticmethod
    def _canon_type(spark_type: str) -> str:
        """Canonical DDL name via Spark's parser (``long`` -> ``bigint``).

        Evolution stores type strings in the schema registry and the
        widening whitelist compares them literally, so synonyms the DDL
        grammar accepts must collapse to one spelling on the way in.
        """
        return StructType.fromDDL(f"c {spark_type}")[0].dataType.simpleString()

    def _evolve(self, mutate, props_update=None) -> Snapshot:
        def compose(b: Snapshot) -> Snapshot:
            # re-derive from the (possibly fresh) base so a retry sees
            # any concurrently-added columns / schema versions
            fields = mutate([dict(f) for f in b.schema_fields], b)
            new_sid = max(int(s) for s in b.schemas) + 1
            schemas = dict(b.schemas)
            schemas[str(new_sid)] = fields
            return self._commit(
                b, b.buckets, props_update, schema_id=new_sid, schemas=schemas,
                operation="metadata",
            )

        return self._retry_commit(compose, self.current_snapshot())

    def add_column(self, name: str, spark_type: str) -> Snapshot:
        spark_type = self._canon_type(spark_type)

        def mutate(fields, base):
            if any(f["name"] == name for f in fields):
                raise ValueError(f"column exists: {name}")
            # ids must never be reused across the table's LIFETIME, not
            # just the current schema: the scan maps old files by id, so
            # re-allocating a dropped column's id would resurrect its
            # stored values under the new column's name
            next_id = 1 + max(
                f["id"] for fs in base.schemas.values() for f in fs
            )
            return fields + [{"id": next_id, "name": name, "type": spark_type}]

        return self._evolve(mutate)

    def rename_column(self, old: str, new: str) -> Snapshot:
        def mutate(fields, base):
            hit = [f for f in fields if f["name"] == old]
            if not hit:
                raise ValueError(f"no such column: {old}")
            hit[0]["name"] = new
            return fields

        return self._evolve(mutate)

    def widen_column(self, name: str, new_type: str) -> Snapshot:
        new_type = self._canon_type(new_type)

        def mutate(fields, base):
            hit = [f for f in fields if f["name"] == name]
            if not hit:
                raise ValueError(f"no such column: {name}")
            if (hit[0]["type"], new_type) not in _WIDENINGS:
                raise ValueError(f"not a widening: {hit[0]['type']} -> {new_type}")
            hit[0]["type"] = new_type
            return fields

        return self._evolve(mutate)

    def drop_column(self, name: str) -> Snapshot:
        """Drop a column (metadata-only, like Iceberg DROP COLUMN).

        No data is rewritten: the id-aware scan simply stops selecting
        the field, and parquet column pruning means old files never
        even read the dropped pages.  Load-bearing columns are refused
        — the bucket key, the merge key, and the merge.order columns
        define the table's physical layout and LWW semantics.  A later
        ``add_column`` with the same name gets a FRESH id, so the old
        values stay dead (reads as null for old files, as written for
        new ones).  Reference parity: giraffe-etl drops fields by
        removing the Route mapping (Route.java) — here it is a schema
        commit so time travel to pre-drop snapshots still sees the
        column.
        """
        def mutate(fields, base):
            hit = [f for f in fields if f["name"] == name]
            if not hit:
                raise ValueError(f"no such column: {name}")
            props = base.properties
            protected = {props.get("bucket.key"), props.get("merge.key")}
            protected |= {
                c.strip()
                for c in props.get("merge.order", "").split(",")
                if c.strip()
            }
            if name in protected:
                raise ValueError(
                    f"cannot drop {name}: bucket/merge key or order column"
                )
            return [f for f in fields if f["name"] != name]

        # strip the column from footer-stats collection in the same
        # commit (harmless if left — _footer_stats skips absent columns
        # — but a dropped column must stop costing stats I/O)
        stats = [
            c
            for c in self.properties.get("stats.cols", "").split(",")
            if c and c != name
        ]
        return self._evolve(mutate, props_update={"stats.cols": ",".join(stats)})

    # ---- maintenance -----------------------------------------------------------

    def compact_files(self, max_files_per_bucket: int = 4) -> list[int]:
        """Bin-pack buckets that accumulated more than N files.

        Every append/merge commit adds at most one file per touched
        bucket, so a long-running stream fragments its side tables
        (quarantine, metrics) and any append-mode bucket; scans then
        pay per-file open cost and the driver pays per-file footer
        reads.  This rewrites only the fragmented buckets — one
        clustered write job — and as a side effect migrates their rows
        to the CURRENT schema id (the read projects historical files
        through the field-id mapping), exactly like Iceberg's
        rewrite_data_files.  Returns the compacted bucket ids.
        """
        snap = self.current_snapshot()
        fragmented = [
            int(b)
            for b in set(snap.buckets) | set(snap.deltas)
            if len(snap.buckets.get(b, [])) + len(snap.deltas.get(b, []))
            > max_files_per_bucket
        ]
        if not fragmented:
            return []
        df = self.read(snap=snap, buckets=fragmented, with_bucket_col=True)
        self.overwrite_buckets(fragmented, df, base=snap, operation="compact")
        return sorted(fragmented)

    def compact_deltas(
        self,
        buckets: list[int] | None = None,
        max_delta_files: int = 0,
    ) -> list[int]:
        """Fold delta files back into base files (MOR maintenance).

        Reconciles the selected buckets (winner per key) and rewrites
        them as clean base files — the read-time ``max_by`` for those
        buckets disappears until new deltas arrive.  ``buckets=None``
        selects every bucket whose delta-file count exceeds
        ``max_delta_files``.  Returns the compacted bucket ids.
        """
        snap = self.current_snapshot()
        if buckets is None:
            targets = [
                int(b) for b, fs in snap.deltas.items() if len(fs) > max_delta_files
            ]
        else:
            targets = [int(b) for b in buckets if snap.deltas.get(str(b))]
        if not targets:
            return []
        df = self.read(snap=snap, buckets=targets, with_bucket_col=True)
        self.overwrite_buckets(targets, df, base=snap, operation="compact")
        return sorted(targets)

    def _sweep_unreferenced(self, live: set[str], min_age_s: float = 0.0) -> int:
        """Delete parquet files under data_dir not in ``live``.

        ``min_age_s`` spares recently-written files: an in-flight
        writer's output exists on disk BEFORE its commit references it,
        so concurrent maintenance must not reap young files (Iceberg's
        remove_orphan_files draws the same older-than line).
        """
        removed = 0
        now = time.time()
        for root, _dirs, files in os.walk(self.data_dir):
            for fn in files:
                p = os.path.join(root, fn)
                if p not in live and fn.endswith(".parquet"):
                    if min_age_s and now - os.path.getmtime(p) < min_age_s:
                        continue
                    os.remove(p)
                    removed += 1
        # drop now-empty dirs
        for root, dirs, files in list(os.walk(self.data_dir, topdown=False)):
            if root != self.data_dir and not dirs and not files:
                shutil.rmtree(root, ignore_errors=True)
        return removed

    @staticmethod
    def _manifest_paths(snap: Snapshot) -> set[str]:
        return {
            fi["path"]
            for m in (snap.buckets, snap.deltas)
            for fs in m.values()
            for fi in fs
        }

    def expire_orphan_files(self) -> int:
        """Delete data files not referenced by the current snapshot.

        (Time-travel across older snapshots is sacrificed; run only when
        history is no longer needed — mirrors Iceberg's
        expire_snapshots + remove_orphan_files.)
        """
        return self._sweep_unreferenced(
            self._manifest_paths(self.current_snapshot())
        )

    def expire_snapshots(
        self, keep_last: int = 10, orphan_min_age_s: float = 3600.0
    ) -> dict:
        """Bound metadata + storage growth: drop history before a cutoff.

        Iceberg ``expire_snapshots`` analog.  A long-running CDC stream
        commits per batch — at 10^10 events that is metadata growing
        without bound and every superseded row version pinned on disk
        by some historical snapshot.  This keeps the ``keep_last`` most
        recent snapshots (the current one always survives), deletes the
        older manifests, and sweeps data files referenced by NO
        surviving manifest — so time travel, ``rollback`` and
        ``read_changes`` keep working across the surviving window and
        raise ``SnapshotExpired`` beyond it (a ``ChangelogFollower``
        whose cursor fell behind the window gets ``ResyncRequired``).

        Also reaps files from writes that never committed (a crashed
        writer's output is referenced by no manifest), which is what
        makes the commit-retry path safe to abort at any point.
        """
        cur = self.current_snapshot()
        cutoff = cur.snapshot_id - max(int(keep_last), 1) + 1
        expired = []
        live: set[str] = set()
        live_refs: set[str] = set()
        for fn in self.io.list_dir(self.meta_dir):
            if not (fn.startswith("v") and fn.endswith(".json")):
                continue
            sid = int(fn[1:-5])
            if sid < cutoff:
                expired.append(fn)
                continue
            raw = json.loads(self.io.read_text(os.path.join(self.meta_dir, fn)))
            for key in ("buckets", "deltas"):
                for v in (raw.get(key) or {}).values():
                    if isinstance(v, str):  # v2: shard ref
                        live_refs.add(v)
                        entries = self._load_manifest(v)
                    else:  # v1: inline list
                        entries = v
                    live |= {fi["path"] for fi in entries}
        for fn in expired:
            self.io.delete(os.path.join(self.meta_dir, fn))
        files_removed = self._sweep_unreferenced(live, orphan_min_age_s)
        # manifest shards referenced by no surviving snapshot (same
        # min-age guard: an in-flight commit's shards exist before the
        # snapshot JSON that references them)
        shards_removed = 0
        if self.io.exists(self.manifest_dir):
            now = time.time()
            for fn in self.io.list_dir(self.manifest_dir):
                p = os.path.join(self.manifest_dir, fn)
                if fn in live_refs or not fn.endswith(".json"):
                    continue
                if (
                    orphan_min_age_s
                    and now - self.io.mtime(p) < orphan_min_age_s
                ):
                    continue
                self.io.delete(p)
                _manifest_cache_drop(p)
                shards_removed += 1
        return {
            "snapshots_expired": len(expired),
            "files_removed": files_removed,
            "manifest_shards_removed": shards_removed,
            "oldest_surviving": min(cutoff, cur.snapshot_id),
        }
