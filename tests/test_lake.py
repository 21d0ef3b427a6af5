"""Lake table layer: atomic commits, bucket pruning, schema evolution."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from giraffe_etl_spark.lake import CommitConflict, Table


def make_table(spark, root, n_buckets=4):
    schema = StructType.fromDDL("k string, v long")
    return Table.create(
        spark, os.path.join(root, "t"), schema, bucket_key="k", n_buckets=n_buckets
    )


def kv_df(spark, pairs):
    return spark.createDataFrame(pairs, "k string, v long")


def test_create_load_roundtrip(spark, tmp_root):
    t = make_table(spark, tmp_root)
    t2 = Table.load(spark, t.path)
    assert t2.n_buckets() == 4
    assert t2.bucket_key() == "k"
    assert t2.read().count() == 0


def test_append_and_read(spark, tmp_root):
    t = make_table(spark, tmp_root)
    t.append(kv_df(spark, [("a", 1), ("b", 2), ("c", 3)]))
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3)}


def test_snapshot_isolation(spark, tmp_root):
    t = make_table(spark, tmp_root)
    t.append(kv_df(spark, [("a", 1)]))
    snap1 = t.current_snapshot()
    t.append(kv_df(spark, [("b", 2)]))
    # old snapshot still reads old data
    assert t.read(snap=snap1).count() == 1
    assert t.read().count() == 2


def test_bucket_pruning_reads_only_requested(spark, tmp_root):
    t = make_table(spark, tmp_root, n_buckets=8)
    df = spark.range(100).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"), F.col("id").alias("v")
    )
    t.append(df)
    full = t.read(with_bucket_col=True)
    one_bucket = [r._bucket for r in full.select("_bucket").distinct().collect()][0]
    pruned = t.read(buckets=[one_bucket], with_bucket_col=True)
    assert pruned.count() == full.filter(F.col("_bucket") == one_bucket).count()
    assert pruned.select("_bucket").distinct().count() == 1


def test_overwrite_buckets_swaps_only_touched(spark, tmp_root):
    t = make_table(spark, tmp_root, n_buckets=4)
    t.append(kv_df(spark, [(f"k{i}", i) for i in range(20)]))
    snap = t.current_snapshot()
    target_bucket = 2
    keep = t.read(with_bucket_col=True).filter(F.col("_bucket") == target_bucket)
    replaced = keep.withColumn("v", F.col("v") + 1000)
    t.overwrite_buckets([target_bucket], replaced, base=snap)
    after = t.read(with_bucket_col=True)
    assert (
        after.filter(F.col("_bucket") == target_bucket)
        .filter(F.col("v") < 1000)
        .count()
        == 0
    )
    other_before = (
        t.read(snap=snap, with_bucket_col=True)
        .filter(F.col("_bucket") != target_bucket)
        .count()
    )
    assert after.filter(F.col("_bucket") != target_bucket).count() == other_before


def test_commit_conflict_detection(spark, tmp_root):
    """The commit PRIMITIVE detects a stale parent; the public append
    RESOLVES it by retrying the manifest merge (tests/test_concurrency
    covers the genuinely concurrent cases)."""
    t = make_table(spark, tmp_root)
    base = t.current_snapshot()
    t.append(kv_df(spark, [("a", 1)]), base=base)
    with pytest.raises(CommitConflict):
        t._commit(base, base.buckets, None)  # stale parent, no retry
    t.append(kv_df(spark, [("b", 2)]), base=base)  # retries + merges
    assert {(r.k, r.v) for r in t.read().collect()} == {("a", 1), ("b", 2)}


def test_properties_carried_and_updated(spark, tmp_root):
    t = make_table(spark, tmp_root)
    t.append(kv_df(spark, [("a", 1)]), properties_update={"stream.x.last": "5"})
    assert t.properties["stream.x.last"] == "5"
    t.append(kv_df(spark, [("b", 2)]))
    assert t.properties["stream.x.last"] == "5"  # carried forward


def test_schema_add_column(spark, tmp_root):
    t = make_table(spark, tmp_root)
    t.append(kv_df(spark, [("a", 1)]))
    t.add_column("extra", "int")
    df = t.read()
    assert "extra" in df.columns
    row = df.filter("k = 'a'").first()
    assert row.extra is None  # old file mapped onto new schema


def test_schema_rename_column_by_id(spark, tmp_root):
    t = make_table(spark, tmp_root)
    t.append(kv_df(spark, [("a", 7)]))
    t.rename_column("v", "value")
    df = t.read()
    assert "value" in df.columns and "v" not in df.columns
    assert df.filter("k = 'a'").first().value == 7  # old files resolve by id


def test_schema_widen_column(spark, tmp_root):
    schema = StructType.fromDDL("k string, n int")
    t = Table.create(
        spark, os.path.join(tmp_root, "w"), schema, bucket_key="k", n_buckets=2
    )
    t.append(spark.createDataFrame([("a", 1)], "k string, n int"))
    t.widen_column("n", "bigint")
    df = t.read()
    assert dict(df.dtypes)["n"] == "bigint"
    assert df.first().n == 1
    with pytest.raises(ValueError):
        t.widen_column("k", "bigint")


def test_schema_type_names_canonicalized(spark, tmp_root):
    """DDL synonyms ("long"/"bigint") must collapse before whitelist checks."""
    schema = StructType.fromDDL("k string, n int")
    t = Table.create(
        spark, os.path.join(tmp_root, "syn"), schema, bucket_key="k", n_buckets=2
    )
    t.widen_column("n", "long")  # synonym of bigint — must be accepted
    t.add_column("m", "integer")  # synonym of int — stored canonically...
    t.widen_column("m", "bigint")  # ...so the whitelist ("int","bigint") hits
    assert dict(t.read().dtypes) == {"k": "string", "n": "bigint", "m": "bigint"}


def test_mixed_schema_files_union(spark, tmp_root):
    """Files written before AND after evolution read under one schema."""
    t = make_table(spark, tmp_root)
    t.append(kv_df(spark, [("old", 1)]))
    t.rename_column("v", "value")
    t.add_column("tag", "string")
    t.append(spark.createDataFrame([("new", 2, "x")], "k string, value long, tag string"))
    rows = {r.k: (r.value, r.tag) for r in t.read().collect()}
    assert rows == {"old": (1, None), "new": (2, "x")}


def test_schema_drop_column(spark, tmp_root):
    t = make_table(spark, tmp_root)
    t.append(kv_df(spark, [("a", 1)]))
    t.add_column("tag", "string")
    t.append(
        spark.createDataFrame([("b", 2, "x")], "k string, v long, tag string")
    )
    t.drop_column("tag")
    df = t.read()
    assert "tag" not in df.columns
    assert {(r.k, r.v) for r in df.collect()} == {("a", 1), ("b", 2)}
    with pytest.raises(ValueError):
        t.drop_column("k")  # bucket key is load-bearing
    with pytest.raises(ValueError):
        t.drop_column("nosuch")


def test_drop_column_is_time_travel_safe(spark, tmp_root):
    t = make_table(spark, tmp_root)
    t.add_column("tag", "string")
    t.append(
        spark.createDataFrame([("a", 1, "x")], "k string, v long, tag string")
    )
    snap = t.current_snapshot()
    t.drop_column("tag")
    assert t.read(snap=snap).first().tag == "x"  # pre-drop snapshot intact
    assert "tag" not in t.read().columns


def test_dropped_column_id_never_reused(spark, tmp_root):
    """Re-adding a dropped name allocates a FRESH id: the old stored
    values stay dead (null), they do not resurrect under the new column."""
    t = make_table(spark, tmp_root)
    t.add_column("tag", "string")
    t.append(
        spark.createDataFrame(
            [("a", 1, "secret")], "k string, v long, tag string"
        )
    )
    old_id = [
        f["id"] for f in t.current_snapshot().schema_fields if f["name"] == "tag"
    ][0]
    t.drop_column("tag")
    t.add_column("tag", "string")
    new_id = [
        f["id"] for f in t.current_snapshot().schema_fields if f["name"] == "tag"
    ][0]
    assert new_id != old_id
    assert t.read().filter("k = 'a'").first().tag is None


def test_expire_orphan_files(spark, tmp_root):
    t = make_table(spark, tmp_root)
    t.append(kv_df(spark, [(f"k{i}", i) for i in range(10)]))
    snap = t.current_snapshot()
    all_b = [int(b) for b in snap.buckets]
    t.overwrite_buckets(all_b, t.read(with_bucket_col=True), base=snap)
    removed = t.expire_orphan_files()
    assert removed > 0
    assert t.read().count() == 10  # current snapshot intact


def test_compact_files_binpacks_fragmented_buckets(spark, tmp_root):
    t = make_table(spark, tmp_root, n_buckets=2)
    # 6 appends -> up to 6 files per bucket
    for i in range(6):
        t.append(kv_df(spark, [(f"k{i}", i), (f"j{i}", 10 + i)]))
    before = t.current_snapshot()
    frag = [b for b, fs in before.buckets.items() if len(fs) > 2]
    assert frag, "appends must fragment at least one bucket"
    rows_before = {(r.k, r.v) for r in t.read().collect()}

    compacted = t.compact_files(max_files_per_bucket=2)
    assert compacted, "fragmented buckets must be compacted"
    after = t.current_snapshot()
    for b in compacted:
        assert len(after.buckets[str(b)]) == 1, "compacted bucket = one file"
    assert {(r.k, r.v) for r in t.read().collect()} == rows_before
    # idempotent: nothing left to compact
    assert t.compact_files(max_files_per_bucket=2) == []


def test_compact_files_migrates_schema(spark, tmp_root):
    t = make_table(spark, tmp_root, n_buckets=1)
    for i in range(5):
        t.append(kv_df(spark, [(f"k{i}", i)]))
    t.add_column("w", "double")
    assert t.compact_files(max_files_per_bucket=1)
    snap = t.current_snapshot()
    sid = snap.schema_id
    for fs in snap.buckets.values():
        for fi in fs:
            assert fi["schema_id"] == sid, "compaction rewrites to current schema"
    got = t.read().orderBy("k").collect()
    assert [r.w for r in got] == [None] * 5


def test_manifest_shards_shared_across_commits(spark, tmp_root):
    """Commit metadata is O(touched buckets): an untouched bucket's
    file list is a content-addressed shard REUSED by reference, the
    metadata analog of merge-on-read's O(batch) data commits."""
    import json as _json

    t = make_table(spark, tmp_root)
    t.append(kv_df(spark, [(f"k{i}", i) for i in range(12)]))  # all buckets
    snap1 = t.current_snapshot()
    # touch exactly one key -> one bucket
    t.append(kv_df(spark, [("k0", 99)]))
    snap2 = t.current_snapshot()

    def refs(sid):
        with open(os.path.join(t.meta_dir, f"v{sid}.json")) as f:
            return _json.loads(f.read())["buckets"]

    r1, r2 = refs(snap1.snapshot_id), refs(snap2.snapshot_id)
    changed = [b for b in r2 if r1.get(b) != r2[b]]
    unchanged = [b for b in r1 if r1[b] == r2.get(b)]
    assert len(changed) == 1, (r1, r2)  # only the touched bucket's shard
    assert unchanged, "untouched buckets must share the parent's shards"
    # and every ref resolves back to the identical materialized content
    assert t.snapshot_at(snap1.snapshot_id).buckets == snap1.buckets


def test_v1_inline_snapshot_still_loads(spark, tmp_root):
    """Pre-shard manifests (file lists inline in the snapshot JSON)
    must keep loading — mixed history after an upgrade."""
    import json as _json

    t = make_table(spark, tmp_root)
    t.append(kv_df(spark, [("a", 1)]))
    snap = t.current_snapshot()
    # rewrite the head snapshot in v1 inline form
    doc = {
        "snapshot_id": snap.snapshot_id,
        "parent_id": snap.parent_id,
        "schema_id": snap.schema_id,
        "schemas": snap.schemas,
        "buckets": snap.buckets,
        "properties": snap.properties,
        "summary": snap.summary,
        "deltas": snap.deltas,
    }
    path = os.path.join(t.meta_dir, f"v{snap.snapshot_id}.json")
    os.remove(path)
    with open(path, "w") as f:
        f.write(_json.dumps(doc, sort_keys=True))
    t2 = Table.load(spark, t.path)
    assert t2.current_snapshot().buckets == snap.buckets
    assert {(r.k, r.v) for r in t2.read().collect()} == {("a", 1)}
    # and the next commit upgrades to shards transparently
    t2.append(kv_df(spark, [("b", 2)]))
    assert {(r.k, r.v) for r in t2.read().collect()} == {("a", 1), ("b", 2)}


def test_expire_snapshots_reaps_orphan_shards(spark, tmp_root):
    t = make_table(spark, tmp_root)
    for i in range(5):
        t.append(kv_df(spark, [(f"k{i}", i)]))
    before = len(os.listdir(t.manifest_dir))
    rep = t.expire_snapshots(keep_last=1, orphan_min_age_s=0)
    assert rep["manifest_shards_removed"] > 0
    assert len(os.listdir(t.manifest_dir)) < before
    assert t.read().count() == 5  # current content intact


def test_read_keys_point_lookup_prunes_to_key_buckets(spark, tmp_root):
    t = make_table(spark, tmp_root, n_buckets=8)
    t.append(kv_df(spark, [(f"k{i}", i) for i in range(64)]))
    # bucket_of agrees with the write-side transform
    snap = t.current_snapshot()
    df = t.read(with_bucket_col=True)
    want_bucket = {r.k: r._bucket for r in df.collect()}
    assert t.bucket_of("k3", "k17") == [want_bucket["k3"], want_bucket["k17"]]
    # lookup returns exactly the requested live rows
    got = {(r.k, r.v) for r in t.read_keys(["k3", "k17"]).collect()}
    assert got == {("k3", 3), ("k17", 17)}
    # and scans only the key's bucket: exact input-file set (basenames
    # collide across buckets — same write task, same part uuid — so
    # compare full paths via inputFiles)
    scanned = {f.replace("file://", "").replace("file:", "") for f in
               t.read_keys(["k3"]).inputFiles()}
    want_files = {fi["path"] for fi in snap.buckets[str(want_bucket["k3"])]}
    assert scanned == want_files, (scanned, want_files)


@pytest.mark.parametrize(
    "ktype,keys",
    [
        ("string", [f"k{i}" for i in range(40)] + ["", "http://a/\u00e9"]),
        ("long", list(range(-20, 20)) + [2**31, -(2**31) - 1, 2**40, -(2**63)]),
    ],
)
def test_bucket_of_matches_written_bucket_without_a_job(spark, tmp_root, ktype, keys):
    """bucket_of hashes on the driver with the key's schema type: every
    key's bucket equals the ``_bucket`` the write put it in (murmur3 of
    a long differs from that of an int of the same value), and building
    a point lookup runs no Spark job."""
    ddl = f"k {ktype}, v long"
    t = Table.create(
        spark, os.path.join(tmp_root, "t"), StructType.fromDDL(ddl),
        bucket_key="k", n_buckets=8,
    )
    t.append(spark.createDataFrame([(k, i) for i, k in enumerate(keys)], ddl))
    written = {r.k: r._bucket for r in t.read(with_bucket_col=True).collect()}
    assert t.bucket_of(*keys) == [written[k] for k in keys]
    df, jobs = jobs_run(spark, lambda: t.read_keys(keys[:3]))
    assert jobs == []
    assert sorted(r.k for r in df.collect()) == sorted(keys[:3])


def test_read_keys_honors_the_scanned_snapshots_bucket_count(spark, tmp_root):
    """Point lookups against a PRE-rescale snapshot must hash with that
    snapshot's bucket count, not the current one — otherwise the prune
    selects buckets absent from the old manifest and silently drops the
    row (time travel across rescale_buckets)."""
    t = make_table(spark, tmp_root, n_buckets=4)
    t.append(kv_df(spark, [(f"k{i}", i) for i in range(32)]))
    old = t.current_snapshot()
    t.rescale_buckets(8)
    t.append(kv_df(spark, [("post", 99)]))
    for k in ("k0", "k7", "k19", "k31"):
        got = [(r.k, r.v) for r in t.read_keys([k], snap=old).collect()]
        assert got == [(k, int(k[1:]))], k
    # the current snapshot still resolves under the new count
    assert {r.k for r in t.read_keys(["post"]).collect()} == {"post"}


def test_crash_orphan_manifest_is_adopted_after_grace(spark, tmp_root, monkeypatch):
    """A writer that crashed between manifest create and the pointer
    flip leaves v{N}.json orphaned; without reaping, every later commit
    composes id N, collides, and retries forever.  After the grace
    period the next committer deletes the orphan and proceeds."""
    import json

    t = make_table(spark, tmp_root)
    t.append(kv_df(spark, [("a", 1)]))
    cur = t.current_snapshot()
    orphan = os.path.join(t.meta_dir, f"v{cur.snapshot_id + 1}.json")
    with open(orphan, "w") as f:
        json.dump({"parent_id": cur.snapshot_id, "snapshot_id": cur.snapshot_id + 1}, f)
    monkeypatch.setattr(Table, "ORPHAN_GRACE_S", 0.0)
    snap = t.append(kv_df(spark, [("b", 2)]))
    assert snap.snapshot_id == cur.snapshot_id + 1
    assert t.read().count() == 2


def test_fresh_colliding_manifest_is_not_reaped(spark, tmp_root):
    """Inside the grace period a colliding manifest is presumed to be a
    live racer about to flip the pointer — the commit must back off
    with CommitConflict, never delete it."""
    import json

    t = make_table(spark, tmp_root)
    t.append(kv_df(spark, [("a", 1)]))
    cur = t.current_snapshot()
    orphan = os.path.join(t.meta_dir, f"v{cur.snapshot_id + 1}.json")
    doc = {"parent_id": cur.snapshot_id, "snapshot_id": cur.snapshot_id + 1}
    with open(orphan, "w") as f:
        json.dump(doc, f)
    with pytest.raises(CommitConflict):
        t.append(kv_df(spark, [("b", 2)]))
    with open(orphan) as f:  # racer's manifest untouched
        assert json.load(f) == doc


def test_fileio_seam_routes_all_commit_metadata(spark, tmp_root):
    """Every metadata-protocol operation (manifest create-if-absent,
    pointer flip, snapshot/manifest reads, expiry deletes) goes through
    the Table's FileIO — the portability seam for object-store commits
    (lake/fileio.py documents the S3-class strategy).  A recording
    POSIX wrapper must observe the create->flip commit sequence and a
    custom-io table must never fall back to the default io."""
    from giraffe_etl_spark.lake.fileio import PosixFileIO
    from pyspark.sql.types import StructType

    class RecordingIO(PosixFileIO):
        def __init__(self):
            self.calls = []

        def create_if_absent(self, path, content):
            self.calls.append(("create", path))
            super().create_if_absent(path, content)

        def flip_pointer(self, path, content, expected=None):
            self.calls.append(("flip", path))
            super().flip_pointer(path, content, expected=expected)

        def read_text(self, path):
            self.calls.append(("read", path))
            return super().read_text(path)

        def delete(self, path):
            self.calls.append(("delete", path))
            super().delete(path)

    io = RecordingIO()
    schema = StructType.fromDDL("k string, v long")
    t = Table.create(
        spark, os.path.join(tmp_root, "tio"), schema,
        bucket_key="k", n_buckets=2, io=io,
    )
    t.append(kv_df(spark, [("a", 1), ("b", 2)]))
    kinds = [k for k, _ in io.calls]
    assert "create" in kinds and "flip" in kinds and "read" in kinds
    # the commit orders create (linearization) BEFORE flip (publish)
    snap_creates = [
        i for i, (k, p) in enumerate(io.calls)
        if k == "create" and "/v" in p and p.endswith(".json")
    ]
    flips = [i for i, (k, p) in enumerate(io.calls) if k == "flip"]
    assert snap_creates and flips and min(snap_creates) < max(flips)

    # load with the same io: reads route through it too
    io2 = RecordingIO()
    t2 = Table.load(spark, t.path, io=io2)
    assert t2.read().count() == 2
    assert any(k == "read" for k, _ in io2.calls)

    # expiry deletes route through the io as well
    t.append(kv_df(spark, [("c", 3)]))
    before = len([k for k, _ in io.calls if k == "delete"])
    t.expire_snapshots(keep_last=1, orphan_min_age_s=0)
    assert len([k for k, _ in io.calls if k == "delete"]) > before


def test_rollback_racing_commit_fails_fast(spark, tmp_root):
    """Rollback is deliberately NOT retried (lake/table.py docstring):
    losing the race means someone committed data between deciding to
    roll back and the rollback landing, and silently retrying would
    erase that commit unseen.  A racing append must surface
    CommitConflict, leave the racer's commit intact, and a FRESH
    rollback (made with the new state in view) must succeed."""
    t = make_table(spark, tmp_root)
    t.append(kv_df(spark, [("a", 1)]))
    good = t.current_snapshot().snapshot_id
    t.append(kv_df(spark, [("bad", 99)]))

    racer = Table.load(spark, t.path)
    orig = t.current_snapshot
    fired = {"done": False}

    def hooked():
        snap = orig()
        if not fired["done"]:
            fired["done"] = True
            racer.append(kv_df(spark, [("race", 7)]))  # concurrent commit
        return snap

    t.current_snapshot = hooked
    try:
        with pytest.raises(CommitConflict):
            t.rollback(good)
    finally:
        t.current_snapshot = orig

    # the racer's commit survived untouched
    got = {(r.k, r.v) for r in t.read().collect()}
    assert ("race", 7) in got and ("bad", 99) in got

    # a fresh rollback sees the new head and succeeds
    t.rollback(good)
    assert {(r.k, r.v) for r in t.read().collect()} == {("a", 1)}


def test_meta_tables_inspect_history_files_schemas(spark, tmp_root):
    """Table.meta: snapshots newest-first with operation tags, files
    reflect live base+delta sets, schemas carry the evolution trail."""
    schema = StructType.fromDDL("k string, ts long, v long")
    t = Table.create(
        spark,
        os.path.join(tmp_root, "t"),
        schema,
        bucket_key="k",
        n_buckets=2,
        properties={"merge.key": "k", "merge.order": "ts"},
    )
    rows = lambda xs: spark.createDataFrame(xs, schema)
    t.append(rows([("a", 1, 10), ("b", 1, 20)]))
    t.append_deltas(None, rows([("a", 2, 11)]))
    t.add_column("w", "long")

    snaps = t.meta("snapshots").collect()
    assert [r["operation"] for r in snaps][:3] == [
        "metadata", "delta-append", "append",
    ]
    assert snaps[0]["snapshot_id"] > snaps[1]["snapshot_id"]

    files = t.meta("files").collect()
    kinds = {r["kind"] for r in files}
    assert kinds == {"base", "delta"}
    assert sum(r["rows"] for r in files) == 3  # 2 base + 1 delta version

    sch = t.meta("schemas").collect()
    by_sid = {}
    for r in sch:
        by_sid.setdefault(r["schema_id"], set()).add(r["name"])
    first, last = min(by_sid), max(by_sid)
    assert "w" not in by_sid[first] and "w" in by_sid[last]

    with pytest.raises(ValueError, match="unknown metadata table"):
        t.meta("nope")


def jobs_run(spark, fn):
    """``fn()`` and the ids of the Spark jobs it ran (status-tracker
    job range, as cdcbench counts them)."""
    st = spark.sparkContext.statusTracker()
    mark = max(st.getJobIdsForGroup(None), default=-1)
    out = fn()
    return out, [j for j in st.getJobIdsForGroup(None) if j > mark]


def _many_file_table(spark, root):
    """A table whose snapshot lists more files than Spark's parallel
    partition discovery threshold (32), written under two schema ids."""
    t = make_table(spark, root, n_buckets=8)
    want = set()
    for i in range(6):
        if i == 3:
            t.add_column("w", "string")
        rows = [(f"k{i}_{j}", 100 * i + j) for j in range(24)]
        if i < 3:
            t.append(kv_df(spark, rows))
            want |= {(k, v, None) for k, v in rows}
        else:
            t.append(
                spark.createDataFrame(
                    [(k, v, f"w{v}") for k, v in rows], "k string, v long, w string"
                )
            )
            want |= {(k, v, f"w{v}") for k, v in rows}
    snap = t.current_snapshot()
    assert sum(len(fs) for fs in snap.buckets.values()) > 32
    return t, want


def test_read_over_many_files_opens_from_the_manifest(spark, tmp_root):
    """A scan over more than 32 files builds its DataFrame with no Spark
    job — no schema-inference job, no one-task-per-path listing job —
    and reads the same rows, both schema ids mapped onto the current
    one."""
    t, want = _many_file_table(spark, tmp_root)
    df, jobs = jobs_run(spark, t.read)
    assert jobs == []
    assert {(r.k, r.v, r.w) for r in df.collect()} == want


def test_concurrent_scans_restore_discovery_threshold(spark, tmp_root):
    """Scans on two threads pin the parallel-discovery threshold at
    once (shared, holder-counted pin): none runs a listing job, and
    the session's own value is back when both are done."""
    import threading

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    t, want = _many_file_table(spark, tmp_root)
    spark.conf.set(key, "17")
    try:
        start = threading.Barrier(2)
        built = []

        def scan():
            start.wait()
            for _ in range(5):
                built.append(t.read())

        def both():
            threads = [threading.Thread(target=scan) for _ in range(2)]
            for th in threads:
                th.start()
            for th in threads:
                th.join()

        _, jobs = jobs_run(spark, both)
        assert jobs == []
        assert len(built) == 10
        assert spark.conf.get(key) == "17"
        assert {(r.k, r.v, r.w) for r in built[-1].collect()} == want
    finally:
        spark.conf.unset(key)


def test_append_local_is_type_exact(spark, tmp_root):
    """The driver-side writer converts the table schema with Spark's own
    Arrow mapping: date, decimal, int and timestamp columns round-trip
    through a typed scan (a hand-written map used to write unknown
    types as strings), and a type Arrow cannot hold raises."""
    import datetime as dt
    from decimal import Decimal

    import pandas as pd

    schema = StructType.fromDDL(
        "k string, d date, x decimal(10,2), n int, ts timestamp"
    )
    t = Table.create(
        spark, os.path.join(tmp_root, "t"), schema, bucket_key="k", n_buckets=1
    )
    when = dt.datetime(2024, 5, 6, 7, 8, 9)
    t.append_local(
        pd.DataFrame(
            {
                "k": ["a", "b"],
                "d": [dt.date(2024, 1, 2), None],
                "x": [Decimal("12.34"), None],
                "n": [7, None],
                "ts": [when, None],
            }
        )
    )
    got = sorted(t.read().collect(), key=lambda r: r.k)
    assert [tuple(r) for r in got] == [
        ("a", dt.date(2024, 1, 2), Decimal("12.34"), 7, when),
        ("b", None, None, None, None),
    ]

    bad = Table.create(
        spark,
        os.path.join(tmp_root, "bad"),
        StructType.fromDDL("k string, iv interval year to month"),
        bucket_key="k",
        n_buckets=1,
    )
    with pytest.raises(Exception, match="(?i)interval|unsupported"):
        bad.append_local(pd.DataFrame({"k": ["a"], "iv": [None]}))
