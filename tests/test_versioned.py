"""Versioned snapshot tables (sources/versioned): immutable versions,
time-travel reads, manifest-gated visibility, single-writer publishing,
vacuum retention, and CDC between versions via snapshot_diff."""

from __future__ import annotations

import os

import pytest

from cosmo_spark.operators.merge import MergeContentionError, _table_lock
from cosmo_spark.operators.merge import snapshot_diff
from cosmo_spark.sources.versioned import (
    read_snapshot,
    snapshot_versions,
    vacuum_snapshots,
    write_snapshot,
)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k STRING, val INT")


def _state(spark, path, version=None):
    return {
        r.k: r.val for r in read_snapshot(spark, path, version).collect()
    }


def test_time_travel_reads_and_version_log(spark, tmp_path):
    path = str(tmp_path / "tbl")
    v1 = write_snapshot(_frame(spark, [("a", 1), ("b", 1)]), path)
    v2 = write_snapshot(_frame(spark, [("a", 2), ("c", 1)]), path)
    assert (v1, v2) == (1, 2)
    assert snapshot_versions(path) == [1, 2]
    assert _state(spark, path) == {"a": 2, "c": 1}          # current
    assert _state(spark, path, 1) == {"a": 1, "b": 1}       # pinned
    with pytest.raises(KeyError):
        read_snapshot(spark, path, 99)

    # CDC between two versions is the existing snapshot_diff composition
    changes = {
        r.k: r.change_type
        for r in snapshot_diff(
            read_snapshot(spark, path, 1), read_snapshot(spark, path, 2), "k"
        ).collect()
    }
    assert changes == {"a": "update", "b": "delete", "c": "insert"}


def test_publish_is_single_writer_and_crash_safe(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_snapshot(_frame(spark, [("a", 1)]), path)

    # concurrent publisher fails loudly under the shared merge lock
    with _table_lock(spark, path):
        with pytest.raises(MergeContentionError):
            write_snapshot(_frame(spark, [("a", 2)]), path)
    assert _state(spark, path) == {"a": 1}

    # a crashed publisher's orphan (data dir present, never in the
    # manifest) is invisible to readers and reaped by the next publish
    orphan = os.path.join(path, "v=2")
    os.makedirs(orphan)
    open(os.path.join(orphan, "garbage.parquet"), "w").close()
    assert snapshot_versions(path) == [1]
    assert _state(spark, path) == {"a": 1}
    v = write_snapshot(_frame(spark, [("a", 3)]), path)
    assert v == 2 and _state(spark, path) == {"a": 3}
    assert _state(spark, path, 2) == {"a": 3}


def test_vacuum_keeps_current_and_forgets_history(spark, tmp_path):
    path = str(tmp_path / "tbl")
    for i in range(1, 5):
        write_snapshot(_frame(spark, [("a", i)]), path)
    assert snapshot_versions(path) == [1, 2, 3, 4]
    removed = vacuum_snapshots(spark, path, keep_last=2)
    assert removed == [1, 2]
    assert snapshot_versions(path) == [3, 4]
    assert _state(spark, path) == {"a": 4}
    assert _state(spark, path, 3) == {"a": 3}
    with pytest.raises(KeyError):
        read_snapshot(spark, path, 1)
    assert not os.path.isdir(os.path.join(path, "v=1"))
    # vacuum below the floor is a no-op
    assert vacuum_snapshots(spark, path, keep_last=5) == []
    # vacuum respects the writer lock: contention is loud
    with _table_lock(spark, path):
        with pytest.raises(MergeContentionError):
            vacuum_snapshots(spark, path, keep_last=1)


def test_merge_publishes_time_travelable_versions(spark, tmp_path):
    """Round-9 #2 gate: a version-guarded merge publishes a snapshot —
    the pre-merge state stays readable, and snapshot_diff(pre, post) is
    exactly the version-guard-surviving changes."""
    from cosmo_spark.operators.merge import merge_into_path

    def mframe(rows):
        return spark.createDataFrame(rows, "k STRING, ver INT, payload STRING")

    path = str(tmp_path / "tbl")
    v1 = merge_into_path(spark, path, mframe(
        [("a", 1, "a1"), ("b", 1, "b1"), ("c", 1, "c1")]), "k", "ver")
    v2 = merge_into_path(spark, path, mframe(
        [("a", 2, "a2"),      # newer version: survives the guard
         ("b", 1, "bX"),      # equal version: no-op (existing row wins)
         ("d", 1, "d1")]),    # unmatched key: insert
        "k", "ver")
    assert (v1, v2) == (1, 2)

    pre = {r.k: r.payload for r in read_snapshot(spark, path, 1).collect()}
    post = {r.k: r.payload for r in read_snapshot(spark, path, 2).collect()}
    assert pre == {"a": "a1", "b": "b1", "c": "c1"}, "pre-merge state intact"
    assert post == {"a": "a2", "b": "b1", "c": "c1", "d": "d1"}

    changes = {
        r.k: r.change_type
        for r in snapshot_diff(
            read_snapshot(spark, path, 1), read_snapshot(spark, path, 2), "k"
        ).collect()
    }
    assert changes == {"a": "update", "d": "insert"}, (
        "CDC must equal exactly the guard-surviving updates"
    )


def test_adopt_table_publishes_flat_table_as_v1(spark, tmp_path):
    """A plain FLAT parquet table enters the store through one explicit
    rewrite: adopt_table publishes it as v1 of a fresh table (pre-merge
    state retained) and the first merge publishes v2.  A publish straight
    into the plain directory is refused and leaves it untouched."""
    from cosmo_spark.operators.merge import merge_into_path
    from cosmo_spark.sources.versioned import adopt_table, read_current

    def mframe(rows):
        return spark.createDataFrame(rows, "k STRING, ver INT, payload STRING")

    src = str(tmp_path / "flat")
    mframe([("a", 1, "old")]).write.parquet(src)
    before = sorted(os.listdir(src))
    with pytest.raises(ValueError, match="adopt_table"):
        merge_into_path(spark, src, mframe([("a", 2, "new")]), "k", "ver")
    with pytest.raises(ValueError, match="adopt_table"):
        write_snapshot(mframe([("a", 2, "new")]), src)
    assert sorted(os.listdir(src)) == before, "a refused publish leaves no trace"

    path = str(tmp_path / "store")
    assert adopt_table(spark, path, src) == 1
    v = merge_into_path(spark, path, mframe([("a", 2, "new")]), "k", "ver")
    assert v == 2 and snapshot_versions(path) == [1, 2]
    assert {r.payload for r in read_snapshot(spark, path, 1).collect()} \
        == {"old"}
    assert {r.payload for r in read_current(spark, path).collect()} == {"new"}
    assert {r.payload for r in spark.read.parquet(src).collect()} == {"old"}
    with pytest.raises(RuntimeError, match="already has published"):
        adopt_table(spark, path, src)
    with pytest.raises(ValueError, match="must differ"):
        adopt_table(spark, src, src)


def test_slow_publish_blocks_no_reader_and_no_rival_publisher(spark, tmp_path):
    """Round-9 #6 gate: the distributed data write happens OUTSIDE the
    table lock, so while one publisher's write crawls, a reader AND a
    second publisher both proceed; the slow publisher then gets the next
    version at its (later) publish instant."""
    import threading

    path = str(tmp_path / "tbl")
    write_snapshot(_frame(spark, [("a", 1)]), path)

    writing = threading.Event()
    release = threading.Event()

    class SlowDF:
        """Proxy whose .write stalls until released — simulates a
        multi-minute distributed write."""

        def __init__(self, df):
            self._df = df

        @property
        def write(self):
            writing.set()
            assert release.wait(60), "test deadlock"
            return self._df.write

        def __getattr__(self, name):   # sparkSession etc.
            return getattr(self._df, name)

    out: dict = {}

    def slow_publish():
        out["slow"] = write_snapshot(SlowDF(_frame(spark, [("a", 99)])), path)

    t = threading.Thread(target=slow_publish)
    t.start()
    assert writing.wait(60)
    # while the slow write is (conceptually) running: reader unblocked
    assert _state(spark, path) == {"a": 1}
    # ...and a rival publisher lands a full version, no contention
    assert write_snapshot(_frame(spark, [("a", 2)]), path) == 2
    release.set()
    t.join(60)
    assert out["slow"] == 3
    assert _state(spark, path, 2) == {"a": 2}
    assert _state(spark, path, 3) == {"a": 99}


def _crash_manifest_write(*args, **kwargs):
    raise OSError("injected crash before the manifest write")


def test_failed_adoption_leaves_source_intact_and_reruns(
    spark, tmp_path, monkeypatch
):
    """adopt_table rewrites, never moves: an adoption that dies before
    its manifest write leaves the source byte-for-byte in place, and a
    rerun adopts it (the dead attempt's unlisted v=1 is reaped)."""
    import cosmo_spark.sources.versioned as versioned_mod
    from cosmo_spark.sources.versioned import adopt_table

    src = str(tmp_path / "flat")
    spark.createDataFrame([("a", 1), ("b", 2)], "k STRING, val INT") \
        .coalesce(2).write.parquet(src)
    before = sorted(os.listdir(src))
    path = str(tmp_path / "store")
    with monkeypatch.context() as m:
        m.setattr(versioned_mod, "write_json_atomic", _crash_manifest_write)
        with pytest.raises(OSError, match="injected"):
            adopt_table(spark, path, src)
    assert sorted(os.listdir(src)) == before
    assert {r.k: r.val for r in spark.read.parquet(src).collect()} \
        == {"a": 1, "b": 2}
    assert snapshot_versions(path) == []

    assert adopt_table(spark, path, src) == 1
    assert snapshot_versions(path) == [1]
    assert _state(spark, path) == {"a": 1, "b": 2}


def test_crashed_first_publish_is_not_resurrected(spark, tmp_path, monkeypatch):
    """The manifest is the only commit point: a first merge that dies
    between its v=1 rename and its manifest write never committed, so
    the next merge reaps that v=1 instead of adopting it as version 1."""
    import cosmo_spark.sources.versioned as versioned_mod
    from cosmo_spark.operators.merge import merge_into_path
    from cosmo_spark.sources.versioned import read_current

    def mframe(rows):
        return spark.createDataFrame(rows, "k STRING, ver INT, payload STRING")

    path = str(tmp_path / "tbl")
    with monkeypatch.context() as m:
        m.setattr(versioned_mod, "write_json_atomic", _crash_manifest_write)
        with pytest.raises(OSError, match="injected"):
            merge_into_path(spark, path, mframe([("a", 1, "lost")]), "k", "ver")
    assert os.path.isdir(os.path.join(path, "v=1"))   # the crash's leftover
    assert snapshot_versions(path) == []

    v = merge_into_path(spark, path, mframe([("b", 1, "b1")]), "k", "ver")
    assert v == 1 and snapshot_versions(path) == [1]
    assert {r.k for r in read_current(spark, path).collect()} == {"b"}


def test_broken_lease_holder_aborts_at_commit(spark, tmp_path):
    """r9 self-review #2/#3 fencing: a holder whose lease was broken
    while it ran must abort LOUDLY at the commit verify, and its release
    must not delete the successor's lock."""
    import os

    from cosmo_spark.operators.merge import (
        MergeContentionError,
        _table_lock,
    )

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    with pytest.raises(MergeContentionError, match="lost the merge lease"):
        with _table_lock(spark, path) as guard:
            # simulate a successor breaking our lease and taking over
            lock = path + ".__merge_lock"
            os.remove(lock)
            import json as _json
            import struct as _struct

            body = _json.dumps({"pid": 1, "host": "other", "token": "X"}).encode()
            with open(lock, "wb") as f:
                f.write(_struct.pack(">H", len(body)) + body)
            guard.verify()
    # owner-checked release: the successor's lock must survive our exit
    assert os.path.exists(path + ".__merge_lock"), (
        "release must not delete a lock we no longer own"
    )
    os.remove(path + ".__merge_lock")


def test_merge_retention_bounds_history(spark, tmp_path):
    """r9 self-review #4: retain_versions vacuums in the same lock
    acquisition, so a per-micro-batch merge caller keeps bounded state."""
    from cosmo_spark.operators.merge import merge_into_path

    def mframe(rows):
        return spark.createDataFrame(rows, "k STRING, ver INT, payload STRING")

    path = str(tmp_path / "tbl")
    for i in range(1, 6):
        merge_into_path(spark, path, mframe([(f"k{i}", 1, "x")]), "k", "ver",
                        retain_versions=2)
    assert snapshot_versions(path) == [4, 5]
    assert {r.k for r in read_snapshot(spark, path).collect()} \
        == {"k1", "k2", "k3", "k4", "k5"}


def test_purge_keys_deletes_only_tombstoned_and_vacuum_erases_bytes(
    spark, tmp_path
):
    """The GDPR contract behind q151: purge removes exactly the tombstoned
    keys' rows (time travel keeps the pre-purge version readable), and a
    subsequent vacuum makes the deletion PHYSICAL — no parquet file under
    the table still carries a purged user's bytes."""
    import glob

    from cosmo_spark.sources.versioned import (
        purge_keys,
        read_snapshot,
        vacuum_snapshots,
        write_snapshot,
    )

    path = str(tmp_path / "events")
    rows = [(i, i % 5, f"payload-{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, p string")
    v1 = write_snapshot(df, path)
    tomb = spark.createDataFrame([(0,), (3,)], "user_id long")
    v2 = purge_keys(spark, path, "user_id", tomb)
    assert v2 == v1 + 1

    cur = read_snapshot(spark, path).collect()
    assert {r.user_id for r in cur} == {1, 2, 4}
    assert len(cur) == 30
    # time travel: the pre-purge version still serves every row
    assert read_snapshot(spark, path, v1).count() == 50

    vacuum_snapshots(spark, path, keep_last=1)
    # the purged users' bytes are gone from EVERY parquet file on disk
    leftovers = spark.read.parquet(
        *glob.glob(f"{path}/v=*/*.parquet")
    ).filter("user_id in (0, 3)")
    assert leftovers.count() == 0
    import pytest as _pytest

    with _pytest.raises(KeyError):
        read_snapshot(spark, path, v1)


def test_purge_keeps_a_merge_published_during_it(spark, tmp_path, monkeypatch):
    """Lost-update gate for purge_keys: a merge that tries to publish
    between the purge's read of the current version and the purge's own
    publish must either land in the purge's input or fail loudly and
    land after it — never vanish from the new current version."""
    import cosmo_spark.sources.versioned as versioned_mod
    from cosmo_spark.operators.merge import merge_into_path
    from cosmo_spark.sources.versioned import purge_keys, read_current

    def frame(rows):
        return spark.createDataFrame(rows, "k STRING, user_id LONG, ver INT")

    path = str(tmp_path / "events")
    write_snapshot(frame([("a", 1, 1), ("b", 2, 1)]), path)
    late = frame([("c", 3, 1)])

    real_new_tmp = versioned_mod._new_tmp
    deferred: list[Exception] = []

    def merge_between_read_and_publish(table_path):
        # the purge has read its input and is about to stage its output:
        # a rival writer's whole merge attempt happens NOW
        monkeypatch.setattr(versioned_mod, "_new_tmp", real_new_tmp)
        try:
            merge_into_path(spark, table_path, late, "k", "ver")
        except MergeContentionError as e:
            deferred.append(e)
        return real_new_tmp(table_path)

    monkeypatch.setattr(
        versioned_mod, "_new_tmp", merge_between_read_and_publish
    )
    tomb = spark.createDataFrame([(2,)], "user_id LONG")
    purge_keys(spark, path, "user_id", tomb)
    if deferred:   # the rival failed loudly; it retries after the purge
        merge_into_path(spark, path, late, "k", "ver")
    assert {r.k for r in read_current(spark, path).collect()} == {"a", "c"}


def _rich_frame(spark, ids, month="2024-01"):
    """A frame with nested and temporal types, so a schema mismatch shows
    in more than names."""
    import datetime

    rows = [
        (i, month, float(i), datetime.datetime(2024, 1, 1, 0, 0, i),
         [f"t{i}"], (i, f"s{i}"))
        for i in ids
    ]
    return spark.createDataFrame(
        rows,
        "id INT, month STRING, val DOUBLE, ts TIMESTAMP, tags ARRAY<STRING>, "
        "st STRUCT<a: INT, b: STRING>",
    )


def _inferred_schema(spark, path, version):
    """The schema parquet inference gives over a version's data dirs."""
    from cosmo_spark.sources.versioned import _entry_for, _read_manifest

    entry = _entry_for(_read_manifest(path), version, path)
    dirs = [f"v={version}"] if "parts" not in entry else entry["parts"].values()
    return spark.read.parquet(*[os.path.join(path, d) for d in dirs]).schema


@pytest.mark.parametrize("partition_col", [None, "month"])
def test_manifest_schema_reads_match_inference(spark, tmp_path, partition_col):
    """Every published entry records its data files' schema, and reads use
    it: read_current and read_snapshot (current and a pinned old version)
    return exactly the schema inference gives — names, types and
    nullability — without running a Spark job."""
    from cosmo_spark.operators.merge import merge_into_path
    from cosmo_spark.sources.versioned import _read_manifest, read_current

    path = str(tmp_path / "tbl")
    merge_into_path(spark, path, _rich_frame(spark, [1, 2]), "id", "val",
                    partition_col=partition_col)
    merge_into_path(spark, path, _rich_frame(spark, [3], "2024-02"), "id",
                    "val", partition_col=partition_col)
    doc = _read_manifest(path)
    assert all(e.get("schema") for e in doc["versions"])

    jobs = spark.sparkContext._jsc.sc().dagScheduler()
    before = jobs.numTotalJobs()
    reads = {
        "current": read_current(spark, path),
        "snapshot": read_snapshot(spark, path),
        "pinned": read_snapshot(spark, path, 1),
    }
    assert jobs.numTotalJobs() == before, "a manifest-schema read ran a job"
    for name, df in reads.items():
        version = 1 if name == "pinned" else 2
        assert df.schema == _inferred_schema(spark, path, version), name
    assert read_snapshot(spark, path, 1).count() == 2
    assert read_current(spark, path).count() == 3


def test_schema_less_flat_entries_still_read_merge_and_vacuum(spark, tmp_path):
    """A flat manifest written before entries recorded schemas reads
    through inference, and the next merge publishes an entry that carries
    one; vacuum handles the mixed manifest."""
    from cosmo_spark.operators.merge import merge_into_path
    from cosmo_spark.sources.versioned import (
        _manifest_path,
        _read_manifest,
        read_current,
    )
    from cosmo_spark.streaming.logio import write_json_atomic

    path = str(tmp_path / "tbl")
    merge_into_path(spark, path, _rich_frame(spark, [1, 2]), "id", "val")
    merge_into_path(spark, path, _rich_frame(spark, [3]), "id", "val")
    doc = _read_manifest(path)
    for e in doc["versions"]:
        del e["schema"]
    write_json_atomic(_manifest_path(path), doc)

    assert read_current(spark, path).schema == _inferred_schema(spark, path, 2)
    assert sorted(r.id for r in read_current(spark, path).collect()) == [1, 2, 3]
    assert read_snapshot(spark, path, 1).count() == 2

    v3 = merge_into_path(spark, path, _rich_frame(spark, [4]), "id", "val")
    entries = {e["version"]: e for e in _read_manifest(path)["versions"]}
    assert "schema" not in entries[1] and "schema" not in entries[2]
    assert entries[v3]["schema"]
    assert read_current(spark, path).schema == _inferred_schema(spark, path, v3)
    assert sorted(r.id for r in read_current(spark, path).collect()) == [1, 2, 3, 4]

    assert vacuum_snapshots(spark, path, keep_last=1) == [1, 2]
    assert snapshot_versions(path) == [v3]
    assert not os.path.exists(os.path.join(path, "v=1"))
    assert read_current(spark, path).count() == 4
