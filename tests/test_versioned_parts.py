"""Partition-granular snapshot store (round-10 #2): the partitioned merge
gains time travel, CDC audit and physical purge WITHOUT rewriting
untouched partitions — untouched generation directories are shared
byte-identically across versions, and vacuum refcounts them.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from cosmo_spark.operators.merge import merge_into_path, snapshot_diff
from cosmo_spark.sources.versioned import (
    NULL_PART_KEY,
    _read_manifest,
    partition_keys,
    purge_keys,
    read_current,
    read_snapshot,
    snapshot_versions,
    vacuum_snapshots,
)

SCHEMA = "k STRING, ver INT, month STRING, payload STRING"


def _base(spark):
    return spark.createDataFrame(
        [("k1", 1, "2024-01", "a"), ("k2", 1, "2024-01", "b"),
         ("k3", 1, "2024-02", "c"), ("k4", 1, "2024-02", "d")],
        SCHEMA,
    )


def _state(df):
    return {r.k: (r.ver, r.month, r.payload) for r in df.collect()}


def test_merge_shares_untouched_generations(spark, tmp_path):
    """An update touching only January re-points January's manifest key;
    February's generation directory is the SAME path in both versions
    with untouched mtimes (shared, not copied)."""
    path = str(tmp_path / "tbl")
    v1 = merge_into_path(spark, path, _base(spark), "k", "ver", "month")
    updates = spark.createDataFrame(
        [("k1", 2, "2024-01", "a2"), ("k9", 1, "2024-01", "new"),
         ("k1", 0, "2024-01", "stale")],
        SCHEMA,
    )
    doc1 = _read_manifest(path)
    feb_rel = doc1["versions"][0]["parts"]["2024-02"]
    feb_mtimes = {
        f: os.path.getmtime(os.path.join(path, feb_rel, f))
        for f in os.listdir(os.path.join(path, feb_rel))
    }
    v2 = merge_into_path(spark, path, updates, "k", "ver", "month")
    assert (v1, v2) == (1, 2)
    doc2 = _read_manifest(path)
    p1 = {e["version"]: e["parts"] for e in doc2["versions"]}
    assert p1[1]["2024-02"] == p1[2]["2024-02"]          # shared generation
    assert p1[1]["2024-01"] != p1[2]["2024-01"]          # re-pointed
    assert feb_mtimes == {
        f: os.path.getmtime(os.path.join(path, feb_rel, f))
        for f in os.listdir(os.path.join(path, feb_rel))
    }
    assert _state(read_current(spark, path)) == {
        "k1": (2, "2024-01", "a2"), "k2": (1, "2024-01", "b"),
        "k3": (1, "2024-02", "c"), "k4": (1, "2024-02", "d"),
        "k9": (1, "2024-01", "new"),
    }


def test_time_travel_and_cdc_match_applied_updates(spark, tmp_path):
    """The verdict's done-criteria verbatim: read_snapshot(pre)
    returns the OLD rows after a partitioned merge, and snapshot_diff
    equals the applied updates."""
    path = str(tmp_path / "tbl")
    merge_into_path(spark, path, _base(spark), "k", "ver", "month")
    updates = spark.createDataFrame(
        [("k1", 2, "2024-01", "a2"), ("k9", 1, "2024-01", "new")], SCHEMA
    )
    merge_into_path(spark, path, updates, "k", "ver", "month")
    assert _state(read_snapshot(spark, path, version=1)) == _state(
        _base(spark)
    )
    diff = {
        r.k: r.change_type
        for r in snapshot_diff(
            read_snapshot(spark, path, version=1),
            read_snapshot(spark, path, version=2),
            "k",
        ).collect()
    }
    assert diff == {"k1": "update", "k9": "insert"}


def test_empty_updates_noop_and_manifest_pruned_read(spark, tmp_path):
    path = str(tmp_path / "tbl")
    v1 = merge_into_path(spark, path, _base(spark), "k", "ver", "month")
    v_same = merge_into_path(
        spark, path, _base(spark).limit(0), "k", "ver", "month"
    )
    assert (v1, v_same) == (1, 1)
    jan = read_snapshot(spark, path, partitions=["2024-01"])
    assert {r.k for r in jan.collect()} == {"k1", "k2"}
    assert partition_keys(path) == ["2024-01", "2024-02"]
    with pytest.raises(KeyError):
        read_snapshot(spark, path, version=7)


def test_null_int_and_date_partition_values_roundtrip(spark, tmp_path):
    """NULL and "" map to the Hive sentinel key; int and date keys match
    their Spark cast-to-string form, so manifest pruning by VALUE works."""
    path = str(tmp_path / "tnull")
    df = spark.createDataFrame(
        [("a", 1, None, "x"), ("b", 1, "2024-03", "y")], SCHEMA
    )
    merge_into_path(spark, path, df, "k", "ver", "month")
    assert partition_keys(path) == ["2024-03", NULL_PART_KEY]
    got = read_snapshot(spark, path, partitions=[None])
    assert [(r.k, r.month) for r in got.collect()] == [("a", None)]

    path2 = str(tmp_path / "tint")
    di = spark.createDataFrame(
        [("a", 1, 7, "x"), ("b", 1, 12, "y")],
        "k STRING, ver INT, bucket INT, payload STRING",
    )
    merge_into_path(spark, path2, di, "k", "ver", "bucket")
    assert partition_keys(path2) == ["12", "7"]
    assert {r.k for r in
            read_snapshot(spark, path2, partitions=[7]).collect()} == {"a"}
    # the typed column survives IN the data files
    assert dict(read_snapshot(spark, path2).dtypes)["bucket"] == "int"

    path3 = str(tmp_path / "tdate")
    dd = spark.createDataFrame(
        [("a", 1, datetime.date(2024, 1, 2), "x")],
        "k STRING, ver INT, day DATE, payload STRING",
    )
    merge_into_path(spark, path3, dd, "k", "ver", "day")
    assert partition_keys(path3) == ["2024-01-02"]
    assert (
        read_snapshot(
            spark, path3, partitions=[datetime.date(2024, 1, 2)]
        ).count()
        == 1
    )

    # "" shares the sentinel partition with NULL (Spark's writer puts both
    # in it), so one batch may hold both, and merges, the version guard,
    # pruned reads and purges all see that partition's rows
    path4 = str(tmp_path / "tempty")
    both = spark.createDataFrame([("a", 1, "", "x"), ("n", 1, None, "y")], SCHEMA)
    merge_into_path(spark, path4, both, "k", "ver", "month")
    assert partition_keys(path4) == [NULL_PART_KEY]
    for ver, payload in ((1, "b1"), (0, "stale")):
        upd = spark.createDataFrame([("b", ver, "", payload)], SCHEMA)
        merge_into_path(spark, path4, upd, "k", "ver", "month")
    want = {"a": (1, "", "x"), "n": (1, None, "y"), "b": (1, "", "b1")}
    assert _state(read_snapshot(spark, path4)) == want
    assert _state(read_snapshot(spark, path4, partitions=[""])) == want
    tomb = spark.createDataFrame([("a",)], "k STRING")
    purge_keys(spark, path4, "k", tomb, "month")
    assert set(_state(read_current(spark, path4))) == {"n", "b"}


def test_purge_rewrites_only_affected_and_drops_empty_partition(
    spark, tmp_path
):
    """q151-class purge on the partitioned store: only partitions holding
    tombstoned keys get new generations, a fully-purged partition
    disappears from the manifest, no tombstoned row survives, and the
    CDC audit sees exactly the deleted keys."""
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("k1", 1, "2024-01", "a"), ("k2", 1, "2024-01", "b"),
         ("k3", 1, "2024-02", "c"), ("k4", 1, "2024-03", "d")],
        SCHEMA,
    )
    merge_into_path(spark, path, base, "k", "ver", "month")
    doc1 = _read_manifest(path)
    parts1 = doc1["versions"][0]["parts"]
    tomb = spark.createDataFrame([("k1",), ("k3",)], "k STRING")
    v2 = purge_keys(spark, path, "k", tomb, "month")
    assert v2 == 2
    parts2 = {
        e["version"]: e["parts"]
        for e in _read_manifest(path)["versions"]
    }[2]
    assert parts2["2024-03"] == parts1["2024-03"]        # untouched, shared
    assert parts2["2024-01"] != parts1["2024-01"]        # rewritten
    assert "2024-02" not in parts2                       # fully purged
    assert _state(read_snapshot(spark, path)) == {
        "k2": (1, "2024-01", "b"), "k4": (1, "2024-03", "d"),
    }
    diff = {
        r.k: r.change_type
        for r in snapshot_diff(
            read_snapshot(spark, path, version=1),
            read_snapshot(spark, path, version=2),
            "k",
        ).collect()
    }
    assert diff == {"k1": "delete", "k3": "delete"}
    # no-op purge publishes nothing
    ghost = spark.createDataFrame([("nope",)], "k STRING")
    assert purge_keys(spark, path, "k", ghost, "month") == 2


def test_vacuum_refcounts_shared_generations(spark, tmp_path):
    """Vacuuming the pre-merge version deletes ONLY generations no
    surviving version references; shared ones stay readable, and the
    purged partition's bytes are physically gone."""
    path = str(tmp_path / "tbl")
    merge_into_path(spark, path, _base(spark), "k", "ver", "month")
    upd = spark.createDataFrame([("k1", 2, "2024-01", "a2")], SCHEMA)
    merge_into_path(spark, path, upd, "k", "ver", "month")
    parts_by_v = {
        e["version"]: e["parts"]
        for e in _read_manifest(path)["versions"]
    }
    jan_old = parts_by_v[1]["2024-01"]
    feb_shared = parts_by_v[1]["2024-02"]
    removed = vacuum_snapshots(spark, path, keep_last=1)
    assert removed == [1]
    assert not os.path.isdir(os.path.join(path, jan_old))      # exclusive: gone
    assert os.path.isdir(os.path.join(path, feb_shared))       # shared: kept
    assert snapshot_versions(path) == [2]
    with pytest.raises(KeyError):
        read_snapshot(spark, path, version=1)
    assert _state(read_snapshot(spark, path))["k1"] == (2, "2024-01", "a2")


def test_abandoned_generation_reaped_next_publish(spark, tmp_path):
    """A generation dir from a crashed stager (dead pid on this host,
    unreferenced by any version) is reaped by the next publish; a
    referenced generation with the same naming is never touched."""
    import socket

    path = str(tmp_path / "tbl")
    merge_into_path(spark, path, _base(spark), "k", "ver", "month")
    host = socket.gethostname()
    orphan = os.path.join(path, "parts", f"g-999999999-{host}-deadbeef")
    os.makedirs(orphan)
    merge_into_path(
        spark, path,
        spark.createDataFrame([("k1", 2, "2024-01", "a2")], SCHEMA),
        "k", "ver", "month",
    )
    assert not os.path.isdir(orphan)
    # every referenced generation survived
    for e in _read_manifest(path)["versions"]:
        for rel in e["parts"].values():
            assert os.path.isdir(os.path.join(path, rel))


def test_concurrent_writer_blocked_by_lease(spark, tmp_path):
    """Two overlapping merges serialize on the table lease: versions come
    out 1, 2 and both batches land — no lost update."""
    path = str(tmp_path / "tbl")
    merge_into_path(spark, path, _base(spark), "k", "ver", "month")
    a = spark.createDataFrame([("k1", 2, "2024-01", "A")], SCHEMA)
    b = spark.createDataFrame([("k1", 3, "2024-01", "B")], SCHEMA)
    va = merge_into_path(spark, path, a, "k", "ver", "month")
    vb = merge_into_path(spark, path, b, "k", "ver", "month")
    assert (va, vb) == (2, 3)
    assert _state(read_snapshot(spark, path))["k1"] == (3, "2024-01", "B")


def test_crash_between_rename_and_manifest_preserves_old_version(
    spark, tmp_path, monkeypatch
):
    """Crash injection at the worst point: generations renamed into
    parts/ but the manifest write dies.  The table must keep serving the
    old version, and the next successful merge must reap the orphaned
    generations and publish cleanly."""
    import cosmo_spark.sources.versioned as vp

    path = str(tmp_path / "tbl")
    merge_into_path(spark, path, _base(spark), "k", "ver", "month")
    state_v1 = _state(read_snapshot(spark, path))

    real_write = vp.write_json_atomic
    calls = {"n": 0}

    def dying_write(p, doc):
        calls["n"] += 1
        raise RuntimeError("injected crash before manifest commit")

    monkeypatch.setattr(vp, "write_json_atomic", dying_write)
    upd = spark.createDataFrame([("k1", 2, "2024-01", "a2")], SCHEMA)
    with pytest.raises(RuntimeError, match="injected"):
        merge_into_path(spark, path, upd, "k", "ver", "month")
    monkeypatch.setattr(vp, "write_json_atomic", real_write)

    # old version still serves; the orphan generation exists but is
    # invisible (manifest never adopted it)
    assert _state(read_snapshot(spark, path)) == state_v1
    doc = _read_manifest(path)
    assert doc["current"] == 1
    referenced = {rel for e in doc["versions"] for rel in e["parts"].values()}
    orphans = {
        f"parts/{e}" for e in os.listdir(os.path.join(path, "parts"))
    } - referenced
    assert orphans, "the crash must have left unadopted generations"

    # next merge (same process — owner pid alive, so the orphans are NOT
    # provably abandoned yet; age them artificially) reaps and publishes
    old = __import__("time").time() - 100 * 3600
    for rel in orphans:
        os.utime(os.path.join(path, rel), (old, old))
    v = merge_into_path(spark, path, upd, "k", "ver", "month")
    assert v == 2
    assert _state(read_snapshot(spark, path))["k1"] == (2, "2024-01", "a2")
    for rel in orphans:
        assert not os.path.isdir(os.path.join(path, rel))


def test_adopt_hive_layout_table(spark, tmp_path):
    """Migration path from the in-place Hive-layout writer: adopt
    rewrites through staging (files gain the in-file partition column),
    publishes v1 identical row-for-row, and the adopted table then
    merges/travels like a native one.  Double adoption fails loudly."""
    from cosmo_spark.sources.versioned import adopt_table

    hive = str(tmp_path / "hive")
    _base(spark).write.partitionBy("month").parquet(hive)

    path = str(tmp_path / "vp")
    v1 = adopt_table(spark, path, hive, "month")
    assert v1 == 1
    assert _state(read_snapshot(spark, path)) == _state(_base(spark))
    assert partition_keys(path) == ["2024-01", "2024-02"]
    # in-file partition column present (the multi-path-read contract)
    assert "month" in read_snapshot(spark, path).columns

    upd = spark.createDataFrame([("k1", 2, "2024-01", "a2")], SCHEMA)
    assert merge_into_path(spark, path, upd, "k", "ver", "month") == 2
    assert _state(read_snapshot(spark, path, version=1)) == _state(
        _base(spark)
    )
    with pytest.raises(RuntimeError, match="already has published"):
        adopt_table(spark, path, hive, "month")
