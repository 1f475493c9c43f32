"""Versioned snapshot tables: immutable versions, time-travel reads, vacuum.

The no-dependency slice of a lakehouse table format, built from the
repo's existing primitives: each publish writes immutable data
directories and then atomically swaps a tiny JSON manifest naming the
current version — readers NEVER list the table directory (half-written
or vacuumed versions are invisible until/after the manifest says so),
and any historical version stays readable until vacuumed (time travel;
``operators/merge.snapshot_diff`` between two versions is CDC).

One store serves both table shapes — the Delta Lake design (Armbrust et
al., VLDB 2020): a version lists the data directories it uses, and an
unpartitioned table is the one-partition case.  Layout::

    table/
      _versions.json                 # {"current": N, "versions": [...]}
      v=N/                           # flat entry {"version": N,
                                     #   "schema": <struct json>}: the
                                     #   whole table, one directory
      parts/g-<pid>-<host>-<uuid8>/  # partitioned entry {"version": N,
                                     #   "parts": {"2024-01": "parts/g-.."},
                                     #   "schema": <struct json>}: one
                                     #   immutable generation = one
                                     #   partition's rows, schema-complete
      v.tmp-...                      # crashed stagers, reaped when dead

Every entry records the schema of its data files, so a read hands it to
the parquet reader instead of running a Spark job to infer it from a
footer.  Flat entries written before the store recorded schemas carry
none and are read with inference.

The manifest is the only commit point: a data directory it does not list
is a crashed publisher's leftover and is reaped, never adopted.  Existing
parquet tables (flat or Hive-layout) enter the store through one explicit
rewrite, ``adopt_table``; a first publish into a directory holding
anything but store entries is refused.

A partitioned merge or purge stages ONLY the affected partitions as new
generations and re-points just those keys; untouched generations are
shared byte-identically by every version that lists them, and vacuum
refcounts them (a directory dies only when no surviving version lists
it).

Partition keys are strings — ``CAST(partition_col AS STRING)``, with NULL
and the empty string both mapped to the Hive default-partition sentinel
(the directory Spark's writer gives both), computed identically on the
staging write (``partitionBy`` on the derived ``__part`` column) and the
affected-set probe, so the two can never disagree.  The key is only a
manifest index: the real typed column rides IN the data files (the
staging column is a duplicate, so ``partitionBy`` dropping it loses
nothing), which is what lets any version read as ONE multi-path parquet
scan with no per-partition union or cast-injection.

Concurrency contract: publishing runs under the same single-writer lock
as the version-guarded merge (operators/merge._table_lock) — a second
concurrent publisher fails LOUDLY with MergeContentionError instead of
interleaving version numbers.  Readers are lock-free: the manifest is a
single file swapped atomically (streaming/logio), so a read sees the old
version or the new one, never a mixture.  On a Delta/Iceberg deployment
this module maps 1:1 onto their transaction log; the semantics (and
tests) carry over unchanged.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import socket
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cosmo_spark.streaming.logio import read_text, write_json_atomic

_MANIFEST = "_versions.json"

#: crashed publishers' tmp dirs older than this are reaped even when their
#: owner pid cannot be checked (another host); a LIVE publisher's tmp is
#: always younger — parquet part files keep landing in it
_TMP_MAX_AGE_S = 24 * 3600

#: manifest key for a NULL or empty-string partition value — the Hive
#: sentinel, so the staging write's directory name and the probe's key
#: string agree
NULL_PART_KEY = "__HIVE_DEFAULT_PARTITION__"

_STAGE_COL = "__part"


def _manifest_path(table_path: str) -> str:
    return os.path.join(table_path, _MANIFEST)


def _read_manifest(table_path: str) -> dict:
    # read_text + json.loads, NOT logio.read_json: a corrupt manifest must
    # fail loudly — read as "no manifest" it would send the next publish's
    # orphan reaper after every published v=N
    text = read_text(_manifest_path(table_path))
    if text is None:
        return {"current": None, "versions": []}
    return json.loads(text)


def _lock(spark: SparkSession, table_path: str):
    from cosmo_spark.operators.merge import _table_lock

    return _table_lock(spark, table_path.rstrip("/"))


def _entry_for(doc: dict, version: int | None, table_path: str) -> dict:
    """The manifest entry of ``version`` (None: current).  Raises
    KeyError for a version the manifest does not carry (never published,
    or vacuumed away)."""
    if doc["current"] is None:
        raise KeyError(f"no published versions under {table_path}")
    v = doc["current"] if version is None else version
    for e in doc["versions"]:
        if e["version"] == v:
            return e
    raise KeyError(
        f"version {v} not available under {table_path} "
        f"(have {[e['version'] for e in doc['versions']]})"
    )


def _current_entry(
    doc: dict, table_path: str, partition_col: str | None
) -> dict | None:
    """The current entry (None for a table with no versions), refusing a
    ``partition_col`` that does not match the table's shape — a flat
    write into a partitioned table (or the reverse) would publish a
    version that silently drops every untouched partition."""
    if doc["current"] is None:
        return None
    entry = _entry_for(doc, None, table_path)
    if ("parts" in entry) != (partition_col is not None):
        raise ValueError(
            f"{table_path} is a {'partitioned' if 'parts' in entry else 'flat'}"
            f" table: partition_col={partition_col!r} does not match it"
        )
    return entry


def _data_dirs(entry: dict, keys=None) -> list[str]:
    """Table-relative data directories of a manifest entry: ``[v=N]`` for
    a flat entry, else the generation dirs of partition ``keys`` (None:
    all)."""
    if "parts" not in entry:
        return [f"v={entry['version']}"]
    return [
        rel for k, rel in entry["parts"].items() if keys is None or k in keys
    ]


def _read_dirs(
    spark: SparkSession, table_path: str, entry: dict, keys=None
) -> DataFrame | None:
    """ONE multi-path parquet scan over an entry's data directories
    (None when the selection is empty), with the entry's recorded schema
    when it has one — no inference job."""
    dirs = _data_dirs(entry, keys)
    if not dirs:
        return None
    reader = spark.read
    if entry.get("schema"):
        reader = reader.schema(_schema_of(entry))
    return reader.parquet(*[os.path.join(table_path, d) for d in dirs])


def _schema_of(entry: dict) -> StructType:
    return StructType.fromJson(json.loads(entry["schema"]))


def _refuse_foreign_locked(table_path: str) -> None:
    """First-publish guard (caller holds the lock; no manifest exists):
    refuse a directory holding anything but store entries — the manifest
    (and its .tmp), ``v=N``, ``v.tmp-*``, ``parts/`` — such as a plain or
    Hive-layout parquet table, instead of publishing beside it."""
    foreign = sorted(
        e for e in os.listdir(table_path)
        if not (e.startswith((_MANIFEST, "v.tmp-")) or e == "parts"
                or re.fullmatch(r"v=\d+", e))
    )
    if foreign:
        raise ValueError(
            f"{table_path} holds {foreign[:3]} but no version manifest: "
            f"rewrite it once into a fresh versioned table via "
            f"sources.versioned.adopt_table"
        )


def _abandoned(entry: str, full: str) -> bool:
    """True when a tmp/generation dir provably belongs to a dead writer:
    the owner pid embedded in the name is dead ON THIS HOST, or the dir
    went untouched for _TMP_MAX_AGE_S (cross-host case).  The host check
    is a substring test, not a capture group — hostnames may themselves
    contain dashes.  A false reap (pid reuse, cross-host pid alias) fails
    that writer's final rename LOUDLY — never silent loss."""
    from cosmo_spark.operators.merge import _pid_alive

    m = re.search(r"(?:^g|tmp)-(\d+)-", entry)
    try:
        age = time.time() - os.path.getmtime(full)
    except OSError:
        return False
    owner_here = m is not None and f"-{socket.gethostname()}-" in entry
    if owner_here and not _pid_alive(int(m.group(1))):
        return True
    return age > _TMP_MAX_AGE_S


def _reap_orphans_locked(table_path: str, doc: dict, keep: str) -> None:
    """Remove crashed publishers' leftovers.  Caller holds the table lock.
    A data directory listed by ANY manifest version is never touched.

    - ``v=N`` dirs the manifest does not list (crash between rename and
      manifest write, a first publish's included — such dirs are only
      ever created inside the lock, so any unknown one is dead) are
      removed.
    - ``v.tmp-*`` dirs may belong to a LIVE publisher writing OUTSIDE the
      lock (write_snapshot), and unlisted ``parts/g-*`` generations to a
      live holder whose lease was broken mid-publish, so both are reaped
      only once provably abandoned (``_abandoned``).
    """
    live = {d for e in doc["versions"] for d in _data_dirs(e)}
    pdir = os.path.join(table_path, "parts")
    if os.path.isdir(pdir):
        for entry in os.listdir(pdir):
            full = os.path.join(pdir, entry)
            if f"parts/{entry}" in live or not os.path.isdir(full):
                continue
            if _abandoned(entry, full):
                shutil.rmtree(full, ignore_errors=True)
    for entry in os.listdir(table_path):
        full = os.path.join(table_path, entry)
        if full == keep or not os.path.isdir(full):
            continue
        if ".tmp-" in entry:
            if _abandoned(entry, full):
                shutil.rmtree(full, ignore_errors=True)
        elif entry.startswith("v=") and entry[2:].isdigit() \
                and entry not in live:
            shutil.rmtree(full, ignore_errors=True)


def _new_tmp(table_path: str) -> str:
    return os.path.join(
        table_path,
        f"v.tmp-{os.getpid()}-{socket.gethostname()}-{uuid.uuid4().hex[:8]}",
    )


def _unescape_dirname(name: str) -> str:
    """Invert Spark/Hive partition-path escaping (%XX hex sequences).
    Unambiguous on Spark-produced names: any literal '%' in the value is
    itself escaped to %25 by the writer."""
    return re.sub(
        "%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name
    )


def _key_expr(partition_col: str):
    return F.coalesce(
        F.nullif(F.col(partition_col).cast("string"), F.lit("")),
        F.lit(NULL_PART_KEY),
    )


def _stage_parts(df: DataFrame, tmp: str, partition_col: str) -> dict:
    """Distributed write of ``df`` into ``tmp`` partitioned by the derived
    string key; returns {key: escaped_subdir}.  The staging column is a
    DUPLICATE of the partition column, so the data files stay
    schema-complete when partitionBy drops it."""
    if _STAGE_COL in df.columns:
        raise ValueError(
            f"versioned partitioned tables reserve the {_STAGE_COL!r} "
            f"column name for staging"
        )
    (
        df.withColumn(_STAGE_COL, _key_expr(partition_col))
        .write.mode("overwrite")
        .partitionBy(_STAGE_COL)
        .parquet(tmp)
    )
    prefix = _STAGE_COL + "="
    return {
        _unescape_dirname(e[len(prefix):]): e
        for e in os.listdir(tmp)
        if e.startswith(prefix)
    }


def _publish_locked(
    table_path: str,
    tmp: str,
    doc: dict,
    guard=None,
    staged: dict[str, str] | None = None,
    replaced=frozenset(),
    schema: str | None = None,
) -> int:
    """The in-lock half of a publish: reap dead orphans, move the staged
    data into place, bump the manifest.  ``schema`` (struct json) is the
    staged data files' schema, recorded in the new entry.

    Flat (``staged`` None): ``tmp`` is the whole table and renames to
    ``v=N``.  Partitioned: each ``staged`` {key: subdir of tmp} becomes a
    new generation, untouched keys carry forward from the current entry,
    and a key in ``replaced`` with NO staged dir disappears (a fully
    purged partition).

    ``guard`` (operators/merge LockGuard) provides FENCING: ownership is
    re-verified before the destructive reap and again immediately before
    the manifest commit, so a holder whose lease was broken while it was
    paused aborts LOUDLY here instead of committing over its successor's
    state (r9 self-review #2/#3).  A table's first publish runs
    ``_refuse_foreign_locked`` before anything is reaped or moved."""
    if guard is not None:
        guard.verify()
    if doc["current"] is None:
        _refuse_foreign_locked(table_path)
    version = (doc["current"] or 0) + 1
    _reap_orphans_locked(table_path, doc, keep=tmp)
    if staged is None:
        os.replace(tmp, os.path.join(table_path, f"v={version}"))
        entry = {"version": version, "schema": schema}
    else:
        cur = (
            _entry_for(doc, None, table_path)["parts"] if doc["current"] else {}
        )
        parts = {k: rel for k, rel in cur.items() if k not in replaced}
        os.makedirs(os.path.join(table_path, "parts"), exist_ok=True)
        for key, escdir in staged.items():
            rel = (
                f"parts/g-{os.getpid()}-{socket.gethostname()}-"
                f"{uuid.uuid4().hex[:8]}"
            )
            os.replace(os.path.join(tmp, escdir), os.path.join(table_path, rel))
            parts[key] = rel
        shutil.rmtree(tmp, ignore_errors=True)   # _SUCCESS and friends
        entry = {"version": version, "parts": parts, "schema": schema}
    doc["versions"].append(entry)
    doc["current"] = version
    if guard is not None:
        guard.verify()   # the commit point
    write_json_atomic(_manifest_path(table_path), doc)
    return version


def _stage_and_publish_locked(
    table_path: str,
    doc: dict,
    df: DataFrame,
    guard,
    partition_col: str | None = None,
    replaced=frozenset(),
    schema: str | None = None,
) -> int:
    """Write ``df`` as the table's next version inside the caller's lock
    (the read-merge-write of a merge or purge must be atomic; the lease
    heartbeat covers the distributed write).  A failed write or publish
    never leaks its tmp."""
    tmp = _new_tmp(table_path)
    schema = schema or df.schema.json()
    try:
        if partition_col is None:
            df.write.mode("overwrite").parquet(tmp)
            return _publish_locked(table_path, tmp, doc, guard, schema=schema)
        staged = _stage_parts(df, tmp, partition_col)
        return _publish_locked(
            table_path, tmp, doc, guard, staged, replaced, schema
        )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def write_snapshot(df: DataFrame, table_path: str) -> int:
    """Publish ``df`` as the next immutable version of a FLAT table;
    returns the new version id.

    The expensive distributed parquet write runs OUTSIDE the table lock
    (round-8 review #1): a slow publish no longer serializes other
    writers — the lock covers only the reap + rename + manifest bump,
    microseconds of work kept alive by the lock's heartbeat.  Crash-safe:
    data lands under a pid/host-stamped tmp name, renames to ``v=N``
    inside the lock, and only the final manifest swap makes it current —
    a crash leaves the previous version serving and at most one orphaned
    tmp (reaped by a later publisher once provably abandoned).  Version
    ids are assigned AT PUBLISH, so of two overlapping writers the one
    that reaches the lock first gets the lower version."""
    spark = df.sparkSession
    os.makedirs(table_path, exist_ok=True)
    tmp = _new_tmp(table_path)
    df.write.mode("overwrite").parquet(tmp)
    try:
        with _lock(spark, table_path) as guard:
            doc = _read_manifest(table_path)
            _current_entry(doc, table_path, None)
            return _publish_locked(
                table_path, tmp, doc, guard, schema=df.schema.json()
            )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)   # contention must not leak
        raise


def read_current(spark: SparkSession, table_path: str) -> DataFrame:
    """Read the table's current state: the manifest-pinned current
    version of a versioned table of either shape, or a plain parquet read
    of a directory with no manifest (an unversioned input table) — the
    reader for every table a merge may maintain (runner ingest and
    monitor inputs, streaming ingest)."""
    if _read_manifest(table_path)["current"] is not None:
        return read_snapshot(spark, table_path)
    return spark.read.parquet(table_path)


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    partitions=None,
) -> DataFrame:
    """Read the current (default) or a pinned historical version as ONE
    multi-path parquet scan.  ``partitions`` (iterable of partition
    VALUES; partitioned tables only) prunes at the MANIFEST — the
    file-skipping shape table formats use, no directory listing, no
    union plan.  Raises KeyError for a version the manifest does not
    carry (never published, or vacuumed away)."""
    entry = _entry_for(_read_manifest(table_path), version, table_path)
    keys = None
    if partitions is not None:
        if "parts" not in entry:
            raise ValueError(f"{table_path} is a flat table: no partitions")
        keys = {
            NULL_PART_KEY if p is None or p == "" else str(p)
            for p in partitions
        }
    df = _read_dirs(spark, table_path, entry, keys)
    if df is None:
        return spark.createDataFrame([], _schema_of(entry))
    return df


def snapshot_versions(table_path: str) -> list[int]:
    """Published, readable version ids (ascending)."""
    return [e["version"] for e in _read_manifest(table_path)["versions"]]


def partition_keys(table_path: str, version: int | None = None) -> list[str]:
    """The partition keys (string form) live in a version — sorted."""
    doc = _read_manifest(table_path)
    return sorted(_entry_for(doc, version, table_path).get("parts", {}))


def vacuum_snapshots(
    spark: SparkSession, table_path: str, keep_last: int = 1
) -> list[int]:
    """Drop all but the newest ``keep_last`` versions; returns the ids
    removed.  Runs under the table's writer lock (review r8): vacuum is
    a manifest read-modify-write, and unlocked it could race a publish
    and write back a stale manifest missing the fresh version — whose
    directory the next publisher's orphan reaper would then DELETE.
    Manifest-first within the lock (a version disappears from the
    manifest BEFORE its files go), so a lock-free reader either pinned
    the version while it was still listed — the files are deleted after
    and an in-flight Spark job may fail loudly, the documented
    snapshot-retention trade every table format shares — or it no longer
    sees the version at all.  Never touches the current version."""
    with _lock(spark, table_path) as guard:
        doc = _read_manifest(table_path)
        return _vacuum_locked(table_path, doc, keep_last, guard)


def _vacuum_locked(
    table_path: str, doc: dict, keep_last: int, guard=None
) -> list[int]:
    """The in-lock half of vacuum — also called by merge_into_path's
    retention (operators/merge, r9 self-review #4: an unbounded
    per-micro-batch version history must be vacuumable in the same lock
    acquisition as the merge that created it).  Data directories are
    REFCOUNTED: one is deleted only when no surviving version lists it —
    the property that makes shared-generation time travel safe to
    vacuum."""
    if len(doc["versions"]) <= keep_last:
        return []
    drop = doc["versions"][:-keep_last]
    doc["versions"] = doc["versions"][-keep_last:]
    if guard is not None:
        guard.verify()
    write_json_atomic(_manifest_path(table_path), doc)
    live = {d for e in doc["versions"] for d in _data_dirs(e)}
    for e in drop:
        for d in _data_dirs(e):
            if d not in live:
                shutil.rmtree(os.path.join(table_path, d), ignore_errors=True)
    return [e["version"] for e in drop]


def purge_keys(
    spark: SparkSession,
    table_path: str,
    key_col: str,
    tombstones: DataFrame,
    partition_col: str | None = None,
) -> int:
    """Right-to-be-forgotten delete: publish a new version of the table
    with every row whose ``key_col`` appears in ``tombstones`` removed
    (broadcast left-anti join — a deletion-request table is always
    request-sized).  Returns the new version id; on a partitioned table
    (``partition_col`` given) only the partitions holding tombstoned
    keys are rewritten, every other generation stays shared, a partition
    whose every row is purged disappears, and no affected partition
    publishes nothing (returns the current id).

    The read, anti-join, stage and publish run under ONE table lock: a
    merge published between the purge's read and its publish would
    otherwise be silently missing from the new current version.

    Versioning is what makes this auditable AND completable:
    ``operators.merge.snapshot_diff(pre, post)`` is the per-key deletion
    audit a compliance pipeline records, and ``vacuum_snapshots`` with the
    pre-purge versions dropped is the step that makes the data PHYSICALLY
    gone (time travel deliberately keeps it until then — the retention
    window the regulation allows for rollback safety).
    """
    keys = tombstones.select(key_col).distinct().persist()
    try:
        with _lock(spark, table_path) as guard:
            doc = _read_manifest(table_path)
            entry = _current_entry(doc, table_path, partition_col)
            if entry is None:
                raise KeyError(f"no published versions under {table_path}")
            affected = None
            if partition_col is not None:
                whole = _read_dirs(spark, table_path, entry)
                if whole is None:
                    return doc["current"]
                # column-pruned probe: only (key, partition) leave the scan
                affected = {
                    r.k
                    for r in whole.join(F.broadcast(keys), key_col, "left_semi")
                    .select(_key_expr(partition_col).alias("k"))
                    .distinct()
                    .collect()
                }
                if not affected:
                    return doc["current"]
            kept = _read_dirs(spark, table_path, entry, affected).join(
                F.broadcast(keys), key_col, "left_anti"
            )
            return _stage_and_publish_locked(
                table_path, doc, kept, guard, partition_col, affected,
                entry.get("schema"),
            )
    finally:
        keys.unpersist()


def adopt_table(
    spark: SparkSession,
    table_path: str,
    source_path: str,
    partition_col: str | None = None,
) -> int:
    """The one way an existing parquet table enters the store: read
    ``source_path`` (flat, or Hive layout — read with basePath so Spark
    re-materializes the partition column) and rewrite it through the
    standard staging path as v1 of the fresh table ``table_path``, flat
    or partitioned by ``partition_col``.  A REWRITE by design: Hive-layout
    files lack the in-file partition column every multi-path read relies
    on, and the untouched source makes a failed adoption safe to rerun.
    Refuses a ``table_path`` that already has versions or is the source.
    """
    if os.path.realpath(table_path) == os.path.realpath(source_path):
        raise ValueError("adopt_table: table_path must differ from source_path")
    os.makedirs(table_path, exist_ok=True)
    with _lock(spark, table_path) as guard:
        doc = _read_manifest(table_path)
        if doc["current"] is not None:
            raise RuntimeError(
                f"{table_path} already has published versions — adopt "
                f"only into a fresh table"
            )
        src = spark.read.option("basePath", source_path).parquet(source_path)
        if partition_col is not None and partition_col not in src.columns:
            raise ValueError(f"{source_path} has no {partition_col!r} column")
        return _stage_and_publish_locked(
            table_path, doc, src, guard, partition_col
        )
