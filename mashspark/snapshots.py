"""Versioned snapshot log over parquet — the Iceberg table-format
discipline (north rule: "per-partition lineage + metrics written
alongside each Iceberg snapshot") implemented directly, since this
sandbox ships no Iceberg runtime.

The model is Iceberg's, scoped to what the engine needs:

* **data files are immutable** — every commit writes a fresh
  ``data/<uuid>/`` parquet directory and never touches prior ones
  (contrast ``io.run_checkpointed``, whose resume-oriented bucket store
  overwrites in place and keeps only the latest state);
* a **snapshot** is a JSON manifest ``_snapshots/v<N>.json`` listing the
  data directories visible at that version, the operation that produced
  it (append / overwrite), the parent version, and a summary block
  (row count, input lineage, caller metrics — the analog of Iceberg's
  snapshot summary properties);
* the **current version** is an atomic, monotonic pointer file
  (``_snapshots/CURRENT``, ``os.replace`` under a lock file) — readers
  never see a torn table. A writer killed before its data write leaves
  only orphaned (harmless, expirable) data files; one killed between
  snapshot publish and pointer swap leaves a COMPLETE pending snapshot
  (published atomically via temp-file + hard-link) that the next
  committer adopts after a bounded wait, finishing the swap on its
  behalf;
* **conflict detection**: committers contend for EXACTLY parent+1 via
  hard-link-exclusive snapshot publish — never skipping past a taken
  version, so a pending winner's rows can never be dropped from a later
  snapshot's ancestry (no lost updates) — single-table optimistic
  concurrency, the simplified form of Iceberg's commit protocol. An
  ``append`` loser waits for the winner's pointer swap and retries
  against the winner's file list (its data is state-independent); a
  ``merge`` loser raises ``ConcurrentCommitError`` because its merged
  relation was computed from the pre-race table and committing it would
  erase the winner's rows — the caller re-runs the merge; ``overwrite``
  is last-writer-wins by definition;
* **time travel**: ``read_table(..., version=N)`` reads any retained
  snapshot's file list; ``expire_snapshots`` is the maintenance job
  that prunes history and deletes data directories no retained
  snapshot references.

On a real cluster this module is replaced by
``df.writeTo(table).append()`` / ``.overwritePartitions()`` against a
catalog-backed Iceberg table — the API surface here (append /
overwrite / history / time travel / expire) maps one-to-one, which is
the point: pipelines written against it carry over.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import time
import uuid
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

# how long a committer waits for a pending winner (snapshot file created,
# pointer not yet swapped) to finish before ADOPTING its commit --
# completing the pointer swap on the (presumed dead) writer's behalf
ADOPT_TIMEOUT_S = 2.0
_ADOPT_POLL_S = 0.05


def _snap_dir(table_path: str) -> str:
    return os.path.join(table_path, "_snapshots")


def _current_path(table_path: str) -> str:
    return os.path.join(_snap_dir(table_path), "CURRENT")


def _snap_path(table_path: str, version: int) -> str:
    return os.path.join(_snap_dir(table_path), f"v{version:05d}.json")


def current_version(table_path: str) -> int | None:
    """Version the CURRENT pointer names, or None for an empty table."""
    try:
        with open(_current_path(table_path)) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return None


def snapshot(table_path: str, version: int) -> dict:
    with open(_snap_path(table_path, version)) as fh:
        return json.load(fh)


def snapshots(table_path: str) -> list[dict]:
    """All retained snapshots, oldest first (the table history)."""
    sd = _snap_dir(table_path)
    if not os.path.isdir(sd):
        return []
    out = []
    for f in sorted(os.listdir(sd)):
        if f.startswith("v") and f.endswith(".json"):
            with open(os.path.join(sd, f)) as fh:
                out.append(json.load(fh))
    return out


class ConcurrentCommitError(RuntimeError):
    """A merge lost its optimistic-concurrency race: the table advanced
    past the version the merged relation was computed against. The
    caller must re-run the merge against the new CURRENT (the data it
    wrote is discarded; nothing was committed)."""


def _advance_pointer(table_path: str, version: int) -> None:
    """Monotonic CURRENT swap under a lock file: the pointer only moves
    FORWARD, so a slow writer finishing after a helper adopted its
    commit (and others committed on top) can never regress CURRENT to
    an older version — which would make already-committed rows vanish
    from readers until the next commit. flock is single-host, which is
    this module's scope; on a real cluster the catalog's compare-and-
    swap (Iceberg) replaces this whole file."""
    lock_path = os.path.join(_snap_dir(table_path), "LOCK")
    with open(lock_path, "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        cur = current_version(table_path)
        if cur is not None and cur >= version:
            return
        tmp = f"{_current_path(table_path)}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, _current_path(table_path))


def _publish_snapshot(table_path: str, version: int, entry: dict) -> bool:
    """Atomically publish a COMPLETE snapshot file for ``version``:
    write to a temp name, hard-link into place (link fails with EEXIST
    if the version is taken — O_EXCL semantics, but the visible file is
    never torn: a writer killed mid-publish leaves only a temp file).
    Returns False if another committer holds the version."""
    tmp = os.path.join(_snap_dir(table_path),
                       f".tmp-v{version}-{os.getpid()}-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(entry, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, _snap_path(table_path, version))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _iso_local(epoch_s: float) -> str:
    """Local time as fixed-width ISO with microseconds. Fixed width keeps
    string order equal to time order, also against the second-resolution
    ``committed_at`` of snapshots written before microseconds were
    stamped ('...:05' < '...:05.000001')."""
    return datetime.fromtimestamp(epoch_s).strftime("%Y-%m-%dT%H:%M:%S.%f")


def _commit(spark: SparkSession, df: DataFrame, table_path: str,
            operation: str, summary: dict | None,
            retries: int = 5, expected_parent: int | None | str = "any",
            adopt_timeout: float = ADOPT_TIMEOUT_S) -> int:
    """Write immutable data, then commit the snapshot. The data write
    happens ONCE; only the (cheap, metadata-level) commit step retries
    on a version race.

    Commit protocol (no lost updates): contend for EXACTLY parent+1 —
    never skip past a taken version. A version file that exists while
    CURRENT is still behind is a pending winner (created its snapshot,
    hasn't swapped the pointer yet); skipping it and committing
    parent's file list would drop the winner's rows from the new
    snapshot's ancestry (the round-4 lost-update window). Instead the
    loser WAITS for CURRENT to reach the pending version, and after
    ``adopt_timeout`` assumes the writer died between publish and swap
    and adopts the commit — advancing the pointer on its behalf (safe:
    published snapshot files are complete by construction, see
    ``_publish_snapshot``) — then recomputes parent/files and retries
    on top.

    ``expected_parent``: for operations whose DATA was computed from a
    specific table version (merge), the version the caller read. If the
    table has advanced past it (including via a just-adopted pending
    winner), committing would silently drop the winner's rows — raise
    ``ConcurrentCommitError`` instead and discard the data dir.
    ``"any"`` (append/overwrite) skips the check: append re-reads the
    winner's file list each retry, and overwrite replaces the table
    regardless of prior state (last-writer-wins by definition)."""
    data_dir = os.path.join(table_path, "data", uuid.uuid4().hex)
    df.write.parquet(data_dir)
    n_rows = spark.read.parquet(data_dir).count()
    os.makedirs(_snap_dir(table_path), exist_ok=True)
    lineage = ", ".join(str(p) for p in df.inputFiles()[:8]) or "<in-memory>"
    for _ in range(max(1, retries)):
        parent = current_version(table_path)
        if expected_parent != "any" and parent != expected_parent:
            shutil.rmtree(data_dir, ignore_errors=True)
            raise ConcurrentCommitError(
                f"{operation} to {table_path} computed against version "
                f"{expected_parent} but CURRENT is now {parent}; re-run "
                f"the {operation} against the new table state")
        if operation == "append" and parent is not None:
            files = snapshot(table_path, parent)["files"]
        else:
            files = []
        version = (parent or 0) + 1
        entry = {
            "version": version,
            "parent": parent,
            "operation": operation,
            "files": files + [os.path.relpath(data_dir, table_path)],
            "summary": {
                "n_rows_written": n_rows,
                "input": lineage,
                "committed_at": _iso_local(time.time()),
                **(summary or {}),
            },
        }
        if _publish_snapshot(table_path, version, entry):
            _advance_pointer(table_path, version)
            return version
        # version taken by a pending winner: wait for its pointer swap,
        # then adopt if it never comes (writer died post-publish)
        deadline = time.monotonic() + adopt_timeout
        while (current_version(table_path) or 0) < version:
            if time.monotonic() >= deadline:
                _advance_pointer(table_path, version)
                break
            time.sleep(_ADOPT_POLL_S)
    raise RuntimeError(
        f"snapshot commit to {table_path} lost {retries} version races")


def commit_append(spark: SparkSession, df: DataFrame, table_path: str,
                  summary: dict | None = None) -> int:
    """New snapshot = parent's files + this write's files."""
    return _commit(spark, df, table_path, "append", summary)


def commit_overwrite(spark: SparkSession, df: DataFrame, table_path: str,
                     summary: dict | None = None) -> int:
    """New snapshot = this write's files only (full-table replace at the
    metadata level; prior data stays readable via time travel until
    expired)."""
    return _commit(spark, df, table_path, "overwrite", summary)


def commit_merge(spark: SparkSession, updates: DataFrame, table_path: str,
                 key_col: str, summary: dict | None = None) -> int:
    """Copy-on-write MERGE (the Iceberg ``MERGE INTO`` analog, upsert
    form): rows of the current table whose ``key_col`` appears in
    ``updates`` are replaced, new keys are inserted, everything else is
    carried over. The re-crawl shape: upsert each crawl's pages by
    canonical URL and time-travel across crawls.

    Copy-on-write = the merged relation is rewritten as one new
    overwrite snapshot. One anti-join (hash-partitioned on the key;
    broadcast when updates are small — AQE decides) + one union; the
    prior snapshot stays readable until expired. Scale note: rewriting
    the whole table per merge is the COW trade-off — at Iceberg scale
    merge-on-read deletes bound the rewrite to touched partitions;
    partition the table (e.g. by key bucket) and merge per-partition to
    get the same bound here."""
    base = current_version(table_path)
    if base is None:
        return _commit(spark, updates, table_path, "merge", summary,
                       expected_parent=None)
    cur = read_table(spark, table_path, version=base)
    keys = updates.select(key_col).distinct()
    merged = cur.join(keys, key_col, "left_anti").unionByName(updates)
    # the merged relation embodies the table AT ``base``: committing it
    # after a concurrent commit would erase that winner's rows, so the
    # commit pins expected_parent and raises ConcurrentCommitError on a
    # race (caller re-runs the merge) rather than losing the update
    return _commit(spark, merged, table_path, "merge", summary,
                   expected_parent=base)


def version_as_of(table_path: str, ts) -> int:
    """Iceberg ``FOR TIMESTAMP AS OF`` analog: the highest version in
    CURRENT's ancestry whose commit time is <= ``ts`` (ISO
    'YYYY-mm-ddTHH:MM:SS[.ffffff]' string, or epoch seconds). Raises
    ``ValueError`` when the table has no snapshot that old."""
    if isinstance(ts, (int, float)):
        ts = _iso_local(ts)
    cur = current_version(table_path)
    if cur is None:
        raise FileNotFoundError(f"{table_path} has no committed snapshot")
    best = None
    v = cur
    while v is not None:
        try:
            s = snapshot(table_path, v)
        except FileNotFoundError:
            break  # expired tail of the ancestry
        committed = s["summary"].get("committed_at", "")
        if committed <= ts and (best is None or v > best):
            best = v
        v = s.get("parent")
    if best is None:
        raise ValueError(
            f"{table_path} has no retained snapshot at or before {ts}")
    return best


def read_table(spark: SparkSession, table_path: str,
               version: int | None = None,
               as_of: "str | float | None" = None) -> DataFrame:
    """Read the table at CURRENT (default), at any retained ``version``,
    or at the snapshot current ``as_of`` a timestamp (time travel)."""
    if version is not None and as_of is not None:
        raise ValueError("pass version OR as_of, not both")
    if as_of is not None:
        version = version_as_of(table_path, as_of)
    v = current_version(table_path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table_path} has no committed snapshot")
    snap = snapshot(table_path, v)
    paths = [os.path.join(table_path, f) for f in snap["files"]]
    return spark.read.parquet(*paths)


def expire_snapshots(table_path: str, keep_last: int = 1) -> dict:
    """Iceberg-maintenance analog: retain the last ``keep_last``
    snapshots of CURRENT's ANCESTRY (never raw file order — an orphaned
    higher-version snapshot from a writer that died before its pointer
    swap must not displace the live version), delete other snapshot
    files at-or-below CURRENT, and remove data directories nothing
    retained references. Snapshot files ABOVE CURRENT are left alone:
    they may belong to a commit in flight right now (between O_EXCL
    create and pointer swap); if their writer died they become
    ≤-CURRENT non-ancestry on a later commit and the next expire cleans
    them. Unreferenced data dirs (orphans from writers that died before
    writing any snapshot file) are removed either way. Returns counts
    for audit."""
    cur = current_version(table_path)
    snaps = snapshots(table_path)
    if cur is None or not snaps:
        return {"snapshots_removed": 0, "data_dirs_removed": 0}
    by_version = {s["version"]: s for s in snaps}
    chain = []
    v = cur
    while v is not None and v in by_version:
        chain.append(by_version[v])
        v = by_version[v].get("parent")
    keep = chain[:max(1, keep_last)]  # newest-first suffix of history
    keep_versions = {s["version"] for s in keep}
    inflight = [s for s in snaps if s["version"] > cur]
    drop = [s for s in snaps
            if s["version"] <= cur and s["version"] not in keep_versions]
    referenced = {f for s in keep + inflight for f in s["files"]}
    data_root = os.path.join(table_path, "data")
    removed_dirs = 0
    if os.path.isdir(data_root):
        for d in os.listdir(data_root):
            rel = os.path.join("data", d)
            if rel not in referenced:
                shutil.rmtree(os.path.join(data_root, d),
                              ignore_errors=True)
                removed_dirs += 1
    for s in drop:
        try:
            os.remove(_snap_path(table_path, s["version"]))
        except FileNotFoundError:
            pass
    return {"snapshots_removed": len(drop), "data_dirs_removed": removed_dirs}
