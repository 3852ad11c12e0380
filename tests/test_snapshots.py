"""Snapshot log: append/overwrite commits, time travel, atomic pointer,
version-race detection, expiry of unreferenced data."""

import json
import os

import pytest
from pyspark.sql import functions as F

from mashspark import snapshots as snap


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("doc_id"))


def test_append_overwrite_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v1 = snap.commit_append(spark, _df(spark, 0, 100), t)
    v2 = snap.commit_append(spark, _df(spark, 100, 150), t)
    assert (v1, v2) == (1, 2)
    assert snap.read_table(spark, t).count() == 150
    assert snap.read_table(spark, t, version=1).count() == 100

    v3 = snap.commit_overwrite(spark, _df(spark, 0, 7), t)
    assert v3 == 3 and snap.current_version(t) == 3
    assert snap.read_table(spark, t).count() == 7
    # history intact: every prior version still readable
    assert snap.read_table(spark, t, version=2).count() == 150
    hist = snap.snapshots(t)
    assert [s["operation"] for s in hist] == ["append", "append", "overwrite"]
    assert [s["parent"] for s in hist] == [None, 1, 2]
    assert hist[0]["summary"]["n_rows_written"] == 100
    # append snapshots accumulate files; overwrite resets to its own
    assert len(hist[1]["files"]) == 2 and len(hist[2]["files"]) == 1


def test_killed_writer_leaves_table_at_previous_version(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snap.commit_append(spark, _df(spark, 0, 10), t)
    # simulate a writer that died after its data write but before the
    # snapshot commit: an orphan data dir must not affect readers
    orphan = os.path.join(t, "data", "deadbeef")
    _df(spark, 0, 999).write.parquet(orphan)
    assert snap.current_version(t) == 1
    assert snap.read_table(spark, t).count() == 10
    # expiry removes the orphan
    res = snap.expire_snapshots(t, keep_last=1)
    assert res["data_dirs_removed"] == 1
    assert not os.path.isdir(orphan)
    assert snap.read_table(spark, t).count() == 10


def test_version_race_loser_retries_onto_next_version(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snap.commit_append(spark, _df(spark, 0, 10), t)
    # occupy v2 as a concurrent winner would
    winner = {"version": 2, "parent": 1, "operation": "append",
              "files": snap.snapshot(t, 1)["files"], "summary": {}}
    with open(snap._snap_path(t, 2), "w") as fh:
        json.dump(winner, fh)
    v = snap.commit_append(spark, _df(spark, 10, 20), t)
    assert v == 3, "loser must skip the taken version"
    # CURRENT jumped to the retried commit; its parent is the pointer's
    # value at retry time (1 — the fake winner never swapped the pointer)
    assert snap.current_version(t) == 3
    assert snap.read_table(spark, t).count() == 20


def test_expire_prunes_history_and_unreferenced_data(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snap.commit_append(spark, _df(spark, 0, 10), t)
    snap.commit_overwrite(spark, _df(spark, 0, 5), t)
    snap.commit_overwrite(spark, _df(spark, 0, 3), t)
    res = snap.expire_snapshots(t, keep_last=1)
    assert res == {"snapshots_removed": 2, "data_dirs_removed": 2}
    assert [s["version"] for s in snap.snapshots(t)] == [3]
    assert snap.read_table(spark, t).count() == 3
    with pytest.raises(FileNotFoundError):
        snap.read_table(spark, t, version=1)


def test_read_empty_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        snap.read_table(spark, str(tmp_path / "nope"))


def test_expire_anchors_on_current_not_orphan(spark, tmp_path):
    """An orphaned HIGHER-version snapshot (writer died between O_EXCL
    create and pointer swap) must not displace the live version during
    expiry: retention is CURRENT's ancestry, and above-CURRENT snapshot
    files are left for a later expire (they may be in flight)."""
    t = str(tmp_path / "tbl")
    snap.commit_append(spark, _df(spark, 0, 10), t)
    snap.commit_overwrite(spark, _df(spark, 0, 5), t)  # CURRENT = 2
    orphan_dir = os.path.join(t, "data", "0rphan")
    _df(spark, 0, 99).write.parquet(orphan_dir)
    orphan = {"version": 3, "parent": 2, "operation": "overwrite",
              "files": [os.path.join("data", "0rphan")], "summary": {}}
    with open(snap._snap_path(t, 3), "w") as fh:
        json.dump(orphan, fh)
    res = snap.expire_snapshots(t, keep_last=1)
    # v1 dropped; v2 (CURRENT) kept; v3 (possibly in-flight) untouched,
    # and its data dir survives with it
    assert res["snapshots_removed"] == 1
    assert snap.current_version(t) == 2
    assert snap.read_table(spark, t).count() == 5
    assert [s["version"] for s in snap.snapshots(t)] == [2, 3]
    assert os.path.isdir(orphan_dir)
    # once CURRENT advances past the orphan, the next expire reaps it
    snap.commit_overwrite(spark, _df(spark, 0, 4), t)  # CURRENT = 4
    snap.expire_snapshots(t, keep_last=1)
    assert [s["version"] for s in snap.snapshots(t)] == [4]
    assert not os.path.isdir(orphan_dir)
    assert snap.read_table(spark, t).count() == 4


def test_merge_race_raises_instead_of_losing_update(spark, tmp_path):
    """Two concurrent MERGEs computed against the same base: the loser
    must raise ConcurrentCommitError, not silently erase the winner's
    upsert (lost update)."""
    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, f"old-{i}") for i in range(5)], "url_id long, text string")
    snap.commit_merge(spark, base, t, "url_id")  # CURRENT = 1
    # winner commits version 2 AND swaps the pointer mid-way through the
    # loser's merge; simulate by advancing the table after the loser's
    # base version is captured — easiest via monkey-level sequencing:
    winner_upd = spark.createDataFrame(
        [(1, "winner-1")], "url_id long, text string")
    loser_upd = spark.createDataFrame(
        [(2, "loser-2")], "url_id long, text string")
    # capture the loser's merged plan against base version 1
    base_v = snap.current_version(t)
    cur = snap.read_table(spark, t, version=base_v)
    keys = loser_upd.select("url_id").distinct()
    merged = cur.join(keys, "url_id", "left_anti").unionByName(loser_upd)
    # winner lands first
    snap.commit_merge(spark, winner_upd, t, "url_id")  # CURRENT = 2
    with pytest.raises(snap.ConcurrentCommitError):
        snap._commit(spark, merged, t, "merge", None,
                     expected_parent=base_v)
    # winner's row intact; loser committed nothing
    got = {r["url_id"]: r["text"]
           for r in snap.read_table(spark, t).collect()}
    assert got[1] == "winner-1" and 2 in got and got[2] == "old-2"
    assert snap.current_version(t) == 2


def test_pending_winner_rows_survive_concurrent_append(spark, tmp_path):
    """The lost-update window: a winner that PUBLISHED its snapshot file
    but died before the pointer swap must not have its rows dropped by
    a concurrent append. The append must land ON TOP of the pending
    commit (adopting it), not skip past it with the stale file list."""
    t = str(tmp_path / "tbl")
    snap.commit_append(spark, _df(spark, 0, 10), t)  # v1, CURRENT = 1
    # pending winner: new data dir + published v2, pointer never swapped
    wdir = os.path.join(t, "data", "winner")
    _df(spark, 100, 150).write.parquet(wdir)
    winner = {"version": 2, "parent": 1, "operation": "append",
              "files": snap.snapshot(t, 1)["files"]
              + [os.path.join("data", "winner")], "summary": {}}
    with open(snap._snap_path(t, 2), "w") as fh:
        json.dump(winner, fh)
    assert snap.current_version(t) == 1
    v = snap.commit_append(spark, _df(spark, 200, 220), t)
    assert v == 3
    # 10 base + 50 winner + 20 loser: nothing lost
    assert snap.read_table(spark, t).count() == 80
    assert snap.snapshot(t, 3)["parent"] == 2
    # the winner's data dir survives expiry (referenced by v3)
    snap.expire_snapshots(t, keep_last=1)
    assert os.path.isdir(wdir)
    assert snap.read_table(spark, t).count() == 80


def test_pending_winner_fails_concurrent_merge(spark, tmp_path):
    """A merge computed against version 1 that races a pending winner's
    v2 must raise ConcurrentCommitError once the winner is adopted —
    previously the expected_parent check passed (pointer still 1) and
    the merge silently erased the winner's rows."""
    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, f"old-{i}") for i in range(5)], "url_id long, text string")
    snap.commit_merge(spark, base, t, "url_id")  # v1
    wdir = os.path.join(t, "data", "winner")
    spark.createDataFrame([(9, "winner-9")], "url_id long, text string") \
        .write.parquet(wdir)
    winner = {"version": 2, "parent": 1, "operation": "append",
              "files": snap.snapshot(t, 1)["files"]
              + [os.path.join("data", "winner")], "summary": {}}
    with open(snap._snap_path(t, 2), "w") as fh:
        json.dump(winner, fh)
    upd = spark.createDataFrame(
        [(2, "merged-2")], "url_id long, text string")
    with pytest.raises(snap.ConcurrentCommitError):
        snap.commit_merge(spark, upd, t, "url_id")
    # adoption advanced the pointer to the winner; its row is live
    assert snap.current_version(t) == 2
    got = {r["url_id"]: r["text"]
           for r in snap.read_table(spark, t).collect()}
    assert got[9] == "winner-9" and got[2] == "old-2"
    # re-running the merge against the new state succeeds
    v = snap.commit_merge(spark, upd, t, "url_id")
    assert v == 3
    got = {r["url_id"]: r["text"]
           for r in snap.read_table(spark, t).collect()}
    assert got[2] == "merged-2" and got[9] == "winner-9"


def test_commit_merge_upserts_by_key(spark, tmp_path):
    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, f"old-{i}") for i in range(10)], "url_id long, text string")
    snap.commit_merge(spark, base, t, "url_id")
    upd = spark.createDataFrame(
        [(3, "new-3"), (7, "new-7"), (100, "new-100")],
        "url_id long, text string")
    v = snap.commit_merge(spark, upd, t, "url_id")
    assert v == 2
    got = {r["url_id"]: r["text"]
           for r in snap.read_table(spark, t).collect()}
    assert len(got) == 11
    assert got[3] == "new-3" and got[7] == "new-7" and got[100] == "new-100"
    assert got[0] == "old-0"
    # the pre-merge crawl is still readable via time travel
    old = {r["url_id"]: r["text"]
           for r in snap.read_table(spark, t, version=1).collect()}
    assert old[3] == "old-3" and 100 not in old
    assert snap.snapshots(t)[-1]["operation"] == "merge"


def test_time_travel_as_of_timestamp(spark, tmp_path):
    """Iceberg FOR TIMESTAMP AS OF analog: as_of resolves to the highest
    snapshot committed at or before the timestamp, in CURRENT's
    ancestry; too-early timestamps raise."""
    import time as _t

    t = str(tmp_path / "tbl")
    snap.commit_append(spark, _df(spark, 0, 10), t)
    ts_between = _t.time() + 0.5
    _t.sleep(1.2)  # committed_at has 1 s resolution
    snap.commit_append(spark, _df(spark, 10, 25), t)
    after = _t.time() + 1
    assert snap.version_as_of(t, ts_between) == 1
    assert snap.version_as_of(t, after) == 2
    assert snap.read_table(spark, t, as_of=ts_between).count() == 10
    assert snap.read_table(spark, t, as_of=after).count() == 25
    with pytest.raises(ValueError):
        snap.version_as_of(t, 0.0)  # epoch 1970: nothing that old
    with pytest.raises(ValueError):
        snap.read_table(spark, t, version=1, as_of=after)


class _PinnedClock:
    """Stands in for the ``time`` module ``snapshots`` reads, with a
    wall clock the test sets; everything else is the real module."""

    def __init__(self, now):
        import time as _t

        self._t = _t
        self.now = now

    def time(self):
        return self.now

    def localtime(self, secs=None):
        return self._t.localtime(self.now if secs is None else secs)

    def strftime(self, fmt, tt=None):
        return self._t.strftime(fmt, self.localtime() if tt is None else tt)

    def __getattr__(self, name):
        return getattr(self._t, name)


def test_time_travel_within_one_second(spark, tmp_path, monkeypatch):
    """Two commits inside one wall-clock second with a probe between
    them: the probe resolves to the first (committed_at must carry
    sub-second resolution, and an epoch probe must be formatted the same
    way)."""
    t = str(tmp_path / "tbl")
    t0 = 1_700_000_000.0
    clock = _PinnedClock(t0 + 0.2)
    monkeypatch.setattr(snap, "time", clock)
    snap.commit_append(spark, _df(spark, 0, 10), t)
    clock.now = t0 + 0.6
    snap.commit_append(spark, _df(spark, 10, 25), t)
    assert snap.version_as_of(t, t0 + 0.4) == 1
    assert snap.version_as_of(t, t0 + 0.6) == 2
    assert snap.read_table(spark, t, as_of=t0 + 0.4).count() == 10
    with pytest.raises(ValueError):
        snap.version_as_of(t, t0 + 0.1)
