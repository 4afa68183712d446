"""Fault injection over the sink's crash-consistency claims (VERDICT r11
item 5). The OCC lock, versioned pointer, and replay protocol are tested on
clean paths elsewhere; here a writer is KILLED at each internal commit step
— after data files land but before the pointer swap, mid-pointer-swap,
mid-compaction (both sides of the pointer write), and mid-restore — and we
assert the two invariants the design documents (`sinks/keyed_table.py`
module docstring): a fresh reader sees exactly the pre-crash committed
version, and replaying the interrupted batch converges to the same state an
uncrashed table reaches. A stale lock left by a dead writer must also be
breakable (`_LOCK_STALE_S`)."""

from __future__ import annotations

import os
import time

import pytest

from kafka_cdc_hudi_spark.sinks import keyed_table as kt_mod
from kafka_cdc_hudi_spark.sinks.keyed_table import KeyedParquetTable

MODES = ["cow", "mor", "cow-bucketed"]


class InjectedCrash(RuntimeError):
    """Stands in for the writer process dying at a chosen instruction."""


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "id long, mtime long, _deleted boolean, val string"
    )


def _state(t, spark, **kw):
    return {(r["id"], r["val"]) for r in t.read(spark, **kw).collect()}


B0 = [(1, 10, False, "a"), (2, 10, False, "b"), (3, 10, False, "c")]
B1 = [(1, 20, False, "a2"), (2, 20, True, "b"), (4, 20, False, "d")]
S0 = {(1, "a"), (2, "b"), (3, "c")}
S1 = {(1, "a2"), (3, "c"), (4, "d")}


def _mk(tmp_path, mode, name="t", **kw):
    return KeyedParquetTable(
        str(tmp_path / f"{name}_{mode}"),
        keys=["id"],
        order_col="mtime",
        mode=mode,
        n_buckets=4,
        **kw,
    )


def _crash(monkeypatch, name: str, when: str = "before"):
    """Patch KeyedParquetTable.<name> to die `when` ('before'|'after') the
    real call — 'before' models a crash with none of that step's effects on
    disk, 'after' a crash the instant the step completed."""
    real = getattr(KeyedParquetTable, name)

    def wrapper(self, *a, **k):
        if when == "before":
            raise InjectedCrash(f"before {name}")
        out = real(self, *a, **k)
        raise InjectedCrash(f"after {name}")

    monkeypatch.setattr(KeyedParquetTable, name, wrapper)
    return real


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("step", ["after_data_files", "before_pointer"])
def test_crash_between_data_write_and_pointer_swap(
    spark, tmp_path, monkeypatch, mode, step
):
    """Kill the writer once its data files are durable but the pointer is
    not: the commit must be invisible (snapshot isolation through the
    atomic pointer), the orphan version dir must never be resurrected or
    reused, and the replayed batch must converge."""
    t = _mk(tmp_path, mode)
    assert t.merge_batch(spark, _batch(spark, B0), batch_id=0)
    v_committed = t.versions()[-1]

    if step == "after_data_files":
        _crash(monkeypatch, "_write_parquet", when="after")
    else:
        _crash(monkeypatch, "_write_pointer", when="before")
    with pytest.raises(InjectedCrash):
        t.merge_batch(spark, _batch(spark, B1), batch_id=1)
    monkeypatch.undo()

    # fresh reader: exactly the pre-crash committed version
    fresh = _mk(tmp_path, mode)
    assert _state(fresh, spark) == S0
    assert fresh.last_batch_id() == 0
    assert fresh.versions()[-1] == v_committed

    # replay converges to the uncrashed outcome (S1 is exactly what an
    # uncrashed B0+B1 run produces; pinned by the clean-path merge tests);
    # the orphan dir from the crashed write is never reused (allocation is
    # past disk max)
    assert fresh.merge_batch(spark, _batch(spark, B1), batch_id=1)
    assert _state(fresh, spark) == S1


@pytest.mark.parametrize("mode", MODES)
def test_crashed_first_commit_never_becomes_visible(spark, tmp_path, monkeypatch, mode):
    """Kill the table's very first commit after its data files land: with
    no pointer, nothing is committed, so the next commit neither adopts
    the orphan into its manifest nor folds its rows — it sweeps it."""
    t = _mk(tmp_path, mode)
    _crash(monkeypatch, "_write_parquet", when="after")
    with pytest.raises(InjectedCrash):
        t.merge_batch(spark, _batch(spark, B0), batch_id=0)
    monkeypatch.undo()
    assert not t.exists() and os.listdir(t.root)

    fresh = _mk(tmp_path, mode)
    assert fresh.merge_batch(spark, _batch(spark, B1), batch_id=0)
    assert _state(fresh, spark) == {(1, "a2"), (4, "d")}
    disk = sorted(int(d[2:]) for d in os.listdir(fresh.root) if d[:2] in ("v_", "d_"))
    assert disk == fresh.versions() == [fresh.versions()[-1]]


@pytest.mark.parametrize("mode", MODES)
def test_crash_mid_pointer_swap(spark, tmp_path, monkeypatch, mode):
    """Kill between writing the pointer's tmp file and the atomic
    os.replace: the old pointer must still be the table, and the stranded
    tmp file must not confuse later commits."""
    t = _mk(tmp_path, mode)
    assert t.merge_batch(spark, _batch(spark, B0), batch_id=0)

    real_replace = kt_mod.os.replace

    def dying_replace(src, dst, *a, **k):
        if dst.endswith("_VERSION"):
            raise InjectedCrash("mid pointer swap")
        return real_replace(src, dst, *a, **k)

    monkeypatch.setattr(kt_mod.os, "replace", dying_replace)
    with pytest.raises(InjectedCrash):
        t.merge_batch(spark, _batch(spark, B1), batch_id=1)
    monkeypatch.undo()

    fresh = _mk(tmp_path, mode)
    assert _state(fresh, spark) == S0
    assert fresh.last_batch_id() == 0
    assert fresh.merge_batch(spark, _batch(spark, B1), batch_id=1)
    assert _state(fresh, spark) == S1


def test_crash_mid_compaction_before_pointer(spark, tmp_path, monkeypatch):
    """MOR: kill after the compacted base is written but before it commits
    — readers keep folding the delta chain; a later compaction succeeds."""
    t = _mk(tmp_path, "mor")
    t.merge_batch(spark, _batch(spark, B0), batch_id=0)
    t.merge_batch(spark, _batch(spark, B1), batch_id=1)
    assert _state(t, spark) == S1

    _crash(monkeypatch, "_write_pointer", when="before")
    with pytest.raises(InjectedCrash):
        t.compact(spark)
    monkeypatch.undo()

    fresh = _mk(tmp_path, "mor")
    assert _state(fresh, spark) == S1  # delta fold path intact
    v = fresh.compact(spark)
    assert v is not None
    assert _state(fresh, spark) == S1


def test_crash_mid_compaction_after_pointer_before_cleanup(
    spark, tmp_path, monkeypatch
):
    """MOR: kill after the compaction pointer commits but before the folded
    delta dirs are removed — the orphan deltas are outside the manifest, so
    reads must NOT double-apply them, and later commits sweep/ignore them."""
    t = _mk(tmp_path, "mor")
    t.merge_batch(spark, _batch(spark, B0), batch_id=0)
    t.merge_batch(spark, _batch(spark, B1), batch_id=1)

    real_rmtree = kt_mod.shutil.rmtree

    def dying_rmtree(path, *a, **k):
        if os.path.basename(path).startswith("d_"):
            raise InjectedCrash("mid compaction cleanup")
        return real_rmtree(path, *a, **k)

    monkeypatch.setattr(kt_mod.shutil, "rmtree", dying_rmtree)
    with pytest.raises(InjectedCrash):
        t.compact(spark)
    monkeypatch.undo()

    # the folded-away delta dirs are still on disk but unmanifested
    leftover = [d for d in os.listdir(t.root) if d.startswith("d_")]
    assert leftover, "injection did not leave orphan delta dirs"
    fresh = _mk(tmp_path, "mor")
    assert _state(fresh, spark) == S1  # compacted base only — no double fold
    # next commit proceeds normally on top of the compacted base
    assert fresh.merge_batch(spark, _batch(spark, [(5, 30, False, "e")]), batch_id=2)
    assert _state(fresh, spark) == S1 | {(5, "e")}


@pytest.mark.parametrize("mode", MODES)
def test_crash_mid_restore(spark, tmp_path, monkeypatch, mode):
    """Kill a restore before its pointer commits: the table must still read
    as the latest pre-restore version, and re-issuing the restore must
    succeed and land on the target snapshot."""
    t = _mk(tmp_path, mode)
    t.merge_batch(spark, _batch(spark, B0), batch_id=0)
    v1 = t.versions()[-1]
    t.merge_batch(spark, _batch(spark, B1), batch_id=1)
    assert _state(t, spark) == S1

    _crash(monkeypatch, "_write_pointer", when="before")
    with pytest.raises(InjectedCrash):
        t.restore(spark, v1)
    monkeypatch.undo()

    fresh = _mk(tmp_path, mode)
    assert _state(fresh, spark) == S1  # restore never became visible
    fresh.restore(spark, v1)
    assert _state(fresh, spark) == S0
    # replay protection survived the crashed restore
    assert fresh.last_batch_id() == 1


def test_stale_lock_from_dead_writer_is_broken(spark, tmp_path):
    """A writer that dies INSIDE the lock (real crash — the context-manager
    release never runs) leaves `.commit_lock` on disk; a new writer must
    stale-break it after `_LOCK_STALE_S` and commit normally."""
    t = _mk(tmp_path, "cow")
    t.merge_batch(spark, _batch(spark, B0), batch_id=0)
    lock = os.path.join(t.root, ".commit_lock")
    with open(lock, "w") as f:
        f.write("99999:deadbeef")  # token of the dead writer
    past = time.time() - KeyedParquetTable._LOCK_STALE_S - 5
    os.utime(lock, (past, past))

    assert t.merge_batch(spark, _batch(spark, B1), batch_id=1)
    assert _state(t, spark) == S1
    assert not os.path.exists(lock)  # broken, then released by the new owner


def test_zombie_pointer_regression_rejected(spark, tmp_path):
    """Fencing layer 2: a pointer write whose version is LOWER than the
    committed one (a stalled writer's allocation from before a newer
    writer's commit) is rejected outright."""
    from kafka_cdc_hudi_spark.sinks.keyed_table import ConcurrentCommitError

    t = _mk(tmp_path, "cow")
    t.merge_batch(spark, _batch(spark, B0), batch_id=0)
    t.merge_batch(spark, _batch(spark, B1), batch_id=1)
    v_now = t.versions()[-1]
    with pytest.raises(ConcurrentCommitError, match="regression"):
        t._write_pointer(v_now - 1, 99, {v_now - 1: "base"})
    fresh = _mk(tmp_path, "cow")
    assert fresh.versions()[-1] == v_now
    assert fresh.last_batch_id() == 1
    assert _state(fresh, spark) == S1


def test_stalled_writer_fenced_after_stale_break(spark, tmp_path, monkeypatch):
    """The GC-pause zombie (fencing layer 1): writer A stalls INSIDE its
    commit long enough to be stale-broken; writer B breaks the lock,
    commits batch 1, and releases. When A resumes, its pointer write must
    raise ConcurrentCommitError instead of regressing the pointer over
    B's commit — and A's retry (re-read, re-merge) must succeed."""
    from kafka_cdc_hudi_spark.sinks.keyed_table import (
        ConcurrentCommitError,
        KeyedParquetTable,
    )

    a = _mk(tmp_path, "cow")
    a.merge_batch(spark, _batch(spark, B0), batch_id=0)

    real_stats = KeyedParquetTable._collect_file_stats
    fired = {"done": False}

    def stall_and_let_b_commit(self, vdir):
        # runs in A's commit, after its data files landed, before its
        # pointer write — the zombie window
        if not fired["done"]:
            fired["done"] = True
            lock = os.path.join(self.root, ".commit_lock")
            past = time.time() - KeyedParquetTable._LOCK_STALE_S - 5
            os.utime(lock, (past, past))  # simulate A's long stall
            b = KeyedParquetTable(self.root, keys=["id"], order_col="mtime")
            monkeypatch.setattr(KeyedParquetTable, "_collect_file_stats", real_stats)
            assert b.merge_batch(
                spark, _batch(spark, [(9, 30, False, "from_b")]), batch_id=1
            )
            monkeypatch.setattr(
                KeyedParquetTable, "_collect_file_stats", stall_and_let_b_commit
            )
        return real_stats(self, vdir)

    monkeypatch.setattr(KeyedParquetTable, "_collect_file_stats", stall_and_let_b_commit)
    with pytest.raises(ConcurrentCommitError):
        a.merge_batch(spark, _batch(spark, B1), batch_id=2)
    monkeypatch.undo()

    # B's commit is the table; A's aborted write changed nothing visible
    fresh = _mk(tmp_path, "cow")
    assert _state(fresh, spark) == S0 | {(9, "from_b")}
    assert fresh.last_batch_id() == 1
    # A's retry on the fresh pointer state applies cleanly
    assert fresh.merge_batch(spark, _batch(spark, B1), batch_id=2)
    assert _state(fresh, spark) == S1 | {(9, "from_b")}


def test_merge_retry_conflicts_recovers_from_fencing(spark, tmp_path, monkeypatch):
    """merge_batch(retry_conflicts=N): a ConcurrentCommitError from the
    fencing layers re-enters the lock and recomputes the merge from the
    fresh pointer; with retries exhausted it propagates."""
    from kafka_cdc_hudi_spark.sinks.keyed_table import ConcurrentCommitError

    t = _mk(tmp_path, "cow")
    t.merge_batch(spark, _batch(spark, B0), batch_id=0)

    real = KeyedParquetTable._merge_batch_locked
    fails = {"left": 2}

    def flaky(self, spark_, batch, batch_id=None):
        if fails["left"] > 0:
            fails["left"] -= 1
            raise ConcurrentCommitError("simulated fence")
        return real(self, spark_, batch, batch_id)

    monkeypatch.setattr(KeyedParquetTable, "_merge_batch_locked", flaky)
    # one retry is not enough for two consecutive conflicts
    with pytest.raises(ConcurrentCommitError):
        t.merge_batch(spark, _batch(spark, B1), batch_id=1, retry_conflicts=1)
    # two retries absorb them and the merge lands
    fails["left"] = 2
    assert t.merge_batch(spark, _batch(spark, B1), batch_id=1, retry_conflicts=2)
    monkeypatch.undo()
    assert _state(t, spark) == S1
    # the lock was released on every failed attempt (no deadlock residue)
    assert not os.path.exists(os.path.join(t.root, ".commit_lock"))


@pytest.mark.parametrize("mode", MODES)
def test_one_pointer_write_per_commit(spark, tmp_path, monkeypatch, mode):
    """Every commit swaps the pointer exactly once — merges past
    ``keep_versions``, compactions that retire a base, restores: retention
    is decided before the swap, not applied by a second one."""
    t = _mk(tmp_path, mode, keep_versions=1)
    real_replace = kt_mod.os.replace
    swaps = []

    def counting_replace(src, dst, *a, **k):
        if dst.endswith("_VERSION"):
            swaps.append(dst)
        return real_replace(src, dst, *a, **k)

    monkeypatch.setattr(kt_mod.os, "replace", counting_replace)

    def swaps_of(op):
        del swaps[:]
        out = op()
        return out, len(swaps)

    for i in range(4):
        rows = [(k, 10 + i, False, f"v{i}") for k in (range(16) if i == 0 else [i])]
        assert swaps_of(lambda: t.merge_batch(spark, _batch(spark, rows), batch_id=i)) == (True, 1)
        if mode == "mor" and i % 2:  # the second compaction retires the first base
            v, n = swaps_of(lambda: t.compact(spark))
            assert v is not None and n == 1
    if mode == "cow-bucketed":
        v, n = swaps_of(lambda: t.compact(spark))
        assert v is not None and n == 1
    v, n = swaps_of(lambda: t.restore(spark, t.versions()[0]))
    assert n == 1 and t.versions()[-1] == v


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_kill_at_first_retention_delete(spark, tmp_path, monkeypatch, mode):
    """Kill the writer right after retention deletes its first retired
    snapshot dir: the pointer swap already happened, so a fresh reader
    reads every version it lists plus the current state, and the next
    commit sweeps what the kill left behind. (On cow-bucketed the older
    dirs still hold buckets, so nothing is deleted there.)"""
    t = _mk(tmp_path, mode, keep_versions=1)
    t.merge_batch(spark, _batch(spark, B0), batch_id=0)
    if mode == "mor":
        t.compact(spark)
    t.merge_batch(spark, _batch(spark, B1), batch_id=1)

    real_rmtree = kt_mod.shutil.rmtree

    def dying_rmtree(path, *a, **k):
        real_rmtree(path, *a, **k)
        if os.path.basename(path).startswith("v_"):
            raise InjectedCrash("after the first retention delete")

    monkeypatch.setattr(kt_mod.shutil, "rmtree", dying_rmtree)
    with pytest.raises(InjectedCrash):
        if mode == "mor":
            t.compact(spark)  # retires the first base
        else:
            t.merge_batch(spark, _batch(spark, [(5, 30, False, "e")]), batch_id=2)
    monkeypatch.undo()

    fresh = _mk(tmp_path, mode, keep_versions=1)
    for v in fresh.versions():
        fresh.read(spark, version=v).collect()
    want = S1 if mode == "mor" else S1 | {(5, "e")}
    assert _state(fresh, spark) == want
    assert fresh.merge_batch(spark, _batch(spark, [(6, 40, False, "f")]), batch_id=3)
    assert _state(fresh, spark) == want | {(6, "f")}
    disk = sorted(int(d[2:]) for d in os.listdir(fresh.root) if d[:2] in ("v_", "d_"))
    assert disk == fresh.versions()


def test_orphaned_empty_delta_swept_at_next_commit(spark, tmp_path, monkeypatch):
    """MOR: kill between an empty delta's write and its rollback. The
    orphan is never read, and the next delta commit sweeps it: the ``d_*``
    dirs on disk are exactly the manifested deltas (not left until the
    next compaction)."""
    t = _mk(tmp_path, "mor")
    t.merge_batch(spark, _batch(spark, B0), batch_id=0)

    def dying_rmtree(path, *a, **k):
        raise InjectedCrash("before the empty delta's rollback")

    monkeypatch.setattr(kt_mod.shutil, "rmtree", dying_rmtree)
    with pytest.raises(InjectedCrash):
        t.merge_batch(spark, _batch(spark, []), batch_id=1)
    monkeypatch.undo()
    orphans = [d for d in os.listdir(t.root) if d.startswith("d_")]
    assert len(orphans) == 2, "injection did not leave the empty delta behind"

    fresh = _mk(tmp_path, "mor")
    assert _state(fresh, spark) == S0
    assert fresh.last_batch_id() == 0
    assert fresh.merge_batch(spark, _batch(spark, B1), batch_id=1)
    assert _state(fresh, spark) == S1
    on_disk = sorted(int(d[2:]) for d in os.listdir(fresh.root) if d.startswith("d_"))
    assert on_disk == fresh._resolve(fresh.versions()[-1])[1]


@pytest.mark.parametrize("mode", MODES)
def test_garbled_pointer_fails_stop(spark, tmp_path, mode):
    """A pointer that does not parse is damage, not "no table yet": writes
    are atomic renames, so no reader sees a torn one. Reading it as absent
    would let a replayed batch commit as the first version and sweep every
    older one; instead merge and read raise and every version stays."""
    t = _mk(tmp_path, mode)
    t.merge_batch(spark, _batch(spark, B0), batch_id=0)
    t.merge_batch(spark, _batch(spark, B1), batch_id=1)
    disk = sorted(os.listdir(t.root))
    with open(t._pointer_path) as f:
        text = f.read()
    with open(t._pointer_path, "w") as f:
        f.write(text[: len(text) // 2])

    with pytest.raises(ValueError, match="corrupt table pointer"):
        t.merge_batch(spark, _batch(spark, B1), batch_id=1)
    with pytest.raises(ValueError, match="corrupt table pointer"):
        t.read(spark)
    assert sorted(os.listdir(t.root)) == disk
    assert sum(d[:2] in ("v_", "d_") for d in disk) >= 2
