"""Roll-forward restore (Delta RESTORE / Hudi savepoint-rollback parity):
a restore commits a NEW version equal to an old snapshot, preserves
history and replay protection, and works in all three sink modes."""

import pytest

from kafka_cdc_hudi_spark.sinks.keyed_table import KeyedParquetTable


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "id long, mtime long, _deleted boolean, val string"
    )


def _state(t, spark, **kw):
    return {(r["id"], r["val"]) for r in t.read(spark, **kw).collect()}


@pytest.mark.parametrize("mode", ["cow", "mor", "cow-bucketed"])
def test_restore_reverts_state_as_new_commit(spark, tmp_path, mode):
    t = KeyedParquetTable(
        str(tmp_path / mode), keys=["id"], order_col="mtime", mode=mode, n_buckets=4
    )
    t.merge_batch(spark, _batch(spark, [(1, 10, False, "a"), (2, 10, False, "b")]), batch_id=0)
    v1 = t.versions()[-1]
    t.merge_batch(
        spark,
        _batch(spark, [(1, 20, False, "a2"), (2, 20, True, "b"), (3, 20, False, "c")]),
        batch_id=1,
    )
    assert _state(t, spark) == {(1, "a2"), (3, "c")}

    v_restored = t.restore(spark, v1)
    # restored state equals the v1 snapshot, committed as a NEW version
    assert _state(t, spark) == {(1, "a"), (2, "b")}
    assert v_restored == t.versions()[-1]
    assert v_restored > v1
    # history preserved: the pre-restore latest is still readable
    assert _state(t, spark, version=v1) == {(1, "a"), (2, "b")}

    # replay protection survives the restore: batch ids <= last are skipped
    assert (
        t.merge_batch(spark, _batch(spark, [(9, 99, False, "x")]), batch_id=1) is False
    )
    # and new batches apply on top of the restored snapshot
    assert t.merge_batch(spark, _batch(spark, [(4, 30, False, "d")]), batch_id=2)
    assert _state(t, spark) == {(1, "a"), (2, "b"), (4, "d")}


def test_restore_unknown_version_raises(spark, tmp_path):
    t = KeyedParquetTable(str(tmp_path / "t"), keys=["id"], order_col="mtime")
    with pytest.raises(FileNotFoundError):
        t.restore(spark, 1)
    t.merge_batch(spark, _batch(spark, [(1, 10, False, "a")]), batch_id=0)
    with pytest.raises(FileNotFoundError):
        t.restore(spark, 99)


def test_restore_mor_materializes_tombstone_horizon(spark, tmp_path):
    """Restoring a MOR table writes a BASE: tombstones at/below the restore
    point stop suppressing later-arriving older inserts — same horizon a
    compaction sets."""
    t = KeyedParquetTable(str(tmp_path / "m"), keys=["id"], order_col="mtime", mode="mor")
    t.merge_batch(spark, _batch(spark, [(1, 30, True, "gone")]), batch_id=0)
    v_del = t.versions()[-1]
    t.merge_batch(spark, _batch(spark, [(2, 10, False, "b")]), batch_id=1)
    t.restore(spark, v_del)
    assert _state(t, spark) == set()
    # pre-restore tombstone (mtime=30) was materialized away by the base
    # write, so an older insert (mtime=5) now lands
    t.merge_batch(spark, _batch(spark, [(1, 5, False, "back")]), batch_id=2)
    assert _state(t, spark) == {(1, "back")}


def test_mor_restore_retires_deltas_with_their_base(spark, tmp_path):
    """A MOR restore keeps the deltas committed before it; once retention
    retires the base they apply to, they retire too. Every version the
    table still lists reads exactly the state it had when committed."""
    t = KeyedParquetTable(
        str(tmp_path / "m"), keys=["id"], order_col="mtime", mode="mor", keep_versions=1
    )
    seen = {}

    def commit(op):
        op()
        seen[t.versions()[-1]] = _state(t, spark)

    t.merge_batch(spark, _batch(spark, [(1, 10, False, "a"), (2, 10, False, "b")]), batch_id=0)
    commit(lambda: t.compact(spark))
    commit(lambda: t.merge_batch(spark, _batch(spark, [(3, 20, False, "c")]), batch_id=1))
    v_delta = t.versions()[-1]
    commit(lambda: t.merge_batch(spark, _batch(spark, [(1, 30, True, "a")]), batch_id=2))
    commit(lambda: t.restore(spark, v_delta))
    assert seen[t.versions()[-1]] == {(1, "a"), (2, "b"), (3, "c")}
    for v in t.versions():
        assert _state(t, spark, version=v) == seen[v], v


@pytest.mark.parametrize("mode", ["cow", "mor", "cow-bucketed"])
def test_savepoint_survives_retention_and_restores(spark, tmp_path, mode):
    t = KeyedParquetTable(
        str(tmp_path / f"sp-{mode}"), keys=["id"], order_col="mtime",
        mode=mode, n_buckets=4, keep_versions=2,
    )
    t.merge_batch(spark, _batch(spark, [(1, 10, False, "a")]), batch_id=0)
    v_pinned = t.savepoint(spark, "golden")
    assert t.savepoints() == {"golden": v_pinned}
    with pytest.raises(ValueError):
        t.savepoint(spark, "golden")
    # churn far past keep_versions=2 — retention must skip the savepoint
    for i in range(5):
        t.merge_batch(
            spark, _batch(spark, [(1, 20 + i, False, f"v{i}"), (2 + i, 20 + i, False, "x")]),
            batch_id=1 + i,
        )
        if mode == "mor":
            t.compact(spark)
    assert _state(t, spark, version=v_pinned) == {(1, "a")}
    t.restore(spark, name="golden")
    assert _state(t, spark) == {(1, "a")}
    # released savepoints become prunable again
    t.drop_savepoint("golden")
    assert t.savepoints() == {}
    with pytest.raises(KeyError):
        t.drop_savepoint("golden")
    with pytest.raises(KeyError):
        t.restore(spark, name="golden")
    with pytest.raises(ValueError):
        t.restore(spark)


def test_savepoint_mor_compacts_to_base(spark, tmp_path):
    t = KeyedParquetTable(str(tmp_path / "spm"), keys=["id"], order_col="mtime", mode="mor")
    t.merge_batch(spark, _batch(spark, [(1, 10, False, "a")]), batch_id=0)
    t.merge_batch(spark, _batch(spark, [(2, 10, False, "b")]), batch_id=1)
    v = t.savepoint(spark, "s")
    # the savepoint pins a self-contained base (delta fold materialized)
    base, deltas = t._resolve(v)
    assert base == v and deltas == []


def test_table_info_reports_commits_and_savepoints(spark, tmp_path):
    t = KeyedParquetTable(str(tmp_path / "i"), keys=["id"], order_col="mtime", mode="mor")
    assert t.table_info() == {"exists": False}
    t.merge_batch(spark, _batch(spark, [(1, 10, False, "a")]), batch_id=0)
    t.merge_batch(spark, _batch(spark, [(2, 10, False, "b")]), batch_id=1)
    info = t.table_info()
    assert info["mode"] == "mor" and info["last_batch_id"] == 1
    assert [c["kind"] for c in info["commits"].values()] == ["delta", "delta"]
    assert all(c["files"] > 0 and c["bytes"] > 0 for c in info["commits"].values())
    t.savepoint(spark, "g")  # compacts -> base
    info = t.table_info()
    assert info["savepoints"] == {"g": info["version"]}
    assert info["commits"][info["version"]]["kind"] == "base"
