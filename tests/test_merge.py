"""Merge semantics (SURVEY §7 M3 + hard parts 1/2/5; FIXTURES §A3.4-6)."""

from pyspark.sql import functions as F

from kafka_cdc_hudi_spark.operators.merge import merge_upsert
from kafka_cdc_hudi_spark.sinks.keyed_table import KeyedParquetTable

SCHEMA = "id long, val string, mtime long, _deleted boolean"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _state(df):
    return {r["id"]: (r["val"], r["mtime"]) for r in df.collect()}


class TestMergeUpsert:
    def test_insert_update_delete(self, spark):
        b1 = _df(spark, [(1, "a", 10, False), (2, "b", 10, False)])
        s1 = merge_upsert(None, b1, ["id"], keep_deleted_col=False)
        b2 = _df(spark, [(1, "a2", 20, False), (2, None, 20, True), (3, "c", 20, False)])
        s2 = merge_upsert(s1, b2, ["id"])
        assert _state(s2) == {1: ("a2", 20), 3: ("c", 20)}

    def test_old_event_never_clobbers_newer_row(self, spark):
        # FIXTURES A3.5: late batch carries an OLDER mtime for an existing key
        s1 = merge_upsert(None, _df(spark, [(1, "new", 100, False)]), ["id"])
        s2 = merge_upsert(s1, _df(spark, [(1, "stale", 50, False)]), ["id"])
        assert _state(s2) == {1: ("new", 100)}

    def test_tie_prefers_incoming_batch(self, spark):
        # Hudi DefaultHoodieRecordPayload: equal precombine -> incoming wins
        s1 = merge_upsert(None, _df(spark, [(1, "old", 100, False)]), ["id"])
        s2 = merge_upsert(s1, _df(spark, [(1, "incoming", 100, False)]), ["id"])
        assert _state(s2) == {1: ("incoming", 100)}

    def test_idempotent_replay(self, spark):
        b = _df(spark, [(1, "a", 10, False), (2, "b", 20, True)])
        s1 = merge_upsert(None, b, ["id"])
        s2 = merge_upsert(s1, b, ["id"])
        assert _state(s1) == _state(s2) == {1: ("a", 10)}

    def test_delete_then_reinsert(self, spark):
        s1 = merge_upsert(None, _df(spark, [(1, "a", 10, False)]), ["id"])
        s2 = merge_upsert(s1, _df(spark, [(1, None, 20, True)]), ["id"])
        assert _state(s2) == {}
        s3 = merge_upsert(s2, _df(spark, [(1, "back", 30, False)]), ["id"])
        assert _state(s3) == {1: ("back", 30)}

    def test_schema_drift_new_column(self, spark):
        # SURVEY §7 hard-part 2: new column appears; old rows null-filled
        s1 = merge_upsert(None, _df(spark, [(1, "a", 10, False)]), ["id"])
        b2 = spark.createDataFrame(
            [(2, "b", 5, False, 99)], "id long, val string, mtime long, _deleted boolean, extra long"
        )
        s2 = merge_upsert(s1, b2, ["id"])
        got = {r["id"]: r["extra"] for r in s2.collect()}
        assert got == {1: None, 2: 99}

    def test_schema_drift_dropped_column(self, spark):
        # dropped column survives null-filled (hoodie allow-column-drop parity)
        s1 = merge_upsert(None, _df(spark, [(1, "a", 10, False)]), ["id"])
        b2 = spark.createDataFrame([(2, 5, False)], "id long, mtime long, _deleted boolean")
        s2 = merge_upsert(s1, b2, ["id"])
        got = {r["id"]: r["val"] for r in s2.collect()}
        assert got == {1: "a", 2: None}

    def test_composite_key(self, spark):
        rows = [(1, "x", 10, False), (1, "y", 10, False)]
        b = spark.createDataFrame(
            [(i, k, m, d) for (i, k, m, d) in rows], "id long, k2 string, mtime long, _deleted boolean"
        )
        s = merge_upsert(None, b, ["id", "k2"])
        assert s.count() == 2

    def test_in_batch_duplicates_collapse(self, spark):
        b = _df(spark, [(1, "v1", 10, False), (1, "v3", 30, False), (1, "v2", 20, False)])
        s = merge_upsert(None, b, ["id"])
        assert _state(s) == {1: ("v3", 30)}


class TestMergeUpsertTwoBatchesFused:
    """merge_upsert_two_batches == merge_upsert(merge_upsert(None, A), B)
    (the r14 fused one-pass fold). Every COW semantic corner is exercised:
    cross-batch precombine, tie-to-incoming, in-batch delete suppression,
    cross-batch delete + older-insert resurrect, keys in only one batch."""

    def _both(self, spark, rows, tiebreakers=("val",)):
        from kafka_cdc_hudi_spark.operators.merge import merge_upsert_two_batches

        schema = "id long, val string, mtime long, _deleted boolean, b2 boolean"
        df = spark.createDataFrame(rows, schema)
        fused = merge_upsert_two_batches(
            df, F.col("b2"), ["id"], tiebreakers=list(tiebreakers)
        ).drop("b2")
        a = df.filter(~F.col("b2")).drop("b2")
        b = df.filter(F.col("b2")).drop("b2")
        s1 = merge_upsert(None, a, ["id"], tiebreakers=list(tiebreakers))
        seq = merge_upsert(s1, b, ["id"], tiebreakers=list(tiebreakers))
        return fused, seq

    def _rows(self, df):
        return sorted(
            (r["id"], r["val"], r["mtime"]) for r in df.collect()
        )

    def test_semantic_corners(self, spark):
        rows = [
            # key 1: newer A row wins over older B row (precombine)
            (1, "a-new", 100, False, False),
            (1, "b-old", 50, False, True),
            # key 2: mtime tie -> incoming batch B wins
            (2, "a-tie", 100, False, False),
            (2, "b-tie", 100, False, True),
            # key 3: A's latest is a delete -> older A insert must NOT
            # resurrect; B re-inserts
            (3, "a-old", 10, False, False),
            (3, None, 20, True, False),
            (3, "b-back", 5, False, True),
            # key 4: B delete newer than A state -> key dropped
            (4, "a", 10, False, False),
            (4, None, 20, True, True),
            # key 5: B delete OLDER than A state -> A survives (COW keeps it)
            (5, "a-survives", 30, False, False),
            (5, None, 20, True, True),
            # key 6: only in A; key 7: only in B; key 8: only-A delete
            (6, "only-a", 10, False, False),
            (7, "only-b", 10, False, True),
            (8, None, 10, True, False),
        ]
        fused, seq = self._both(spark, rows)
        got = self._rows(fused)
        assert got == self._rows(seq)
        assert got == [
            (1, "a-new", 100),
            (2, "b-tie", 100),
            (3, "b-back", 5),
            (5, "a-survives", 30),
            (6, "only-a", 10),
            (7, "only-b", 10),
        ]

    def test_randomized_equivalence(self, spark):
        import random

        rng = random.Random(7)
        rows = []
        for k in range(40):
            for i in range(rng.randint(0, 6)):
                rows.append(
                    (
                        k,
                        f"v{k}_{i}",
                        rng.randint(0, 5),  # dense mtimes force ties
                        rng.random() < 0.25,
                        rng.random() < 0.5,
                    )
                )
        # (mtime, val) unique per key per batch: val is unique per row
        fused, seq = self._both(spark, rows, tiebreakers=("val",))
        assert self._rows(fused) == self._rows(seq)

    def test_schema_and_columns_match_sequential(self, spark):
        rows = [(1, "a", 10, False, False), (2, "b", 20, False, True)]
        fused, seq = self._both(spark, rows)
        assert fused.columns == seq.columns or sorted(fused.columns) == sorted(
            seq.columns
        )
        assert fused.schema[
            "mtime"
        ].dataType == seq.schema["mtime"].dataType

    def test_requires_tiebreakers(self, spark):
        import pytest

        from kafka_cdc_hudi_spark.operators.merge import merge_upsert_two_batches

        df = _df(spark, [(1, "a", 10, False)])
        with pytest.raises(ValueError, match="tiebreakers"):
            merge_upsert_two_batches(df, F.lit(False), ["id"])

    def test_single_exchange_plan(self, spark):
        """The point of the fusion: ONE exchange, map-side partial agg."""
        df = spark.createDataFrame(
            [(1, "a", 10, False, False)],
            "id long, val string, mtime long, _deleted boolean, b2 boolean",
        )
        from kafka_cdc_hudi_spark.operators.merge import merge_upsert_two_batches

        out = merge_upsert_two_batches(df, F.col("b2"), ["id"], tiebreakers=["val"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert "partial_max" in plan.split("Exchange", 1)[-1], plan


class TestKeyedParquetTable:
    def test_versioned_merge_and_replay(self, spark, tmp_path):
        t = KeyedParquetTable(str(tmp_path / "tbl"), ["id"])
        b1 = _df(spark, [(1, "a", 10, False), (2, "b", 10, False)])
        assert t.merge_batch(spark, b1, batch_id=0)
        # replay of committed batch id is a no-op (at-least-once safety)
        assert not t.merge_batch(spark, b1, batch_id=0)
        b2 = _df(spark, [(1, "a2", 20, False), (2, None, 20, True)])
        assert t.merge_batch(spark, b2, batch_id=1)
        cur = t.read(spark)
        assert _state(cur) == {1: ("a2", 20)}

    def test_empty_batch_skipped(self, spark, tmp_path):
        t = KeyedParquetTable(str(tmp_path / "tbl"), ["id"])
        empty = _df(spark, []).filter(F.lit(False))
        assert not t.merge_batch(spark, empty, batch_id=0)
        assert not t.exists()

    def test_version_pruning(self, spark, tmp_path):
        import os

        t = KeyedParquetTable(str(tmp_path / "tbl"), ["id"], keep_versions=2)
        for i in range(5):
            t.merge_batch(spark, _df(spark, [(1, f"v{i}", i, False)]), batch_id=i)
        dirs = [d for d in os.listdir(t.root) if d.startswith("v_")]
        assert len(dirs) <= 2
        assert _state(t.read(spark)) == {1: ("v4", 4)}

    def test_incremental_diff(self, spark, tmp_path):
        t = KeyedParquetTable(str(tmp_path / "tbl"), ["id"], keep_versions=3)
        t.merge_batch(
            spark,
            _df(spark, [(1, "keep", 10, False), (2, "upd", 10, False), (3, "gone", 10, False)]),
            batch_id=0,
        )
        t.merge_batch(
            spark,
            _df(spark, [(2, "upd2", 20, False), (3, None, 20, True), (4, "new", 20, False)]),
            batch_id=1,
        )
        d = {r["id"]: (r["_change_type"], r["val"]) for r in t.diff(spark, 1, 2).collect()}
        assert d == {2: ("update", "upd2"), 3: ("delete", None), 4: ("insert", "new")}
        import pytest

        with pytest.raises(ValueError):
            t.diff(spark, 2, 1)
        with pytest.raises(FileNotFoundError):
            KeyedParquetTable(str(tmp_path / "nope"), ["id"]).diff(spark, 1)

    def test_diff_detects_column_swap(self, spark):
        """xxhash64(*cols) skips nulls so ('x', null) == (null, 'x'); the
        canonical-JSON row hash must not have that blind spot."""
        import tempfile

        root = tempfile.mkdtemp()
        t = KeyedParquetTable(root, ["id"], order_col="mtime")
        b1 = spark.createDataFrame(
            [(1, "x", None, 10, False)], "id int, a string, b string, mtime int, _deleted boolean"
        )
        t.merge_batch(spark, b1, batch_id=0)
        b2 = spark.createDataFrame(
            [(1, None, "x", 20, False)], "id int, a string, b string, mtime int, _deleted boolean"
        )
        t.merge_batch(spark, b2, batch_id=1)
        d = t.diff(spark, 1, 2).collect()
        assert len(d) == 1 and d[0]["_change_type"] == "update"

    def test_time_travel_read(self, spark, tmp_path):
        import pytest

        t = KeyedParquetTable(str(tmp_path / "tbl"), ["id"], keep_versions=3)
        t.merge_batch(spark, _df(spark, [(1, "old", 10, False)]), batch_id=0)
        t.merge_batch(spark, _df(spark, [(1, "new", 20, False)]), batch_id=1)
        assert t.versions() == [1, 2]
        assert _state(t.read(spark, version=1)) == {1: ("old", 10)}
        assert _state(t.read(spark)) == {1: ("new", 20)}
        with pytest.raises(FileNotFoundError):
            t.read(spark, version=99)


class TestPartialUpdateFold:
    """partial_update_fold == sequential pairwise OverwriteNonDefaults
    replay (delete clears, non-null overwrites, null leaves unchanged)."""

    def _fold(self, spark, rows):
        from kafka_cdc_hudi_spark.operators.merge import partial_update_fold

        df = spark.createDataFrame(
            rows, "k int, ord long, a string, b string, _deleted boolean"
        )
        out = partial_update_fold(df, ["k"], "ord")
        return {r.k: (r.a, r.b, r.ord) for r in out.collect()}

    def test_null_fields_do_not_clobber(self, spark):
        got = self._fold(
            spark,
            [
                (1, 10, "a1", "b1", False),
                (1, 20, None, "b2", False),  # a unchanged
                (1, 30, "a3", None, False),  # b unchanged
            ],
        )
        assert got == {1: ("a3", "b2", 30)}

    def test_delete_clears_older_values(self, spark):
        got = self._fold(
            spark,
            [
                (1, 10, "a1", "b1", False),
                (1, 20, None, None, True),  # delete
                (1, 30, None, "b3", False),  # re-insert with only b
            ],
        )
        # a1 must NOT resurrect across the delete
        assert got == {1: (None, "b3", 30)}

    def test_trailing_delete_drops_key(self, spark):
        got = self._fold(
            spark,
            [
                (1, 10, "a1", "b1", False),
                (1, 20, None, None, True),
                (2, 10, "x", None, False),
            ],
        )
        assert got == {2: ("x", None, 10)}

    def test_matches_sequential_replay(self, spark):
        import random

        rng = random.Random(42)
        rows = []
        for k in range(5):
            for i in range(40):
                rows.append(
                    (
                        k,
                        k * 1000 + i,
                        f"a{i}" if rng.random() < 0.4 else None,
                        f"b{i}" if rng.random() < 0.4 else None,
                        rng.random() < 0.1,
                    )
                )
        # python reference fold
        expect = {}
        for k, ordv, a, b, dele in sorted(rows):
            if dele:
                expect.pop(k, None)
            else:
                prev = expect.get(k, (None, None, None))
                expect[k] = (a if a is not None else prev[0],
                             b if b is not None else prev[1], ordv)
        assert self._fold(spark, rows) == expect


class TestMultiWriterLock:
    """The table lock (Hudi lock-provider parity): concurrent writers must
    serialize — every commit survives, none is silently dropped by a
    pointer race."""

    def test_concurrent_merges_all_commit(self, spark, tmp_path):
        import threading

        t = KeyedParquetTable(root=str(tmp_path / "mw"), keys=["id"], order_col="mtime")
        n_writers, per_writer = 4, 3
        errs = []

        def writer(w):
            try:
                for i in range(per_writer):
                    rows = [(w * 100 + i * 10 + j, f"w{w}b{i}", 10 + i, False)
                            for j in range(3)]
                    # distinct batch ids per writer so replay protection
                    # doesn't skip another writer's commit
                    t.merge_batch(
                        spark,
                        spark.createDataFrame(rows, SCHEMA),
                        batch_id=None,
                    )
            except Exception as e:  # pragma: no cover - failure reporting
                errs.append(e)

        threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errs, errs
        state = t.read(spark)
        assert state.count() == n_writers * per_writer * 3
        # every writer's every batch landed
        vals = {r["val"] for r in state.collect()}
        assert vals == {f"w{w}b{i}" for w in range(4) for i in range(3)}

    def test_stale_lock_is_broken(self, spark, tmp_path):
        import os

        t = KeyedParquetTable(root=str(tmp_path / "sl"), keys=["id"], order_col="mtime")
        os.makedirs(t.root, exist_ok=True)
        lock = os.path.join(t.root, ".commit_lock")
        with open(lock, "w") as f:
            f.write("dead-writer")
        old = __import__("time").time() - 10_000
        os.utime(lock, (old, old))
        # a fresh writer must break the abandoned lock and commit
        assert t.merge_batch(
            spark, spark.createDataFrame([(1, "a", 10, False)], SCHEMA), batch_id=0
        )
        assert t.read(spark).count() == 1

    def test_release_only_unlinks_own_lock(self, tmp_path):
        """A writer whose lock was stale-broken while it stalled must NOT
        unlink the new owner's live lock on release (ownership token)."""
        import os

        t = KeyedParquetTable(root=str(tmp_path / "own"), keys=["id"], order_col="mtime")
        os.makedirs(t.root, exist_ok=True)
        lock = os.path.join(t.root, ".commit_lock")
        cm = t._table_lock()
        cm.__enter__()  # writer A acquires
        # simulate: A stalls, its lock goes stale and is broken, writer B
        # acquires and writes its own token
        os.unlink(lock)
        with open(lock, "w") as f:
            f.write("writer-B-token")
        cm.__exit__(None, None, None)  # A resumes and releases
        assert os.path.exists(lock), "A unlinked B's live lock"
        with open(lock) as f:
            assert f.read() == "writer-B-token"
        os.unlink(lock)


def test_release_with_foreign_lock_never_renames(tmp_path, monkeypatch):
    """ADVICE r8: the release path must peek at the lock in place and
    leave a foreign LIVE lock completely untouched — no rename-claim,
    so the lock is never even transiently absent (the window where a
    third waiter could O_EXCL-acquire alongside the current owner)."""
    import os

    t = KeyedParquetTable(root=str(tmp_path / "peek"), keys=["id"], order_col="mtime")
    os.makedirs(t.root, exist_ok=True)
    lock = os.path.join(t.root, ".commit_lock")
    cm = t._table_lock()
    cm.__enter__()
    os.unlink(lock)  # A's lock stale-broken while it stalled
    with open(lock, "w") as f:
        f.write("writer-B-token")
    renames = []
    real_rename = os.rename
    monkeypatch.setattr(
        os, "rename", lambda a, b: (renames.append(a), real_rename(a, b))
    )
    cm.__exit__(None, None, None)
    assert renames == [], f"release rename-claimed a foreign live lock: {renames}"
    with open(lock) as f:
        assert f.read() == "writer-B-token"
    os.unlink(lock)


class TestWriteAmplificationAdvisory:
    """COW write-amp steering (VERDICT r12 item 3): past the byte floor, a
    state/churn ratio over the threshold warns ONCE per table object and
    points at cow-bucketed/MOR; MOR itself and small tables never warn."""

    def _table(self, tmp_path, monkeypatch, mode="cow"):
        t = KeyedParquetTable(str(tmp_path / f"amp_{mode}"), ["id"], mode=mode)
        monkeypatch.setattr(KeyedParquetTable, "_WRITE_AMP_MIN_BYTES", 0)
        monkeypatch.setattr(KeyedParquetTable, "_WRITE_AMP_WARN_RATIO", 10)
        return t

    def test_cow_warns_once_past_threshold(self, spark, tmp_path, monkeypatch):
        import warnings as w

        t = self._table(tmp_path, monkeypatch)
        big = _df(spark, [(i, "v", 10, False) for i in range(200)])
        t.merge_batch(spark, big, batch_id=1)
        small = _df(spark, [(1, "v2", 20, False)])
        with w.catch_warnings(record=True) as rec:
            w.simplefilter("always")
            t.merge_batch(spark, small, batch_id=2)
        msgs = [r for r in rec if issubclass(r.category, RuntimeWarning)]
        assert len(msgs) == 1
        assert "cow-bucketed" in str(msgs[0].message)
        assert "write amplification" in str(msgs[0].message)
        # once per table object: the next tiny commit stays silent
        with w.catch_warnings(record=True) as rec2:
            w.simplefilter("always")
            t.merge_batch(spark, _df(spark, [(2, "v3", 30, False)]), batch_id=3)
        assert not [r for r in rec2 if issubclass(r.category, RuntimeWarning)]

    def test_no_warning_below_ratio_or_on_mor(self, spark, tmp_path, monkeypatch):
        import warnings as w

        t = self._table(tmp_path, monkeypatch)
        t.merge_batch(spark, _df(spark, [(i, "v", 10, False) for i in range(20)]), batch_id=1)
        with w.catch_warnings(record=True) as rec:
            w.simplefilter("always")
            # 20/5 = 4x < 10x threshold
            t.merge_batch(spark, _df(spark, [(i, "u", 20, False) for i in range(5)]), batch_id=2)
        assert not [r for r in rec if issubclass(r.category, RuntimeWarning)]

        m = self._table(tmp_path, monkeypatch, mode="mor")
        m.merge_batch(spark, _df(spark, [(i, "v", 10, False) for i in range(200)]), batch_id=1)
        with w.catch_warnings(record=True) as rec3:
            w.simplefilter("always")
            m.merge_batch(spark, _df(spark, [(1, "v2", 20, False)]), batch_id=2)
        assert not [r for r in rec3 if issubclass(r.category, RuntimeWarning)]

    def test_commit_meta_records_rows(self, spark, tmp_path):
        t = KeyedParquetTable(str(tmp_path / "meta_rows"), ["id"])
        t.merge_batch(spark, _df(spark, [(i, "v", 10, False) for i in range(7)]), batch_id=1)
        meta = t.commit_meta()
        assert [m["rows"] for m in meta.values()] == [7]


def test_merge_annotations_resolve():
    """Every annotation in operators/merge.py names an imported type
    (``from __future__ import annotations`` defers the lookup to here)."""
    import inspect
    import typing

    from kafka_cdc_hudi_spark.operators import merge

    for _, fn in inspect.getmembers(merge, inspect.isfunction):
        if fn.__module__ == merge.__name__:
            typing.get_type_hints(fn)
