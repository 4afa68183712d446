"""Merge-on-read sink mode (sinks/keyed_table.py mode="mor").

The scale path the reference's Hudi COW setup lacks: O(batch) delta commits
+ read-time fold + compaction. Asserts (a) MOR read state ≡ COW state for
the same commit sequence, (b) the documented tombstone divergence, (c)
compaction equivalence + pruning, (d) replay/time-travel/diff behavior.
"""

import re

import pytest
from pyspark.sql import functions as F

from kafka_cdc_hudi_spark.operators.merge import merge_upsert
from kafka_cdc_hudi_spark.sinks.keyed_table import KeyedParquetTable

SCHEMA = "id long, val string, mtime long, _deleted boolean"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _state(df):
    return {r["id"]: (r["val"], r["mtime"]) for r in df.collect()}


BATCHES = [
    [(1, "a", 10, False), (2, "b", 10, False), (1, "a1", 11, False)],  # in-batch dup
    [(1, "a2", 20, False), (2, None, 20, True), (3, "c", 20, False)],  # delete
    [(1, "stale", 5, False), (4, "d", 30, False)],                     # late event
    [(3, "c2", 40, False), (4, None, 41, True)],
]


def _mor(tmp_path, name="t", **kw):
    return KeyedParquetTable(
        root=str(tmp_path / name), keys=["id"], order_col="mtime", mode="mor", **kw
    )


class TestMorEquivalence:
    def test_matches_cow_fold(self, spark, tmp_path):
        cow = KeyedParquetTable(root=str(tmp_path / "cow"), keys=["id"])
        mor = _mor(tmp_path)
        for i, rows in enumerate(BATCHES):
            b = _df(spark, rows)
            assert cow.merge_batch(spark, b, batch_id=i)
            assert mor.merge_batch(spark, b, batch_id=i)
        assert _state(mor.read(spark)) == _state(cow.read(spark)) == {
            1: ("a2", 20),
            3: ("c2", 40),
        }

    def test_compaction_preserves_state_and_prunes_deltas(self, spark, tmp_path):
        mor = _mor(tmp_path)
        for i, rows in enumerate(BATCHES):
            mor.merge_batch(spark, _df(spark, rows), batch_id=i)
        before = _state(mor.read(spark))
        v = mor.compact(spark)
        assert v == 5  # 4 delta commits + compaction commit
        assert _state(mor.read(spark)) == before
        bases, deltas = mor._commit_dirs()
        assert deltas == [] and bases == [5]
        # second compact is a no-op
        assert mor.compact(spark) is None

    def test_auto_compaction(self, spark, tmp_path):
        mor = _mor(tmp_path, name="auto", compact_every=2)
        for i, rows in enumerate(BATCHES):
            mor.merge_batch(spark, _df(spark, rows), batch_id=i)
        bases, deltas = mor._commit_dirs()
        assert len(deltas) < 2  # never accumulates compact_every deltas
        assert _state(mor.read(spark)) == {1: ("a2", 20), 3: ("c2", 40)}

    def test_commits_resume_after_compaction(self, spark, tmp_path):
        mor = _mor(tmp_path)
        for i, rows in enumerate(BATCHES[:2]):
            mor.merge_batch(spark, _df(spark, rows), batch_id=i)
        mor.compact(spark)
        mor.merge_batch(spark, _df(spark, BATCHES[2]), batch_id=2)
        assert _state(mor.read(spark)) == {1: ("a2", 20), 3: ("c", 20), 4: ("d", 30)}


class TestMorSemantics:
    def test_replayed_batch_is_noop(self, spark, tmp_path):
        mor = _mor(tmp_path)
        b = _df(spark, BATCHES[0])
        assert mor.merge_batch(spark, b, batch_id=0)
        assert not mor.merge_batch(spark, b, batch_id=0)
        assert len(mor.versions()) == 1

    def test_empty_batch_skipped(self, spark, tmp_path):
        mor = _mor(tmp_path)
        assert not mor.merge_batch(spark, _df(spark, []), batch_id=0)
        assert not mor.exists()

    def test_tombstone_suppresses_older_late_insert_until_compaction(
        self, spark, tmp_path
    ):
        """Documented MOR/COW divergence (Hudi MOR log-merge): a delete with
        newer mtime beats an older insert arriving in a later commit; after
        compaction the tombstone is gone and the horizon resets."""
        mor = _mor(tmp_path)
        mor.merge_batch(spark, _df(spark, [(1, None, 100, True)]), batch_id=0)
        mor.merge_batch(spark, _df(spark, [(1, "late-old", 50, False)]), batch_id=1)
        assert _state(mor.read(spark)) == {}  # tombstone wins by mtime
        mor.compact(spark)
        mor.merge_batch(spark, _df(spark, [(1, "late-old2", 60, False)]), batch_id=2)
        assert _state(mor.read(spark)) == {1: ("late-old2", 60)}

    def test_delete_then_newer_reinsert(self, spark, tmp_path):
        mor = _mor(tmp_path)
        mor.merge_batch(spark, _df(spark, [(1, "a", 10, False)]), batch_id=0)
        mor.merge_batch(spark, _df(spark, [(1, None, 20, True)]), batch_id=1)
        assert _state(mor.read(spark)) == {}
        mor.merge_batch(spark, _df(spark, [(1, "back", 30, False)]), batch_id=2)
        assert _state(mor.read(spark)) == {1: ("back", 30)}

    def test_schema_drift_across_deltas(self, spark, tmp_path):
        mor = _mor(tmp_path)
        mor.merge_batch(spark, _df(spark, [(1, "a", 10, False)]), batch_id=0)
        drifted = spark.createDataFrame(
            [(2, "b", 20, False, "extra")],
            "id long, val string, mtime long, _deleted boolean, note string",
        )
        mor.merge_batch(spark, drifted, batch_id=1)
        got = {r["id"]: r["note"] for r in mor.read(spark).collect()}
        assert got == {1: None, 2: "extra"}
        mor.compact(spark)
        got = {r["id"]: r["note"] for r in mor.read(spark).collect()}
        assert got == {1: None, 2: "extra"}


class TestMorTimeTravelAndDiff:
    def test_time_travel_reads_delta_versions(self, spark, tmp_path):
        mor = _mor(tmp_path)
        for i, rows in enumerate(BATCHES):
            mor.merge_batch(spark, _df(spark, rows), batch_id=i)
        assert mor.versions() == [1, 2, 3, 4]
        assert _state(mor.read(spark, version=1)) == {1: ("a1", 11), 2: ("b", 10)}
        assert _state(mor.read(spark, version=2)) == {1: ("a2", 20), 3: ("c", 20)}

    def test_pruned_version_raises(self, spark, tmp_path):
        mor = _mor(tmp_path)
        for i, rows in enumerate(BATCHES[:2]):
            mor.merge_batch(spark, _df(spark, rows), batch_id=i)
        mor.compact(spark)
        with pytest.raises(FileNotFoundError):
            mor.read(spark, version=1)

    def test_diff_across_delta_versions(self, spark, tmp_path):
        mor = _mor(tmp_path)
        for i, rows in enumerate(BATCHES[:2]):
            mor.merge_batch(spark, _df(spark, rows), batch_id=i)
        d = mor.diff(spark, 1, 2)
        changes = {r["id"]: r["_change_type"] for r in d.collect()}
        assert changes == {1: "update", 2: "delete", 3: "insert"}


class TestMorCrashRecovery:
    """The commit protocol must survive a writer dying at any point between
    directory write and pointer update (the manifest makes orphan dirs
    invisible; version allocation never reuses their numbers)."""

    def test_crashed_compaction_does_not_lose_next_commit(self, spark, tmp_path):
        """Regression: compact() dying after the base write but before the
        pointer update used to leave an orphan base v_{N+1}; the next delta
        commit then took the same number, _resolve preferred the stale base,
        and that committed batch silently vanished."""
        mor = _mor(tmp_path)
        for i, rows in enumerate(BATCHES[:2]):
            mor.merge_batch(spark, _df(spark, rows), batch_id=i)
        before = _state(mor.read(spark))

        class Crash(RuntimeError):
            pass

        real_write = mor._write_pointer

        def dying_write(*a, **kw):
            raise Crash("died between base write and pointer update")

        mor._write_pointer = dying_write
        with pytest.raises(Crash):
            mor.compact(spark)
        mor._write_pointer = real_write

        # orphan base exists on disk but is not committed
        disk_bases, _ = mor._commit_dirs()
        assert disk_bases, "crash left an orphan base"
        assert _state(mor.read(spark)) == before  # reads unaffected

        # the next committed batch must survive the orphan
        assert mor.merge_batch(spark, _df(spark, BATCHES[2]), batch_id=2)
        assert _state(mor.read(spark)) == {
            1: ("a2", 20), 3: ("c", 20), 4: ("d", 30),
        }
        # recovery compaction folds the real state and sweeps the orphan
        v = mor.compact(spark)
        assert v is not None
        assert _state(mor.read(spark)) == {1: ("a2", 20), 3: ("c", 20), 4: ("d", 30)}
        disk_bases, disk_deltas = mor._commit_dirs()
        assert disk_bases == [v] and disk_deltas == []

    def test_crashed_delta_write_is_invisible_and_replay_safe(self, spark, tmp_path):
        """A delta dir written without its pointer update (crash mid-commit)
        must not leak into reads; the stream replays the batch under a new
        version and the fold dedupes."""
        mor = _mor(tmp_path)
        mor.merge_batch(spark, _df(spark, BATCHES[0]), batch_id=0)

        real_write = mor._write_pointer
        mor._write_pointer = lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("crash"))
        with pytest.raises(RuntimeError):
            mor.merge_batch(spark, _df(spark, BATCHES[1]), batch_id=1)
        mor._write_pointer = real_write

        # orphan delta on disk, but reads see only batch 0
        assert _state(mor.read(spark)) == {1: ("a1", 11), 2: ("b", 10)}
        assert mor.last_batch_id() == 0
        # at-least-once replay commits the batch for real
        assert mor.merge_batch(spark, _df(spark, BATCHES[1]), batch_id=1)
        assert _state(mor.read(spark)) == {1: ("a2", 20), 3: ("c", 20)}

    def test_unreadable_delta_footer_fails_stop(self, spark, tmp_path, monkeypatch):
        """The MOR empty gate counts rows from the delta's footers; an
        unreadable footer leaves the count unknown. The merge must roll the
        delta back and raise, not commit it unexamined."""
        import pyarrow.parquet as pq

        mor = _mor(tmp_path)
        mor.merge_batch(spark, _df(spark, BATCHES[0]), batch_id=0)
        with open(mor._pointer_path) as f:
            before = f.read()

        def unreadable(*a, **kw):
            raise OSError("corrupt footer")

        monkeypatch.setattr(pq, "ParquetFile", unreadable)
        with pytest.raises(RuntimeError, match="unreadable parquet footer"):
            mor.merge_batch(spark, _df(spark, BATCHES[1]), batch_id=1)
        monkeypatch.undo()

        with open(mor._pointer_path) as f:
            assert f.read() == before
        assert mor._commit_dirs()[1] == [1]  # rolled-back delta dir removed
        assert mor.last_batch_id() == 0
        assert _state(mor.read(spark)) == {1: ("a1", 11), 2: ("b", 10)}

    def test_read_beyond_committed_version_raises(self, spark, tmp_path):
        mor = _mor(tmp_path)
        mor.merge_batch(spark, _df(spark, BATCHES[0]), batch_id=0)
        with pytest.raises(FileNotFoundError):
            mor.read(spark, version=99)


class TestMorChangeStream:
    def test_stream_changes_tails_new_commits(self, spark, tmp_path):
        """Downstream chaining: a structured stream over the delta log sees
        commits made after the stream started, with commit seq + tombstones."""
        mor = _mor(tmp_path)
        mor.merge_batch(spark, _df(spark, BATCHES[0]), batch_id=0)
        q = (
            mor.stream_changes(spark)
            .writeStream.format("memory")
            .queryName("mor_tail")
            .option("checkpointLocation", str(tmp_path / "ckpt_tail"))
            .start()
        )
        try:
            q.processAllAvailable()
            mor.merge_batch(spark, _df(spark, BATCHES[1]), batch_id=1)
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.sql(
            "select id, val, _deleted, __commit_seq from mor_tail"
        ).collect()
        by_seq = {}
        for r in rows:
            by_seq.setdefault(r["__commit_seq"], set()).add((r["id"], r["val"], r["_deleted"]))
        # commit 1 = batch 0 deduped (latest per key kept), commit 2 = batch 1
        assert by_seq[1] == {(1, "a1", False), (2, "b", False)}
        assert by_seq[2] == {(1, "a2", False), (2, None, True), (3, "c", False)}

    def test_stream_changes_rejects_cow(self, spark, tmp_path):
        cow = KeyedParquetTable(root=str(tmp_path / "cw"), keys=["id"])
        cow.merge_batch(spark, _df(spark, BATCHES[0]), batch_id=0)
        with pytest.raises(ValueError, match="requires mode='mor'"):
            cow.stream_changes(spark)


class TestMorCompositeKeyAndDriverParity:
    def test_composite_key(self, spark, tmp_path):
        mor = KeyedParquetTable(
            root=str(tmp_path / "ck"), keys=["id", "val"], order_col="mtime", mode="mor"
        )
        mor.merge_batch(
            spark,
            _df(spark, [(1, "x", 10, False), (1, "y", 10, False)]),
            batch_id=0,
        )
        mor.merge_batch(spark, _df(spark, [(1, "x", 20, True)]), batch_id=1)
        assert {(r["id"], r["val"]) for r in mor.read(spark).collect()} == {(1, "y")}

    def test_mor_vs_cow_property(self, spark, tmp_path):
        """Time-ordered commits (each commit's events newer than the last,
        the normal CDC shape): MOR ≡ COW, including interleaved deletes and
        in-batch duplicates. As long as no delete precedes an older insert
        across commits the two modes agree (the divergence case is pinned in
        TestMorSemantics)."""
        rows = [
            (i % 7, f"v{i}", 100 + i, (i % 11 == 0))
            for i in range(60)
        ]
        chunks = [rows[i * 12 : (i + 1) * 12] for i in range(5)]
        cow_state = None
        mor = _mor(tmp_path, name="prop")
        for i, chunk in enumerate(chunks):
            b = _df(spark, chunk)
            cow_state = merge_upsert(cow_state, b, ["id"])
            mor.merge_batch(spark, b, batch_id=i)
        assert _state(mor.read(spark)) == _state(cow_state)


def test_streaming_driver_mor_end_to_end(spark, tmp_path):
    """Full driver path with sink_mode=mor: parse -> route -> delta commits,
    auto-compaction, and final state parity with the declared semantics."""
    import json as _json

    from kafka_cdc_hudi_spark.config import DIALECT_DEBEZIUM, JobConfig, TableSpec
    from kafka_cdc_hudi_spark.sources.kafka import json_file_value_stream
    from kafka_cdc_hudi_spark.streaming.driver import CdcStreamDriver
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    payload = StructType(
        [StructField("id", LongType(), True), StructField("val", StringType(), True)]
    )

    def dbz(op, after=None, before=None, ts_ms=0):
        return _json.dumps(
            {"before": before, "after": after, "op": op, "ts_ms": ts_ms, "db": "d1", "table": "t1"}
        )

    src = tmp_path / "src"
    src.mkdir()
    cfg = JobConfig(
        dialect=DIALECT_DEBEZIUM,
        tables=[TableSpec("d1", "t1", ("id",))],
        sink_root=str(tmp_path / "sink"),
        sink_mode="mor",
        compact_every=2,
        checkpoint_location=str(tmp_path / "ckpt"),
        trigger_interval="1 seconds",
        max_workers=1,
    )
    driver = CdcStreamDriver(spark, cfg, payload_schemas={"t1": payload})
    (src / "b1.json").write_text(
        "\n".join(
            [
                dbz("c", after={"id": 1, "val": "a"}, ts_ms=10),
                dbz("u", after={"id": 1, "val": "a2"}, ts_ms=20),
                dbz("c", after={"id": 2, "val": "b"}, ts_ms=10),
            ]
        )
        + "\n"
    )
    (src / "b2.json").write_text(
        "\n".join(
            [
                dbz("d", before={"id": 2, "val": "b"}, ts_ms=30),
                dbz("c", after={"id": 3, "val": "c"}, ts_ms=30),
            ]
        )
        + "\n"
    )
    q = driver.start(json_file_value_stream(spark, str(src), max_files_per_trigger=1))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sink = driver.sink_for(cfg.tables[0])
    assert sink.mode == "mor"
    got = {(r["id"], r["val"]) for r in sink.read(spark).collect()}
    assert got == {(1, "a2"), (3, "c")}
    bases, deltas = sink._commit_dirs()
    assert bases, "auto-compaction should have produced a base snapshot"


def test_read_optimized_skips_delta_fold(spark, tmp_path):
    """read(read_optimized=True) = latest base only (Hudi _ro query type):
    stale up to the last compaction, scan-only cost, and exactly what the
    catalog-synced _ro table exposes."""
    from kafka_cdc_hudi_spark.sinks.keyed_table import KeyedParquetTable

    t = KeyedParquetTable(str(tmp_path / "t"), keys=["id"], order_col="mtime", mode="mor")
    b1 = spark.createDataFrame(
        [(1, 10, False, "x"), (2, 10, False, "y")],
        "id long, mtime long, _deleted boolean, val string",
    )
    t.merge_batch(spark, b1, batch_id=0)
    assert t.read(spark, read_optimized=True) is None  # delta-only: no base yet
    t.compact(spark)
    b2 = spark.createDataFrame(
        [(1, 20, False, "x2")], "id long, mtime long, _deleted boolean, val string"
    )
    t.merge_batch(spark, b2, batch_id=1)
    rt = {(r["id"], r["val"]) for r in t.read(spark).collect()}
    ro = {(r["id"], r["val"]) for r in t.read(spark, read_optimized=True).collect()}
    assert rt == {(1, "x2"), (2, "y")}  # real-time: delta folded
    assert ro == {(1, "x"), (2, "y")}  # read-optimized: base as of compaction


class TestSizeBasedCompaction:
    """compact_bytes_ratio: the Hudi log-file-size compaction strategy —
    pending delta bytes vs base bytes, metadata-only."""

    def test_small_ratio_compacts_eagerly(self, spark, tmp_path):
        # deltas are roughly base-sized here, so ratio 0.1 fires every batch
        mor = _mor(tmp_path, name="sz", compact_every=None, compact_bytes_ratio=0.1)
        for i, rows in enumerate(BATCHES):
            mor.merge_batch(spark, _df(spark, rows), batch_id=i)
            _bases, deltas = mor._commit_dirs()
            assert deltas == [], "size trigger should fold every batch"
        assert _state(mor.read(spark)) == {1: ("a2", 20), 3: ("c2", 40)}

    def test_huge_ratio_never_compacts(self, spark, tmp_path):
        mor = _mor(tmp_path, name="nz", compact_every=None, compact_bytes_ratio=1e9)
        mor.merge_batch(spark, _df(spark, BATCHES[0]), batch_id=0)  # first: no base -> folds
        for i, rows in enumerate(BATCHES[1:], start=1):
            mor.merge_batch(spark, _df(spark, rows), batch_id=i)
        _bases, deltas = mor._commit_dirs()
        assert len(deltas) == 3, "ratio 1e9 must never re-fire after the first base"
        assert _state(mor.read(spark)) == {1: ("a2", 20), 3: ("c2", 40)}

    def test_composes_with_count_trigger(self, spark, tmp_path):
        # huge ratio (never fires) + count trigger 2: count wins
        mor = _mor(tmp_path, name="both", compact_every=2, compact_bytes_ratio=1e9)
        for i, rows in enumerate(BATCHES):
            mor.merge_batch(spark, _df(spark, rows), batch_id=i)
            _bases, deltas = mor._commit_dirs()
            assert len(deltas) < 2
        assert _state(mor.read(spark)) == {1: ("a2", 20), 3: ("c2", 40)}


class TestReadWhereKeys:
    def test_equivalent_to_read_filter_and_prunes_below_fold(self, spark, tmp_path):
        """Each key-restricted reader == read().filter, with the key
        predicate applied BELOW the MOR fold: in the optimized plan it
        sits under the aggregate on both the base and the delta scan (no
        full-log fold)."""
        t = _mor(tmp_path, "rwk", compact_every=2)
        for i, b in enumerate(BATCHES[:3]):
            t.merge_batch(spark, _df(spark, b), batch_id=i)
        assert len(t._resolve(t._read_pointer()["version"])[1]) == 1  # base + a delta
        want = _state(t.read(spark).filter(F.col("id").isin([1, 3])))
        # tombstoned key (2) and unselected key (4) absent
        assert set(want) == {1, 3}
        readers = {  # key 2 is tombstoned, so the id range 1..3 selects 1 and 3
            "read_where_keys": lambda t: t.read_where_keys(spark, F.col("id").isin([1, 3])),
            "read_keys": lambda t: t.read_keys(spark, [(1,), (3,)]),
            "read_range": lambda t: t.read_range(spark, "id", 1, 3),
        }
        for reader, read in readers.items():
            got_df = read(t)
            assert _state(got_df) == want, reader
            plan = got_df._jdf.queryExecution().optimizedPlan().toString()
            above, _, below = plan.partition("Aggregate")
            assert below and not re.search(r"Filter .*\bid#", above), (reader, plan)
            assert len(re.findall(r"Filter .*\bid#", below)) == 2, (reader, plan)
            # empty table -> None
            assert read(_mor(tmp_path, "rwk_empty")) is None, reader

    def test_base_plus_deltas_after_compaction(self, spark, tmp_path):
        t = _mor(tmp_path, "rwk2", compact_every=2)
        for i, b in enumerate(BATCHES):
            t.merge_batch(spark, _df(spark, b), batch_id=i)
        pred = F.col("id") >= 3
        assert _state(t.read_where_keys(spark, pred)) == _state(
            t.read(spark).filter(pred)
        )
