"""Incremental SCD Type-2 maintenance (streaming/scd2.py, VERDICT r8 item 5):
the maintained history table must equal the batch reconstruction
(operators/temporal.py:scd2_history over the full log) after EVERY batch
prefix — including out-of-order corrections and late tombstones — and be
replay/restart idempotent under the real streaming engine."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_cdc_hudi_spark.operators.temporal import scd2_history
from kafka_cdc_hudi_spark.streaming.scd2 import Scd2HistoryMaintainer

SCHEMA = "id long, mtime long, val string, _deleted boolean"


def _hist_set(df):
    return {
        (r["id"], r["mtime"], r["val"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in df.collect()
    }


def _batch_oracle(spark, rows):
    log = spark.createDataFrame(rows, SCHEMA)
    return scd2_history(log, ["id"], "mtime", tiebreakers=["val"]).drop("_deleted")


class TestMaintainerEquivalence:
    @pytest.mark.parametrize("history_mode", ["cow", "cow-bucketed", "mor"])
    def test_prefix_equivalence_with_ooo_and_deletes(self, spark, tmp_path, history_mode):
        m = Scd2HistoryMaintainer(
            root=str(tmp_path / "scd2"),
            keys=["id"],
            ts_col="mtime",
            tiebreakers=["val"],
            history_mode=history_mode,
            n_buckets=4,
            # small enough that the 4-batch script crosses a compaction
            history_compact_every=2,
        )
        batches = [
            # b0: two keys open
            [(1, 10, "a", False), (2, 10, "x", False)],
            # b1: key 1 updates twice in one batch; key 2 deleted
            [(1, 20, "b", False), (1, 30, "c", False), (2, 25, None, True)],
            # b2: OUT-OF-ORDER late event for key 1 at ts=15 (splits the
            # [10, 20) interval); key 2 re-inserts after its delete
            [(1, 15, "late", False), (2, 40, "y", False)],
            # b3: late tombstone INSIDE key 1's history at ts=25 (truncates
            # [20, 30): version c's predecessor now closes at the delete)
            [(1, 25, None, True)],
        ]
        seen = []
        for i, rows in enumerate(batches):
            assert m.apply_batch(spark, spark.createDataFrame(rows, SCHEMA), batch_id=i)
            seen.extend(rows)
            got = _hist_set(m.read(spark))
            want = _hist_set(_batch_oracle(spark, seen))
            assert got == want, f"divergence after batch {i}"
        # non-vacuity of the hard cases: the late event really split an
        # interval (valid_to of v(ts=10) is now 15), and the late tombstone
        # left key 1 with closed versions only at ts>=20
        final = {(r["id"], r["valid_from"]): r for r in m.read(spark).collect()}
        assert final[(1, 10)]["valid_to"] == 15
        assert final[(1, 15)]["valid_to"] == 20
        assert final[(1, 20)]["valid_to"] == 25  # truncated by late tombstone
        assert (1, 30) in final and final[(1, 30)]["is_current"]
        assert final[(2, 40)]["is_current"]

    def test_replay_is_noop(self, spark, tmp_path):
        m = Scd2HistoryMaintainer(
            root=str(tmp_path / "rp"), keys=["id"], ts_col="mtime", tiebreakers=["val"]
        )
        b0 = spark.createDataFrame([(1, 10, "a", False), (1, 20, "b", False)], SCHEMA)
        assert m.apply_batch(spark, b0, batch_id=0)
        before = _hist_set(m.read(spark))
        # full replay: both tables skip on the batch-id pointer protocol
        assert not m.apply_batch(spark, b0, batch_id=0)
        assert _hist_set(m.read(spark)) == before
        # empty batch is a no-op too
        assert not m.apply_batch(spark, b0.limit(0), batch_id=1)
        assert _hist_set(m.read(spark)) == before

    def test_untouched_keys_not_recomputed(self, spark, tmp_path):
        """Change-set cost: a batch touching key 2 must not rewrite key 1's
        history rows (their __hseq stays at the batch that wrote them)."""
        m = Scd2HistoryMaintainer(
            root=str(tmp_path / "cs"), keys=["id"], ts_col="mtime", tiebreakers=["val"]
        )
        m.apply_batch(
            spark,
            spark.createDataFrame([(1, 10, "a", False), (2, 10, "x", False)], SCHEMA),
            batch_id=0,
        )
        m.apply_batch(
            spark, spark.createDataFrame([(2, 20, "y", False)], SCHEMA), batch_id=1
        )
        seq = {
            (r["id"], r["valid_from"]): r["__hseq"]
            for r in m.history.read(spark).collect()
        }
        assert seq[(1, 10)] == 0  # untouched key: row not rewritten
        assert seq[(2, 10)] == 1 and seq[(2, 20)] == 1  # affected key rebuilt


MODES = ["cow", "cow-bucketed", "mor"]


def _fed_oracle(spark, batches):
    """scd2_history over every event fed so far; an event replaces an
    earlier-fed one with the same event key (id, mtime, val), the rule
    the maintainer applies across batches."""
    latest = {}
    for rows in batches:
        for r in rows:
            latest[r[:3]] = r
    return _hist_set(_batch_oracle(spark, list(latest.values())))


class TestStoredTombstones:
    """Hard cases of the one-table history: delete events are stored rows,
    so a later batch's late event still sees every earlier delete."""

    def _run(self, spark, tmp_path, mode, batches):
        m = Scd2HistoryMaintainer(
            root=str(tmp_path / "st"), keys=["id"], ts_col="mtime",
            tiebreakers=["val"], history_mode=mode, n_buckets=4,
            history_compact_every=2,
        )
        for i, rows in enumerate(batches):
            assert m.apply_batch(spark, spark.createDataFrame(rows, SCHEMA), batch_id=i)
            got = _hist_set(m.read(spark))
            assert got == _fed_oracle(spark, batches[: i + 1]), f"divergence after batch {i}"
        return {(r[0], r[3]): r for r in got}

    @pytest.mark.parametrize("history_mode", MODES)
    def test_late_insert_between_two_stored_deletes(self, spark, tmp_path, history_mode):
        # without the delete@7 row stored, the late insert@6 would stay open
        final = self._run(spark, tmp_path, history_mode, [
            [(1, 1, "a", False)],
            [(1, 5, None, True)],
            [(1, 7, None, True)],
            [(1, 6, "b", False)],
        ])
        assert {(k[1], r[4]) for k, r in final.items()} == {(1, 5), (6, 7)}

    @pytest.mark.parametrize("history_mode", MODES)
    def test_delete_of_unknown_key_then_earlier_late_insert(self, spark, tmp_path, history_mode):
        final = self._run(spark, tmp_path, history_mode, [
            [(2, 10, None, True), (3, 10, "k", False)],
            [(2, 5, "x", False)],
        ])
        assert final[(2, 5)][4] == 10 and not final[(2, 5)][5]

    @pytest.mark.parametrize("history_mode", MODES)
    def test_same_event_key_in_later_batch_replaces_stored(self, spark, tmp_path, history_mode):
        # the event (3, 10, "a") turns into a delete and back into an insert
        final = self._run(spark, tmp_path, history_mode, [
            [(3, 10, "a", False), (3, 20, "b", False)],
            [(3, 10, "a", True)],
            [(3, 10, "a", False)],
        ])
        assert final[(3, 10)][4] == 20 and final[(3, 20)][5]

    @pytest.mark.parametrize("history_mode", MODES)
    def test_over_cap_batch_touches_stored_keys(self, spark, tmp_path, history_mode):
        """A second batch past the key-literal cap reads the stored rows
        through the broadcast semi-join, over keys that already have
        history: updates, deletes and late events on every stored key."""
        from kafka_cdc_hudi_spark.sinks.keyed_table import MAX_KEY_LITERALS

        n = MAX_KEY_LITERALS + 50
        m = Scd2HistoryMaintainer(
            root=str(tmp_path / "oc"), keys=["id"], ts_col="mtime",
            tiebreakers=["val"], history_mode=history_mode, n_buckets=4,
        )
        b0 = spark.range(n).selectExpr("id", "10L AS mtime", "'a' AS val", "false AS _deleted")
        b1 = spark.range(n).selectExpr(
            "id",
            "CASE WHEN id % 3 = 0 THEN 5L WHEN id % 3 = 1 THEN 20L ELSE 15L END AS mtime",
            "CASE WHEN id % 3 = 2 THEN NULL ELSE 'b' END AS val",
            "id % 3 = 2 AS _deleted",
        )
        fed = None
        for i, b in enumerate([b0, b1]):
            assert m.apply_batch(spark, b, batch_id=i)
            fed = b if fed is None else fed.unionByName(b)
            want = _hist_set(
                scd2_history(fed, ["id"], "mtime", tiebreakers=["val"]).drop("_deleted")
            )
            assert _hist_set(m.read(spark)) == want, f"divergence after batch {i}"
        cur = m.read(spark).filter("is_current").count()
        assert cur == n - len(range(2, n, 3))

    @pytest.mark.parametrize("history_mode", MODES)
    def test_two_table_root_fails_stop(self, spark, tmp_path, history_mode):
        root = tmp_path / "legacy"
        (root / "log").mkdir(parents=True)
        m = Scd2HistoryMaintainer(
            root=str(root), keys=["id"], ts_col="mtime", history_mode=history_mode
        )
        batch = spark.createDataFrame([(1, 10, "a", False)], SCHEMA)
        with pytest.raises(ValueError, match="two-table SCD2 layout"):
            m.apply_batch(spark, batch, batch_id=0)
        with pytest.raises(ValueError, match="two-table SCD2 layout"):
            m.read(spark)
        assert not (root / "history").exists()


def _dbz(op, after=None, before=None, ts_ms=0, db="d1", table="t1"):
    return json.dumps(
        {"before": before, "after": after, "op": op, "ts_ms": ts_ms, "db": db, "table": table}
    )


def _write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


PAYLOAD = StructType(
    [StructField("id", LongType(), True), StructField("val", StringType(), True)]
)


class TestStreamingEngine:
    def test_driver_maintains_history_and_restart_idempotent(self, spark, tmp_path):
        from kafka_cdc_hudi_spark.config import DIALECT_DEBEZIUM, JobConfig, TableSpec
        from kafka_cdc_hudi_spark.sources.kafka import json_file_value_stream
        from kafka_cdc_hudi_spark.streaming.driver import CdcStreamDriver

        src = tmp_path / "src"
        src.mkdir()
        cfg = JobConfig(
            dialect=DIALECT_DEBEZIUM,
            tables=[TableSpec("d1", "t1", ("id",))],
            sink_root=str(tmp_path / "sink"),
            checkpoint_location=str(tmp_path / "ckpt"),
            max_workers=1,
            scd2_history=True,
            scd2_tiebreakers=("val",),
            trigger_interval="1 seconds",
        )
        driver = CdcStreamDriver(spark, cfg, payload_schemas={"t1": PAYLOAD})
        _write_lines(
            src / "b1.json",
            [
                _dbz("c", after={"id": 1, "val": "a"}, ts_ms=10),
                _dbz("u", after={"id": 1, "val": "a2"}, ts_ms=30),
                _dbz("c", after={"id": 2, "val": "b"}, ts_ms=10),
            ],
        )
        q = driver.start(json_file_value_stream(spark, str(src)))
        q.processAllAvailable()
        _write_lines(
            src / "b2.json",
            [
                _dbz("d", before={"id": 2, "val": "b"}, ts_ms=40),
                _dbz("u", after={"id": 1, "val": "a3"}, ts_ms=50),
            ],
        )
        q.processAllAvailable()
        q.stop()

        m = driver.scd2_for(cfg.tables[0])
        hist = {
            (r["id"], r["valid_from"], r["valid_to"], r["is_current"], r["val"])
            for r in m.read(spark).collect()
        }
        assert hist == {
            (1, 10, 30, False, "a"),
            (1, 30, 50, False, "a2"),
            (1, 50, None, True, "a3"),
            (2, 10, 40, False, "b"),  # delete closed it; no current row for 2
        }
        # the merge sink still holds ONLY the latest rows (history is additive)
        state = {(r["id"], r["val"]) for r in driver.sink_for(cfg.tables[0]).read(spark).collect()}
        assert state == {(1, "a3")}

        # fresh driver on the same checkpoint: replays must be no-ops
        driver2 = CdcStreamDriver(spark, cfg, payload_schemas={"t1": PAYLOAD})
        q2 = driver2.start(json_file_value_stream(spark, str(src)))
        q2.processAllAvailable()
        q2.stop()
        hist2 = {
            (r["id"], r["valid_from"], r["valid_to"], r["is_current"], r["val"])
            for r in driver2.scd2_for(cfg.tables[0]).read(spark).collect()
        }
        assert hist2 == hist

    def test_batch_entry_consistency(self, spark, tmp_path):
        """The maintained history over the driver fixture equals the batch
        scd2_history over the same parsed events (cross-check of the two
        SCD2 surfaces on real Debezium envelopes)."""
        from kafka_cdc_hudi_spark.operators.cdc import parse_debezium
        from kafka_cdc_hudi_spark.plans.cdc_fixtures import debezium_envelopes
        from kafka_cdc_hudi_spark.sources.tables import load_table

        from .conftest import SF_DIR

        ev = load_table(spark, SF_DIR, "events").filter(F.col("user_id") < 5)
        parsed = parse_debezium(
            debezium_envelopes(ev),
            load_table(spark, SF_DIR, "events").select(
                "event_id", "ts", "user_id", "event_type", "value", "props"
            ).schema,
        ).drop("operation")
        m = Scd2HistoryMaintainer(
            root=str(tmp_path / "x"),
            keys=["user_id"],
            ts_col="mtime",
            tiebreakers=["event_id"],
        )
        # split into 2 batches by position (parity) — order stress included
        m.apply_batch(spark, parsed.filter(F.col("event_id") % 2 == 0), batch_id=0)
        m.apply_batch(spark, parsed.filter(F.col("event_id") % 2 == 1), batch_id=1)
        want = scd2_history(
            parsed, ["user_id"], "mtime", tiebreakers=["event_id"]
        ).drop("_deleted")
        cols = [c for c in want.columns]
        got_set = {tuple(r[c] for c in cols) for r in m.read(spark).select(*cols).collect()}
        want_set = {tuple(r[c] for c in cols) for r in want.collect()}
        assert got_set == want_set and got_set


class TestAdviceR9:
    """Pins for the r9 ADVICE items on this module (NULL keys, NULL
    tiebreakers, config validation, routed persist)."""

    def test_null_key_rows_rejected(self, spark, tmp_path):
        """A NULL primary-key row would be stored but never selected by the
        affected-key predicate (NULL IN (...) is NULL) — the chain would
        silently never materialize. apply_batch must fail fast instead."""
        m = Scd2HistoryMaintainer(
            root=str(tmp_path / "nk"), keys=["id"], ts_col="mtime", tiebreakers=["val"]
        )
        bad = spark.createDataFrame(
            [(None, 10, "a", False), (1, 10, "b", False)], SCHEMA
        )
        with pytest.raises(ValueError, match="NULL primary-key"):
            m.apply_batch(spark, bad, batch_id=0)
        # nothing committed: the history did not advance
        assert m.read(spark) is None

    def test_null_key_rejected_past_key_literal_cap(self, spark, tmp_path):
        """Past the key-literal cap the affected-key collect sees only a
        prefix of the keys, so a NULL key beyond it must still be caught
        (by the separate NULL-key job) before the history commit; the same
        batch without the NULL commits through the semi-join path."""
        from kafka_cdc_hudi_spark.sinks.keyed_table import MAX_KEY_LITERALS

        m = Scd2HistoryMaintainer(root=str(tmp_path / "cap"), keys=["id"], ts_col="mtime")
        n = MAX_KEY_LITERALS + 904
        rows = spark.range(n).selectExpr(
            "id", "10L AS mtime", "'v' AS val", "false AS _deleted"
        )
        with_null = rows.unionByName(
            spark.createDataFrame([(None, 10, "n", False)], SCHEMA)
        )
        with pytest.raises(ValueError, match="NULL primary-key"):
            m.apply_batch(spark, with_null, batch_id=0)
        assert m.read(spark) is None and m.history.last_batch_id() is None
        assert m.apply_batch(spark, rows, batch_id=0)
        assert m.read(spark).filter("is_current").count() == n

    def test_null_tiebreaker_row_survives_rebuilds(self, spark, tmp_path):
        """A NULL tiebreaker value under a plain-equality anti-join makes an
        unchanged history row fail to match ITSELF — tombstoned and
        re-upserted with an identical __hseq, a nondeterministic precombine
        tie. The eqNullSafe anti-join keeps prefix equivalence exact."""
        m = Scd2HistoryMaintainer(
            root=str(tmp_path / "nt"), keys=["id"], ts_col="mtime", tiebreakers=["val"]
        )
        batches = [
            [(1, 10, None, False), (2, 10, "x", False)],  # NULL-tiebreaker version
            [(1, 20, "b", False)],  # key 1 re-touched: its chain is rebuilt
            [(1, 30, "c", False), (2, 20, "y", False)],
        ]
        seen = []
        for i, rows in enumerate(batches):
            assert m.apply_batch(spark, spark.createDataFrame(rows, SCHEMA), batch_id=i)
            seen.extend(rows)
            got = _hist_set(m.read(spark))
            want = _hist_set(_batch_oracle(spark, seen))
            assert got == want, f"divergence after batch {i}"
        final = {(r["id"], r["valid_from"]) for r in m.read(spark).collect()}
        assert (1, 10) in final  # the NULL-tiebreaker version survived

    def test_history_mode_validated_at_config_parse(self):
        """A scd2_history_mode typo must fail at config parse, not as a
        KeyedParquetTable ValueError at the first micro-batch."""
        from kafka_cdc_hudi_spark.config import JobConfig

        with pytest.raises(ValueError, match="scd2_history_mode"):
            JobConfig.from_properties({"scd2_history_mode": "bucketed"})
        with pytest.raises(ValueError, match="scd2_history_mode"):
            JobConfig(scd2_history_mode="cow_bucketed")
        # the three real layouts parse clean
        for mode in ("cow", "cow-bucketed", "mor"):
            assert JobConfig.from_properties({"scd2_history_mode": mode}).scd2_history_mode == mode

    def test_routed_persisted_for_second_consumer(self, spark, tmp_path, monkeypatch):
        """With scd2 on, `routed` feeds BOTH the merge sink and the history
        maintainer; the driver must persist it so the maintainer re-reads
        instead of re-running the prefilter->parse->route lineage."""
        from kafka_cdc_hudi_spark.config import DIALECT_DEBEZIUM, JobConfig, TableSpec
        from kafka_cdc_hudi_spark.streaming.driver import CdcStreamDriver

        cfg = JobConfig(
            dialect=DIALECT_DEBEZIUM,
            tables=[TableSpec("d1", "t1", ("id",))],
            sink_root=str(tmp_path / "sink"),
            checkpoint_location=str(tmp_path / "ckpt"),
            max_workers=1,
            scd2_history=True,
            scd2_tiebreakers=("val",),
            trigger_interval="1 seconds",
        )
        driver = CdcStreamDriver(spark, cfg, payload_schemas={"t1": PAYLOAD})
        seen_cached = {}
        orig = Scd2HistoryMaintainer.apply_batch

        def spy(self_m, spark_, batch, batch_id):
            seen_cached["cached"] = batch.storageLevel.useMemory or batch.is_cached
            return orig(self_m, spark_, batch, batch_id)

        monkeypatch.setattr(Scd2HistoryMaintainer, "apply_batch", spy)
        raw = spark.createDataFrame(
            [(_dbz("c", after={"id": 1, "val": "a"}, ts_ms=10),)], "value string"
        )
        driver.process_batch(raw, 0)
        assert seen_cached.get("cached") is True
        # and the history actually landed
        m = driver.scd2_for(cfg.tables[0])
        assert {(r["id"], r["val"]) for r in m.read(spark).collect()} == {(1, "a")}


class TestCrashConsistency:
    @pytest.mark.parametrize("history_mode", ["cow", "cow-bucketed", "mor"])
    def test_crash_inside_history_commit(self, spark, tmp_path, history_mode):
        """apply_batch commits ONE table. Kill the writer inside the
        history's merge_batch for batch 1, after its data files are written
        and before the pointer swap: a fresh maintainer must read the
        batch-0 history, and replaying batch 1 must converge to the batch
        oracle over both batches."""

        class InjectedCrash(RuntimeError):
            pass

        mk = lambda: Scd2HistoryMaintainer(  # noqa: E731
            root=str(tmp_path / "scd2"), keys=["id"], ts_col="mtime",
            tiebreakers=["val"], history_mode=history_mode, n_buckets=4,
        )
        m = mk()
        b0 = [(1, 10, "a", False), (2, 10, "x", False)]
        b1 = [(1, 20, "b", False), (2, 15, None, True), (3, 20, "z", False)]
        m.apply_batch(spark, spark.createDataFrame(b0, SCHEMA), batch_id=0)
        h0 = _hist_set(m.read(spark))

        real = m.history._write_pointer

        def dying(version, batch_id, *a, **kw):
            if batch_id == 1:
                raise InjectedCrash("history pointer swap dies")
            return real(version, batch_id, *a, **kw)

        m.history._write_pointer = dying
        with pytest.raises(InjectedCrash):
            m.apply_batch(spark, spark.createDataFrame(b1, SCHEMA), batch_id=1)
        assert m.history.last_batch_id() == 0

        # fresh maintainer: history still reads as the pre-crash state
        m2 = mk()
        assert _hist_set(m2.read(spark)) == h0
        # replay batch 1: recomputed from the batch-0 rows and committed
        assert m2.apply_batch(spark, spark.createDataFrame(b1, SCHEMA), batch_id=1)
        assert m2.history.last_batch_id() == 1
        assert _hist_set(m2.read(spark)) == _hist_set(_batch_oracle(spark, b0 + b1))
