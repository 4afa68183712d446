"""Streaming smoke (SURVEY §5.4): the same batch functions driven through a
broker-free file-source stream via ``foreachBatch``; checkpointed restart
must not double-merge (FIXTURES §A3.9 + at-least-once replay)."""

import json
import time

from kafka_cdc_hudi_spark.config import DIALECT_DEBEZIUM, JobConfig, TableSpec
from kafka_cdc_hudi_spark.plans.cdc_fixtures import EVENTS_PAYLOAD_SCHEMA  # noqa: F401
from kafka_cdc_hudi_spark.sources.kafka import json_file_value_stream
from kafka_cdc_hudi_spark.streaming.driver import CdcStreamDriver
from pyspark.sql.types import LongType, StringType, StructField, StructType

PAYLOAD = StructType(
    [
        StructField("id", LongType(), True),
        StructField("val", StringType(), True),
    ]
)


def dbz(op, after=None, before=None, ts_ms=0, db="d1", table="t1"):
    return json.dumps(
        {"before": before, "after": after, "op": op, "ts_ms": ts_ms, "db": db, "table": table}
    )


def _await_done(query, timeout=60):
    deadline = time.time() + timeout
    while time.time() < deadline:
        query.processAllAvailable()
        return
    raise TimeoutError


def _write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def test_file_stream_end_to_end_with_restart(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    cfg = JobConfig(
        dialect=DIALECT_DEBEZIUM,
        tables=[
            TableSpec("d1", "t1", ("id",)),
            TableSpec("d1", "t2", ("id",)),
        ],
        sink_root=str(tmp_path / "sink"),
        checkpoint_location=str(tmp_path / "ckpt"),
        trigger_interval="1 seconds",
        max_workers=2,
    )
    driver = CdcStreamDriver(spark, cfg, payload_schemas={"t1": PAYLOAD, "t2": PAYLOAD})

    # batch 1: inserts for both tables, dup key out-of-order for t1
    _write_lines(
        src / "b1.json",
        [
            dbz("c", after={"id": 1, "val": "a"}, ts_ms=10),
            dbz("u", after={"id": 1, "val": "a2"}, ts_ms=30),
            dbz("u", after={"id": 1, "val": "mid"}, ts_ms=20),
            dbz("c", after={"id": 5, "val": "x"}, ts_ms=10, table="t2"),
        ],
    )
    q = driver.start(json_file_value_stream(spark, str(src), max_files_per_trigger=1))
    q.processAllAvailable()

    t1 = driver.sink_for(cfg.tables[0]).read(spark)
    assert {(r["id"], r["val"]) for r in t1.collect()} == {(1, "a2")}
    t2 = driver.sink_for(cfg.tables[1]).read(spark)
    assert {(r["id"], r["val"]) for r in t2.collect()} == {(5, "x")}

    # batch 2: delete on t1, stale event must not clobber
    _write_lines(
        src / "b2.json",
        [
            dbz("d", before={"id": 1, "val": "a2"}, ts_ms=40),
            dbz("u", after={"id": 5, "val": "stale"}, ts_ms=5, table="t2"),
            dbz("c", after={"id": 6, "val": "y"}, ts_ms=50, table="t2"),
        ],
    )
    q.processAllAvailable()
    q.stop()

    t1 = driver.sink_for(cfg.tables[0]).read(spark)
    assert t1.count() == 0
    t2 = driver.sink_for(cfg.tables[1]).read(spark)
    assert {(r["id"], r["val"]) for r in t2.collect()} == {(5, "x"), (6, "y")}

    # restart from the same checkpoint: no reprocessing, no duplicate merge
    driver2 = CdcStreamDriver(spark, cfg, payload_schemas={"t1": PAYLOAD, "t2": PAYLOAD})
    q2 = driver2.start(json_file_value_stream(spark, str(src)))
    q2.processAllAvailable()
    q2.stop()
    t2 = driver2.sink_for(cfg.tables[1]).read(spark)
    assert {(r["id"], r["val"]) for r in t2.collect()} == {(5, "x"), (6, "y")}


def test_dynamic_schema_inference_stream(spark, tmp_path):
    """No declared schema: driver infers from first non-empty batch (A3.8)."""
    src = tmp_path / "src"
    src.mkdir()
    cfg = JobConfig(
        dialect=DIALECT_DEBEZIUM,
        tables=[TableSpec("d1", "t1", ("id",))],
        sink_root=str(tmp_path / "sink"),
        checkpoint_location=str(tmp_path / "ckpt"),
        max_workers=1,
        trigger_interval="1 seconds",
    )
    driver = CdcStreamDriver(spark, cfg)  # no payload_schemas
    _write_lines(
        src / "b1.json",
        [
            dbz("c", after={"id": 1, "val": "a"}, ts_ms=10),
            dbz("c", after={"id": 2, "val": "b", "extra": 7}, ts_ms=10),
        ],
    )
    q = driver.start(json_file_value_stream(spark, str(src)))
    q.processAllAvailable()
    q.stop()
    t1 = driver.sink_for(cfg.tables[0]).read(spark)
    rows = {r["id"]: (r["val"], r["extra"]) for r in t1.collect()}
    assert rows == {1: ("a", None), 2: ("b", 7)}


def test_metrics_listener_records_batches(spark, tmp_path):
    """Observability: the progress listener captures per-batch input rows
    and durations, including the trigger's full phase split, for the CDC
    stream."""
    from kafka_cdc_hudi_spark.streaming.metrics import attach_metrics

    src = tmp_path / "src"
    src.mkdir()
    cfg = JobConfig(
        dialect=DIALECT_DEBEZIUM,
        tables=[TableSpec("d1", "t1", ("id",))],
        sink_root=str(tmp_path / "sink"),
        checkpoint_location=str(tmp_path / "ckpt"),
        max_workers=1,
        trigger_interval="1 seconds",
    )
    driver = CdcStreamDriver(spark, cfg, payload_schemas={"t1": PAYLOAD})
    _write_lines(src / "b1.json", [dbz("c", after={"id": 1, "val": "a"}, ts_ms=10)])
    _write_lines(src / "b2.json", [dbz("c", after={"id": 2, "val": "b"}, ts_ms=20)])
    listener = attach_metrics(spark)
    try:
        q = driver.start(json_file_value_stream(spark, str(src)))
        q.processAllAvailable()
        q.stop()
        # listener callbacks are async; poll briefly for delivery
        import time

        deadline = time.time() + 15
        while time.time() < deadline and listener.totals()["total_input_rows"] < 2:
            time.sleep(0.3)
        t = listener.totals()
        assert t["total_input_rows"] >= 2, listener.progress
        assert t["n_batches"] >= 1
        # the full trigger timing split is kept, not just triggerExecution
        data = [r for r in listener.progress if r["num_input_rows"]]
        assert data, listener.progress
        for r in data:
            phases = r["duration_ms"]
            assert {
                "addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets"
            } <= set(phases), phases
            assert phases["triggerExecution"] == r["batch_duration_ms"]
            assert phases["addBatch"] <= r["batch_duration_ms"]
    finally:
        spark.streams.removeListener(listener)


def test_quarantine_captures_malformed_records(spark, tmp_path):
    """Dead-letter path: unparseable lines are preserved under the
    quarantine dir (per-batch, replay-idempotent) while valid records keep
    flowing; without quarantine_dir they are silently dropped (reference
    behavior)."""
    src = tmp_path / "src"
    src.mkdir()
    qdir = tmp_path / "quarantine"
    cfg = JobConfig(
        dialect=DIALECT_DEBEZIUM,
        tables=[TableSpec("d1", "t1", ("id",))],
        sink_root=str(tmp_path / "sink"),
        checkpoint_location=str(tmp_path / "ckpt"),
        quarantine_dir=str(qdir),
        max_workers=1,
        trigger_interval="1 seconds",
    )
    driver = CdcStreamDriver(spark, cfg, payload_schemas={"t1": PAYLOAD})
    _write_lines(
        src / "b1.json",
        [
            dbz("c", after={"id": 1, "val": "a"}, ts_ms=10),
            "THIS IS NOT JSON {{{",
            json.dumps({"valid_json": "but not an envelope"}),
            dbz("c", after={"id": 2, "val": "b"}, ts_ms=10),
        ],
    )
    q = driver.start(json_file_value_stream(spark, str(src)))
    q.processAllAvailable()
    q.stop()
    # valid rows merged
    got = {r["id"] for r in driver.sink_for(cfg.tables[0]).read(spark).collect()}
    assert got == {1, 2}
    # malformed rows preserved verbatim
    quarantined = set(
        spark.read.text(str(qdir / "batch_0")).toPandas()["value"]
    )
    assert quarantined == {"THIS IS NOT JSON {{{", json.dumps({"valid_json": "but not an envelope"})}


def test_dynamic_inference_ignores_foreign_table_columns(spark, tmp_path):
    """Schema inference must run on the EXACTLY-routed slice: a foreign
    table sharing the topic (and slipping through the contains-prefilter as
    a superset) must not leak its columns into this table's cached schema
    as permanent null-filled fields."""
    src = tmp_path / "src"
    src.mkdir()
    cfg = JobConfig(
        dialect=DIALECT_DEBEZIUM,
        tables=[TableSpec("d1", "t1", ("id",))],
        sink_root=str(tmp_path / "sink"),
        checkpoint_location=str(tmp_path / "ckpt"),
        max_workers=1,
        trigger_interval="1 seconds",
    )
    driver = CdcStreamDriver(spark, cfg)  # dynamic inference
    # the foreign row mentions "t1"/"d1" as payload VALUES, so the raw
    # contains-prefilter keeps it; only exact routing can exclude it
    _write_lines(
        src / "b1.json",
        [
            dbz("c", after={"id": 1, "val": "a"}, ts_ms=10),
            dbz(
                "c",
                after={"id": 9, "foreign_col": "x", "note": "db d1 table t1"},
                ts_ms=10,
                table="other",
            ),
        ],
    )
    q = driver.start(json_file_value_stream(spark, str(src)))
    q.processAllAvailable()
    q.stop()
    t1 = driver.sink_for(cfg.tables[0]).read(spark)
    assert set(t1.columns) & {"foreign_col", "note"} == set(), t1.columns
    assert [r["id"] for r in t1.collect()] == [1]
    inferred = driver._inferred["d1.t1"]
    assert "foreign_col" not in inferred.fieldNames()


def dms(op, data=None, ts="2024-01-01T00:00:00.000Z", db="d1", table="t1", rtype="data"):
    return json.dumps(
        {
            "data": data,
            "metadata": {
                "operation": op,
                "timestamp": ts,
                "record-type": rtype,
                "schema-name": db,
                "table-name": table,
            },
        }
    )


def test_dms_dialect_end_to_end(spark, tmp_path):
    """DMS dialect through the full streaming driver: load/insert/update/
    delete ops, control records dropped, ISO-string precombine ordering."""
    from kafka_cdc_hudi_spark.config import DIALECT_DMS

    src = tmp_path / "src"
    src.mkdir()
    cfg = JobConfig(
        dialect=DIALECT_DMS,
        tables=[TableSpec("d1", "t1", ("id",))],
        sink_root=str(tmp_path / "sink"),
        checkpoint_location=str(tmp_path / "ckpt"),
        max_workers=1,
        trigger_interval="1 seconds",
    )
    driver = CdcStreamDriver(spark, cfg, payload_schemas={"t1": PAYLOAD})
    _write_lines(
        src / "b1.json",
        [
            dms("load", {"id": 1, "val": "a"}, ts="2024-01-01T00:00:01.000Z"),
            dms("update", {"id": 1, "val": "a2"}, ts="2024-01-01T00:00:03.000Z"),
            dms("update", {"id": 1, "val": "mid"}, ts="2024-01-01T00:00:02.000Z"),
            dms("insert", {"id": 2, "val": "b"}, ts="2024-01-01T00:00:01.000Z"),
            dms("insert", {"id": 9, "val": "ctl"}, ts="2024-01-01T00:00:09.000Z", rtype="control"),
        ],
    )
    _write_lines(
        src / "b2.json",
        [
            dms("delete", {"id": 2, "val": "b"}, ts="2024-01-01T00:00:05.000Z"),
            dms("update", {"id": 1, "val": "stale"}, ts="2024-01-01T00:00:00.500Z"),
        ],
    )
    q = driver.start(json_file_value_stream(spark, str(src), max_files_per_trigger=1))
    q.processAllAvailable()
    q.stop()
    t1 = driver.sink_for(cfg.tables[0]).read(spark)
    rows = {(r["id"], r["val"]) for r in t1.collect()}
    # control record dropped, delete applied, stale update lost by mtime
    assert rows == {(1, "a2")}


def test_declared_schemas_qualified_per_db(spark, tmp_path):
    """Same-named tables in different DBs must not share a declared schema."""
    s1 = StructType([StructField("id", LongType(), True), StructField("val", StringType(), True)])
    s2 = StructType([StructField("id", LongType(), True), StructField("score", LongType(), True)])
    cfg = JobConfig(
        dialect=DIALECT_DEBEZIUM,
        tables=[TableSpec("d1", "users", ("id",)), TableSpec("d2", "users", ("id",))],
        sink_root=str(tmp_path / "sink"),
        checkpoint_location=str(tmp_path / "ckpt"),
        trigger_interval="1 seconds",
    )
    driver = CdcStreamDriver(spark, cfg, payload_schemas={"d1.users": s1, "d2.users": s2})
    assert driver._declared_schema(cfg.tables[0]) is s1
    assert driver._declared_schema(cfg.tables[1]) is s2
    # bare-name fallback still works for single-DB configs
    driver2 = CdcStreamDriver(spark, cfg, payload_schemas={"users": s1})
    assert driver2._declared_schema(cfg.tables[1]) is s1


def test_schema_drift_mid_stream(spark, tmp_path):
    """Dynamic mode: a NEW payload column appearing after the schema was
    inferred and cached must be picked up (drift re-inference), with old
    rows null-filled — not silently dropped (A3.8 / SURVEY §7 hard-part 2)."""
    src = tmp_path / "src"
    src.mkdir()
    cfg = JobConfig(
        dialect=DIALECT_DEBEZIUM,
        tables=[TableSpec("d1", "t1", ("id",))],
        sink_root=str(tmp_path / "sink"),
        checkpoint_location=str(tmp_path / "ckpt"),
        max_workers=1,
        trigger_interval="1 seconds",
    )
    driver = CdcStreamDriver(spark, cfg)  # no payload_schemas
    _write_lines(src / "b1.json", [dbz("c", after={"id": 1, "val": "a"}, ts_ms=10)])
    q = driver.start(json_file_value_stream(spark, str(src), max_files_per_trigger=1))
    q.processAllAvailable()
    assert set(driver._inferred["d1.t1"].fieldNames()) == {"id", "val"}

    # batch 2 drifts: new column `score`; also a delete whose keys ride in
    # `before` (both json paths probed)
    _write_lines(
        src / "b2.json",
        [
            dbz("u", after={"id": 1, "val": "a2", "score": 1.5}, ts_ms=20),
            dbz("c", after={"id": 2, "val": "c", "score": 2.5}, ts_ms=20),
        ],
    )
    q.processAllAvailable()
    q.stop()
    assert "score" in driver._inferred["d1.t1"].fieldNames()
    t1 = driver.sink_for(cfg.tables[0]).read(spark)
    rows = {r["id"]: (r["val"], r["score"]) for r in t1.collect()}
    assert rows == {1: ("a2", 1.5), 2: ("c", 2.5)}


def test_parse_operators_streaming_legal(spark, tmp_path):
    """parse_debezium must apply DIRECTLY to a streaming DataFrame: the
    pushdown barrier uses a streaming-legal nondeterministic expression
    (monotonically_increasing_id is rejected by the streaming checker)."""
    from kafka_cdc_hudi_spark.operators.cdc import parse_debezium

    src = tmp_path / "src"
    src.mkdir()
    _write_lines(
        src / "b1.json",
        [
            dbz("c", after={"id": 1, "val": "a"}, ts_ms=10),
            dbz("d", before={"id": 2, "val": "gone"}, ts_ms=20),
        ],
    )
    parsed = parse_debezium(json_file_value_stream(spark, str(src)), PAYLOAD)
    assert parsed.isStreaming
    q = (
        parsed.writeStream.format("memory")
        .queryName("parsed_probe")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM parsed_probe").collect()
    assert {(r["id"], r["val"], r["_deleted"]) for r in rows} == {
        (1, "a", False),
        (2, "gone", True),
    }
