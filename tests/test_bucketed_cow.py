"""Bucketed COW sink (mode="cow-bucketed"): Hudi file-group semantics on
the pointer protocol. Must be state-equivalent to plain COW on every commit
while rewriting ONLY the buckets a batch touches."""

import os

import pytest
from pyspark.sql import functions as F

from kafka_cdc_hudi_spark.sinks.keyed_table import (
    _BUCKET_COL,
    KeyedParquetTable,
    MODE_COW,
    MODE_COW_BUCKETED,
)

SCHEMA = "id long, mtime long, _deleted boolean, val string"


def rows_df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def state(t, spark):
    df = t.read(spark)
    return {(r["id"], r["mtime"], r["val"]) for r in df.collect()}


@pytest.fixture()
def pair(tmp_path):
    cow = KeyedParquetTable(str(tmp_path / "cow"), keys=["id"], order_col="mtime")
    bkt = KeyedParquetTable(
        str(tmp_path / "bkt"), keys=["id"], order_col="mtime",
        mode=MODE_COW_BUCKETED, n_buckets=8,
    )
    return cow, bkt


def test_bucketed_state_matches_cow_per_commit(spark, pair):
    cow, bkt = pair
    batches = [
        [(i, 10, False, f"a{i}") for i in range(40)],
        [(i, 20, i % 7 == 0, f"b{i}") for i in range(0, 40, 2)],  # updates + deletes
        [(i, 5, False, "stale") for i in range(10)]  # stale: must not clobber
        + [(100 + i, 30, False, f"new{i}") for i in range(5)],
    ]
    for bid, rows in enumerate(batches):
        assert cow.merge_batch(spark, rows_df(spark, rows), batch_id=bid)
        assert bkt.merge_batch(spark, rows_df(spark, rows), batch_id=bid)
        assert state(bkt, spark) == state(cow, spark), f"diverged at batch {bid}"


def test_commit_rewrites_only_touched_buckets(spark, pair):
    _, bkt = pair
    base = [(i, 10, False, f"a{i}") for i in range(64)]
    bkt.merge_batch(spark, rows_df(spark, base), batch_id=0)
    v1_dirs = {n for n in os.listdir(bkt._version_dir(1)) if n.startswith(_BUCKET_COL)}
    assert len(v1_dirs) == 8  # 64 keys cover all 8 buckets

    # one-key batch: the new version must contain EXACTLY that key's bucket
    one = rows_df(spark, [(3, 99, False, "updated")])
    bucket_of_3 = one.select(bkt._bucket_expr().alias("b")).first()["b"]
    bkt.merge_batch(spark, one, batch_id=1)
    v2_dirs = {n for n in os.listdir(bkt._version_dir(2)) if n.startswith(_BUCKET_COL)}
    assert v2_dirs == {f"{_BUCKET_COL}={bucket_of_3}"}

    # untouched buckets still served from v1, touched bucket from v2
    bmap = bkt._bucket_maps(bkt._read_pointer())[2]
    assert bmap[bucket_of_3] == 2
    assert all(hv == 1 for b, hv in bmap.items() if b != bucket_of_3)
    got = {(r["id"], r["val"]) for r in bkt.read(spark).collect()}
    assert (3, "updated") in got and (4, "a4") in got and len(got) == 64


def test_time_travel_and_diff(spark, pair):
    _, bkt = pair
    bkt.merge_batch(spark, rows_df(spark, [(1, 10, False, "x"), (2, 10, False, "y")]), batch_id=0)
    bkt.merge_batch(
        spark, rows_df(spark, [(1, 20, False, "x2"), (2, 20, True, "y")]), batch_id=1
    )
    assert {(r["id"], r["val"]) for r in bkt.read(spark, version=1).collect()} == {
        (1, "x"), (2, "y")
    }
    assert {(r["id"], r["val"]) for r in bkt.read(spark).collect()} == {(1, "x2")}
    changes = {(r["id"], r["_change_type"]) for r in bkt.diff(spark, 1, 2).collect()}
    assert changes == {(1, "update"), (2, "delete")}
    assert bkt.versions() == [1, 2]


def test_replay_and_empty_batch_are_noops(spark, pair):
    _, bkt = pair
    b = rows_df(spark, [(1, 10, False, "x")])
    assert bkt.merge_batch(spark, b, batch_id=0)
    assert not bkt.merge_batch(spark, b, batch_id=0)  # replay
    assert not bkt.merge_batch(spark, rows_df(spark, []), batch_id=1)
    assert len(state(bkt, spark)) == 1


def test_compact_collapses_bucket_map_and_prunes(spark, tmp_path):
    bkt = KeyedParquetTable(
        str(tmp_path / "b"), keys=["id"], order_col="mtime",
        mode=MODE_COW_BUCKETED, n_buckets=4, keep_versions=2,
    )
    bkt.merge_batch(spark, rows_df(spark, [(i, 10, False, "a") for i in range(16)]), batch_id=0)
    bkt.merge_batch(spark, rows_df(spark, [(1, 20, False, "b")]), batch_id=1)
    before = state(bkt, spark)
    v = bkt.compact(spark)
    assert v == 3
    assert state(bkt, spark) == before
    bmap = bkt._bucket_maps(bkt._read_pointer())[v]
    assert set(bmap.values()) == {v}
    # old dirs past keep_versions=2 retained maps are pruned once unreferenced
    assert bkt.compact(spark) is None  # already single-version


def test_stale_never_clobbers_across_buckets(spark, pair):
    cow, bkt = pair
    bkt.merge_batch(spark, rows_df(spark, [(i, 50, False, "new") for i in range(20)]), batch_id=0)
    bkt.merge_batch(spark, rows_df(spark, [(i, 10, False, "old") for i in range(20)]), batch_id=1)
    assert all(v == "new" for (_, _, v) in state(bkt, spark))


def test_streaming_driver_with_bucketed_sink(spark, tmp_path):
    """sink_mode="cow-bucketed" flows through JobConfig -> driver -> sink."""
    import json as _json

    from kafka_cdc_hudi_spark.config import DIALECT_DEBEZIUM, JobConfig, TableSpec
    from kafka_cdc_hudi_spark.sources.kafka import json_file_value_stream
    from kafka_cdc_hudi_spark.streaming.driver import CdcStreamDriver

    def dbz(op, after=None, before=None, ts_ms=0):
        return _json.dumps(
            {"before": before, "after": after, "op": op, "ts_ms": ts_ms,
             "db": "d1", "table": "t1"}
        )

    src = tmp_path / "src"
    src.mkdir()
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
    cfg = JobConfig(
        dialect=DIALECT_DEBEZIUM,
        tables=[TableSpec("d1", "t1", ("id",))],
        sink_root=str(tmp_path / "sink"),
        sink_mode=MODE_COW_BUCKETED,
        checkpoint_location=str(tmp_path / "ckpt"),
        max_workers=1,
        trigger_interval="1 seconds",
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    payload = StructType(
        [StructField("id", LongType()), StructField("val", StringType())]
    )
    driver = CdcStreamDriver(spark, cfg, payload_schemas={"t1": payload})
    q = driver.start(json_file_value_stream(spark, str(src)))
    q.processAllAvailable()
    q.stop()
    sink = driver.sink_for(cfg.tables[0])
    assert sink.mode == MODE_COW_BUCKETED
    assert {(r["id"], r["val"]) for r in sink.read(spark).collect()} == {
        (1, "a2"), (2, "b")
    }


def test_schema_evolution_across_bucket_versions(spark, tmp_path):
    """A batch adding a column must merge cleanly while untouched buckets
    (older files without the column) read back null-filled — mergeSchema on
    the bucket-map union + align_by_name in the merge."""
    t = KeyedParquetTable(
        str(tmp_path / "t"), keys=["id"], order_col="mtime",
        mode=MODE_COW_BUCKETED, n_buckets=4,
    )
    t.merge_batch(
        spark,
        spark.createDataFrame([(i, 10, False, "a") for i in range(16)], SCHEMA),
        batch_id=0,
    )
    t.merge_batch(
        spark,
        spark.createDataFrame(
            [(1, 20, False, "b", "EXTRA")], SCHEMA + ", extra string"
        ),
        batch_id=1,
    )
    rows = {r["id"]: (r["val"], r["extra"]) for r in t.read(spark).collect()}
    assert rows[1] == ("b", "EXTRA")
    assert rows[2] == ("a", None)
    assert len(rows) == 16


def test_cluster_cols_sort_within_bucket_files(spark, tmp_path):
    """cluster_cols must physically order rows inside each bucket file so
    parquet row-group min/max stats carry real selectivity for range
    predicates (the Hudi/Delta clustering lever)."""
    t = KeyedParquetTable(
        str(tmp_path / "t"), keys=["id"], order_col="mtime",
        mode=MODE_COW_BUCKETED, n_buckets=4, cluster_cols=["mtime"],
    )
    rows = [(i, (i * 37) % 1000, False, f"v{i}") for i in range(200)]
    t.merge_batch(spark, rows_df(spark, rows), batch_id=0)
    per_file = (
        t.read(spark)
        .withColumn("f", F.input_file_name())
        .select("f", "mtime")
        .collect()
    )
    by_file = {}
    for r in per_file:
        by_file.setdefault(r["f"], []).append(r["mtime"])
    assert len(by_file) >= 2
    for f, mtimes in by_file.items():
        assert mtimes == sorted(mtimes), f"unsorted within {f}"


def test_point_lookup_reads_only_key_buckets(spark, pair):
    """read_keys: correct values AND path-pruned I/O — the lookup plan's
    input files must be a strict subset of the full snapshot's (only the
    buckets the requested keys hash to)."""
    cow, bkt = pair
    base = [(i, 10, False, f"a{i}") for i in range(64)]
    assert bkt.merge_batch(spark, rows_df(spark, base), batch_id=0)
    assert bkt.merge_batch(
        spark, rows_df(spark, [(3, 20, False, "b3"), (7, 20, True, "gone")]), batch_id=1
    )

    got = {(r["id"], r["val"]) for r in bkt.read_keys(spark, [(3,), (8,)]).collect()}
    assert got == {(3, "b3"), (8, "a8")}
    # deleted key: no row
    assert bkt.read_keys(spark, [(7,)]).count() == 0
    # absent key on a present bucket path: no row
    assert bkt.read_keys(spark, [(10_000,)]).count() == 0

    lookup_files = set(bkt.read_keys(spark, [(3,)]).inputFiles())
    all_files = set(bkt.read(spark).inputFiles())
    assert lookup_files and lookup_files < all_files

    # plain COW: same values through the stats-pruned base scan
    assert cow.merge_batch(spark, rows_df(spark, base), batch_id=0)
    got_cow = {(r["id"], r["val"]) for r in cow.read_keys(spark, [(3,), (8,)]).collect()}
    assert got_cow == {(3, "a3"), (8, "a8")}


def test_bucketed_commits_record_commit_meta(spark, tmp_path):
    """Write-amplification auditing parity (r12): the bucketed pointer
    records {op, files, bytes, wall_ms} per commit like COW/MOR, including
    snapshot commits, and a partial commit's bytes are a fraction of a
    full-map snapshot's."""
    bkt = KeyedParquetTable(
        str(tmp_path / "b"), keys=["id"], order_col="mtime",
        mode=MODE_COW_BUCKETED, n_buckets=8,
    )
    base = [(i, 10, False, f"v{i}") for i in range(64)]
    bkt.merge_batch(spark, rows_df(spark, base), batch_id=0)
    bkt.merge_batch(spark, rows_df(spark, [(1, 20, False, "v1b")]), batch_id=1)
    v_full, v_small = bkt.versions()[-2:]
    meta = bkt.commit_meta()
    assert meta[v_full]["op"] == "bucketed" and meta[v_full]["bytes"] > 0
    assert meta[v_small]["files"] < meta[v_full]["files"]
    assert meta[v_small]["bytes"] < meta[v_full]["bytes"]
    v_snap = bkt.compact(spark)
    assert bkt.commit_meta()[v_snap]["op"] == "snapshot"
