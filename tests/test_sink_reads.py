"""Sink reads take their schema from the commits that wrote the files, and
key-set predicates build in one JVM call.

Every commit records its written schema in the pointer's ``commit_meta``;
reads pass the union of the read versions' schemas to the parquet reader,
so building a read DataFrame launches no Spark job (a schema-less
``read.parquet`` runs one footer-inference job). Pointers whose commits
carry no schema keep the ``mergeSchema`` read.
"""

import json
import re
import shutil
from datetime import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from kafka_cdc_hudi_spark.sinks.keyed_table import (
    MODE_COW,
    MODE_COW_BUCKETED,
    MODE_MOR,
    KeyedParquetTable,
    key_set_predicate,
)

from .conftest import settled_job_ids

SCHEMA = "id long, val string, mtime long, _deleted boolean"


def _batch(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


def _rows(df):
    return sorted(tuple(sorted(r.asDict().items())) for r in df.collect())


def _strip_schemas(root, *keys):
    """Rewrite the pointer as a table written before commits recorded
    their schema, also dropping the top-level pointer ``keys``."""
    path = f"{root}/_VERSION"
    with open(path) as f:
        p = json.load(f)
    for m in p["commit_meta"].values():
        m.pop("schema")
    for k in keys:
        del p[k]
    with open(path, "w") as f:
        json.dump(p, f)


MODES = [MODE_COW, MODE_MOR, MODE_COW_BUCKETED]


def _emptied(spark, t):
    """Commit four keys to ``t``, then delete every one of them."""
    t.merge_batch(spark, _batch(spark, [(i, f"a{i}", 1, False) for i in range(4)]), 0)
    t.merge_batch(spark, _batch(spark, [(i, None, 2, True) for i in range(4)]), 1)


@pytest.mark.parametrize("mode", [*MODES, "emptied"])
def test_building_reads_launches_no_job(spark, tmp_path, mode):
    t = KeyedParquetTable(
        str(tmp_path / mode), keys=["id"], n_buckets=4,
        mode=MODE_COW_BUCKETED if mode == "emptied" else mode,
    )
    if mode == MODE_MOR:  # base + 2 deltas
        t.merge_batch(spark, _batch(spark, [(i, f"a{i}", 1, False) for i in range(8)]), 0)
        t.compact(spark)
        t.merge_batch(spark, _batch(spark, [(1, "b", 2, False), (2, None, 2, True)]), 1)
        t.merge_batch(spark, _batch(spark, [(3, "c", 3, False)]), 2)
        assert len(t._resolve(t._read_pointer()["version"])[1]) == 2
    elif mode == "emptied":
        _emptied(spark, t)
    else:
        for bid in range(3):
            t.merge_batch(spark, _batch(spark, [(i, f"v{bid}", bid, False) for i in range(bid, 8)]), bid)
    before = settled_job_ids(spark)
    frames = [
        t.read(spark),
        t.read_where_keys(spark, F.col("id").isin(1, 3)),
        t.read_keys(spark, [(1,), (3,), (99,)]),
        t.read_range(spark, "id", 1, 3).filter(F.col("id") != 2),
    ]
    assert settled_job_ids(spark) == before
    want = {r["id"]: r["val"] for r in frames[0].collect()}
    assert bool(want) == (mode != "emptied")
    for df in frames[1:]:
        assert {r["id"]: r["val"] for r in df.collect()} == {k: want[k] for k in (1, 3) if k in want}


READERS = {
    "read": lambda t, spark: t.read(spark),
    "read_where_keys": lambda t, spark: t.read_where_keys(spark, F.col("id") == 1),
    "read_keys": lambda t, spark: t.read_keys(spark, [(1,)]),
    "read_range": lambda t, spark: t.read_range(spark, "id", 0, 9),
}


@pytest.mark.parametrize("reader", sorted(READERS))
@pytest.mark.parametrize("mode", MODES)
def test_every_reader_returns_none_before_the_first_commit(spark, tmp_path, mode, reader):
    t = KeyedParquetTable(str(tmp_path / "t"), keys=["id"], mode=mode, n_buckets=4)
    assert READERS[reader](t, spark) is None


@pytest.mark.parametrize("mode", MODES)
def test_emptied_table_reads_as_an_empty_frame(spark, tmp_path, mode):
    """Once every key is deleted, every reader returns an empty frame with
    the table's columns. On the bucketed layout (whose bucket map is then
    empty) the frame is a local relation: counting it runs one 1-task job,
    not one task per core."""
    t = KeyedParquetTable(str(tmp_path / "t"), keys=["id"], mode=mode, n_buckets=4)
    _emptied(spark, t)
    for reader in READERS.values():
        df = reader(t, spark)
        assert sorted(df.columns) == ["id", "mtime", "val"] and df.collect() == []
    if mode == MODE_COW_BUCKETED:
        assert t._bucket_maps(t._read_pointer())[t._read_pointer()["version"]] == {}
        df, before = t.read(spark), settled_job_ids(spark)
        assert df.count() == 0 and df.inputFiles() == []
        tracker = spark.sparkContext.statusTracker()
        stages = [s for j in settled_job_ids(spark) - before for s in tracker.getJobInfo(j).stageIds]
        assert sum(tracker.getStageInfo(s).numTasks for s in stages) <= 1


@pytest.mark.parametrize("mode", MODES)
def test_restricted_readers_equal_filtered_read(spark, tmp_path, mode):
    """read_keys, read_where_keys and read_range (on a key and on a
    non-key column) each equal read().filter(...) of their predicate: on
    a compacted base carrying the stats index (the lookups then open
    fewer files than the snapshot), and after a batch that updates a key,
    tombstones one and adds one (a pending delta on MOR), over a key set
    that includes an absent key."""
    t = KeyedParquetTable(
        str(tmp_path / "t"), keys=["id"], mode=mode, n_buckets=4,
        cluster_cols=["id"], cluster_range_files=4,
    )
    t.merge_batch(spark, _batch(spark, [(i, f"a{i}", 1, False) for i in range(40)]), 0)
    t.compact(spark)
    key_set = F.col("id").isin([3, 7, 50, 999])

    def check():
        full = t.read(spark)
        for got, pred in [
            (t.read_keys(spark, [(3,), (7,), (50,), (999,)]), key_set),
            (t.read_where_keys(spark, key_set), key_set),
            (t.read_range(spark, "id", 2, 8), F.col("id").between(2, 8)),
            (t.read_range(spark, "mtime", 2, 2), F.col("mtime") == 2),
        ]:
            assert _rows(got) == _rows(full.filter(pred))

    check()
    assert set(t.read_keys(spark, [(3,)]).inputFiles()) < set(t.read(spark).inputFiles())
    t.merge_batch(spark, _batch(spark, [(3, "b3", 2, False), (7, None, 2, True), (50, "n", 2, False)]), 1)
    if mode == MODE_MOR:
        assert t._resolve(t._read_pointer()["version"])[1], "no pending delta"
    check()


def test_every_commit_records_its_schema(spark, tmp_path):
    for mode in (MODE_COW, MODE_MOR, MODE_COW_BUCKETED):
        t = KeyedParquetTable(str(tmp_path / mode), keys=["id"], mode=mode, n_buckets=4)
        t.merge_batch(spark, _batch(spark, [(1, "a", 1, False), (2, "b", 1, False)]), 0)
        t.merge_batch(spark, _batch(spark, [(3, "c", 2, False)]), 1)
        v = t.compact(spark) if mode != MODE_COW else t.restore(spark, version=1)
        meta = t.commit_meta()
        assert meta[v]["op"] in ("compact", "snapshot", "restore")
        for m in meta.values():
            cols = [f["name"] for f in json.loads(m["schema"])["fields"]]
            assert {"id", "val", "mtime"} <= set(cols) and "__bucket" not in cols, (mode, m)


def test_mor_drift_folds_like_merge_schema(spark, tmp_path):
    """A MOR table whose second delta adds a column reads the same rows
    and columns as the mergeSchema read of a pointer without recorded
    schemas; rows written before the column existed read it as null."""
    t = KeyedParquetTable(str(tmp_path / "t"), keys=["id"], mode=MODE_MOR)
    t.merge_batch(spark, _batch(spark, [(i, f"a{i}", 1, False) for i in range(4)]), 0)
    t.compact(spark)
    t.merge_batch(spark, _batch(spark, [(1, "b", 2, False)]), 1)
    t.merge_batch(
        spark,
        _batch(spark, [(2, "c", 3, False, 7), (3, None, 3, True, None)], SCHEMA + ", score long"),
        2,
    )
    got = t.read(spark)
    shutil.copytree(tmp_path / "t", tmp_path / "legacy")
    _strip_schemas(tmp_path / "legacy")
    legacy = KeyedParquetTable(str(tmp_path / "legacy"), keys=["id"], mode=MODE_MOR).read(spark)
    assert sorted(got.columns) == sorted(legacy.columns) == ["id", "mtime", "score", "val"]
    assert _rows(got) == _rows(legacy)
    assert {r["id"]: (r["val"], r["score"]) for r in got.collect()} == {
        0: ("a0", None), 1: ("b", None), 2: ("c", 7),
    }
    pred = key_set_predicate([(1,), (2,)], got.select("id").schema.fields)
    aff = t.read_where_keys(spark, pred)
    assert _rows(aff) == _rows(got.filter(pred)) and aff.count() == 2
    # a one-column key set is a plain IN: it reaches the parquet scans
    assert re.search(r"PushedFilters: \[[^\]]*In\(id", aff._jdf.queryExecution().executedPlan().toString())


def test_pointer_without_schema_reads_and_next_commit_records_one(spark, tmp_path):
    """Older pointers read and commit in every layout. Besides schemas,
    each lacks one key the current writer always records: a bucketed
    pointer has no ``file_stats``, a plain one no ``bucket_maps``. A
    missing key reads as empty."""
    for mode in (MODE_COW, MODE_MOR, MODE_COW_BUCKETED):
        root = str(tmp_path / mode)
        t = KeyedParquetTable(root, keys=["id"], mode=mode, n_buckets=4)
        t.merge_batch(spark, _batch(spark, [(1, "a", 1, False), (2, "b", 1, False)]), 0)
        missing = "file_stats" if mode == MODE_COW_BUCKETED else "bucket_maps"
        _strip_schemas(root, missing)
        assert all("schema" not in m for m in t.commit_meta().values())
        assert {r["id"]: r["val"] for r in t.read(spark).collect()} == {1: "a", 2: "b"}
        t.merge_batch(spark, _batch(spark, [(2, "b2", 2, False)]), 1)
        meta = t.commit_meta()
        assert "schema" in meta[max(meta)]
        assert {r["id"]: r["val"] for r in t.read(spark).collect()} == {1: "a", 2: "b2"}
        p = t._read_pointer()
        if mode == MODE_COW_BUCKETED:
            assert p["file_stats"] == {} and set(p["bucket_maps"]) == set(p["commits"])
        else:
            assert p["bucket_maps"] == {}


# -- key-set predicates --------------------------------------------------------

AWKWARD = ["it's", "back\\slash", 'dq"', "new\nline", "ünï€😀", "') OR 1=1 --", "", "`id`"]
KEYS_SCHEMA = "i int, l long, s string, ts timestamp, d decimal(10,2), n long"
KEY_ROWS = [
    (i, (-1) ** i * (i << 40), s, datetime(2024, 1, 1, i), Decimal(f"{i}.25"), i)
    for i, s in enumerate(AWKWARD)
] + [(99, 9223372036854775807, "plain", datetime(2024, 2, 1), Decimal("0.00"), 99),
     (98, -9223372036854775808, None, datetime(2024, 3, 1), Decimal("-1.50"), 98)]


@pytest.fixture(scope="module")
def key_frame(spark):
    return spark.createDataFrame(KEY_ROWS, KEYS_SCHEMA)


def _isin(df, cols, rows):
    """The per-literal reference: isin over literals cast to the key types."""
    fields = df.select(*cols).schema.fields
    if len(cols) == 1:
        return F.col(cols[0]).isin([F.lit(r[0]).cast(fields[0].dataType) for r in rows])
    lits = [F.struct(*[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(r, fields)])
            for r in rows]
    return F.struct(*[F.col(c).alias(c) for c in cols]).isin(lits)


def _ids(df, cond):
    return sorted(r["n"] for r in df.filter(cond).select("n").collect())


class _LitSpy:
    def __init__(self, monkeypatch):
        self.calls = 0
        lit = F.lit

        def spy(*a, **k):
            self.calls += 1
            return lit(*a, **k)

        monkeypatch.setattr(F, "lit", spy)


@pytest.mark.parametrize(
    "cols,rows",
    [
        (["i"], [(0,), (3,), (7,), (1234,), (None,)]),
        (["l"], [(1 << 40,), (-(3 << 40),), (9223372036854775807,), (-9223372036854775808,), (5,)]),
        (["s"], [(s,) for s in AWKWARD] + [("x",), (None,)]),
        (["l", "s"], [(-(1 << 40), "back\\slash"), (0, "it's"), (2 << 40, "it's"),
                      (-9223372036854775808, None), (9223372036854775807, "plain")]),
    ],
    ids=["int", "long", "string", "long+string"],
)
def test_key_set_matches_isin_in_one_call(key_frame, monkeypatch, cols, rows):
    fields = key_frame.select(*cols).schema.fields
    spy = _LitSpy(monkeypatch)
    pred = key_set_predicate(rows, fields)
    assert spy.calls == 0
    monkeypatch.undo()
    got = _ids(key_frame, pred)
    assert got == _ids(key_frame, _isin(key_frame, cols, rows))
    assert got, "vacuous: no key selected"


@pytest.mark.parametrize(
    "cols,rows",
    [
        (["ts"], [(datetime(2024, 1, 1, 2),), (datetime(2024, 3, 1),), (datetime(2030, 1, 1),)]),
        (["d"], [(Decimal("1.25"),), (Decimal("-1.50"),), (Decimal("9.99"),)]),
        (["l", "d"], [(1 << 40, Decimal("0.25")), (-9223372036854775808, Decimal("-1.50"))]),
    ],
    ids=["timestamp", "decimal", "long+decimal"],
)
def test_key_set_falls_back_per_literal(key_frame, monkeypatch, cols, rows):
    fields = key_frame.select(*cols).schema.fields
    spy = _LitSpy(monkeypatch)
    pred = key_set_predicate(rows, fields)
    assert spy.calls >= len(rows)
    monkeypatch.undo()
    got = _ids(key_frame, pred)
    assert got == _ids(key_frame, _isin(key_frame, cols, rows)) and got
