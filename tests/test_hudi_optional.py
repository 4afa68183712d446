"""Optional real-Hudi sink: contract test, skip-guarded on the bundle.

In this sandbox the Hudi Spark bundle is absent and cannot be fetched
(no network for Ivy; probe evidence in README "Hudi interop"), so the
integration test skips and only the fail-fast error contract runs.
"""

import pytest

from kafka_cdc_hudi_spark.sinks.hudi import HudiKeyedTable, hudi_available


def test_fails_fast_without_bundle(spark, tmp_path):
    t = HudiKeyedTable(root=str(tmp_path / "h"), keys=["id"])
    if hudi_available(spark):
        pytest.skip("Hudi bundle present; covered by the integration test")
    df = spark.createDataFrame([(1, "a", 10, False)], "id long, val string, mtime long, _deleted boolean")
    with pytest.raises(RuntimeError, match="Hudi datasource is not on the classpath"):
        t.merge_batch(spark, df, batch_id=0)


def test_hudi_roundtrip_when_available(spark, tmp_path):
    if not hudi_available(spark):
        pytest.skip("Hudi bundle not on classpath in this environment")
    t = HudiKeyedTable(root=str(tmp_path / "h2"), keys=["id"], table_name="t_rt")
    df1 = spark.createDataFrame(
        [(1, "a", 10, False), (2, "b", 10, False)],
        "id long, val string, mtime long, _deleted boolean",
    )
    df2 = spark.createDataFrame(
        [(1, "a2", 20, False), (2, None, 20, True), (3, "c", 20, False)],
        "id long, val string, mtime long, _deleted boolean",
    )
    t.merge_batch(spark, df1, batch_id=0)
    t.merge_batch(spark, df2, batch_id=1)
    state = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert state == {1: "a2", 3: "c"}


def test_batch_marker_only_absent_reads_as_none(spark, tmp_path):
    """The replay gate: an absent marker is a new table, but a garbled one
    must raise, or merge_batch would re-apply committed batches.
    ``last_batch_id`` needs no Hudi bundle."""
    t = HudiKeyedTable(root=str(tmp_path / "h3"), keys=["id"])
    assert t.last_batch_id(spark) is None
    t._write_batch_marker(spark, 7)
    assert t.last_batch_id(spark) == 7
    t._write_batch_marker(spark, "7x")
    with pytest.raises(ValueError):
        t.last_batch_id(spark)


def test_batch_marker_survives_a_killed_writer(spark, tmp_path, monkeypatch):
    """A marker write killed at any point leaves the last committed id
    readable: killed after the new id landed but before the older one is
    deleted, and killed mid-write (only its uncommitted ``_temporary/0``
    output exists), the marker still reads 7 — never "no marker", which
    would re-apply committed batches."""
    import os
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    class InjectedCrash(RuntimeError):
        pass

    # torn: the job's tasks wrote their output, its commit never ran, so
    # everything the write left is still under _temporary/0
    real_text = DataFrameWriter.text

    def torn_text(self, path, *a, **kw):
        real_text(self, path, *a, **kw)
        staged = os.path.join(path, "_temporary", "0")
        os.makedirs(staged)
        for name in os.listdir(path):
            if name != "_temporary":
                shutil.move(os.path.join(path, name), staged)
        raise InjectedCrash("killed before the job commit")

    torn = HudiKeyedTable(root=str(tmp_path / "torn"), keys=["id"])
    torn._write_batch_marker(spark, 7)
    with monkeypatch.context() as mp:
        mp.setattr(DataFrameWriter, "text", torn_text)
        with pytest.raises(InjectedCrash):
            torn._write_batch_marker(spark, 8)
    assert torn.last_batch_id(spark) == 7
    torn._write_batch_marker(spark, 8)
    assert torn.last_batch_id(spark) == 8

    # killed after 7 landed beside 6, before 6 is deleted
    def dying_drop(self, spark_, keep):
        raise InjectedCrash("killed before the older marker is deleted")

    undeleted = HudiKeyedTable(root=str(tmp_path / "undeleted"), keys=["id"])
    undeleted._write_batch_marker(spark, 6)
    with monkeypatch.context() as mp:
        mp.setattr(HudiKeyedTable, "_drop_older_markers", dying_drop)
        with pytest.raises(InjectedCrash):
            undeleted._write_batch_marker(spark, 7)
    assert undeleted.last_batch_id(spark) == 7
