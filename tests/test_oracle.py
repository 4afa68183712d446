"""Every registered oracle-checked query must match DuckDB exactly at
sf0.001 (the driver runs the same comparison at sf0.01)."""

import pytest

from kafka_cdc_hudi_spark.plans.catalog import FULL_REGISTRY as REGISTRY

from .conftest import SF_DIR
from .oracle_harness import compare, duckdb_con


@pytest.fixture(scope="module")
def con():
    c = duckdb_con(SF_DIR)
    yield c
    c.close()


def _local_sql(name: str, sql: str) -> str:
    # some oracles bake per-scale-factor literals (trained artifacts);
    # the registry carries the driver's sf0.01 build — rebuild for the
    # local SF_DIR here
    from kafka_cdc_hudi_spark.plans.catalog import sf_dependent_sql_builders

    builder = sf_dependent_sql_builders().get(name)
    if builder is not None:
        return builder(SF_DIR) or sql
    return sql


ORACLE_CASES = [
    (n, fn, _local_sql(n, sql)) for n, (fn, sql) in REGISTRY.items() if sql is not None
]


@pytest.mark.parametrize("name,fn,sql", ORACLE_CASES, ids=[c[0] for c in ORACLE_CASES])
def test_query_matches_oracle(spark, con, name, fn, sql):
    compare(fn(spark, SF_DIR), con, sql)


class _Frame:
    """A collected result standing in for a Spark DataFrame."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def test_compare_raises_on_mismatch(con):
    """compare() asserts by itself: a caller that ignores its return value
    still fails on a wrong result."""
    import pandas as pd

    sql = "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(id, s)"
    assert compare(_Frame(pd.DataFrame({"id": [2, 1], "s": ["b", "a"]})), con, sql).startswith("ok")
    for bad, why in (
        (pd.DataFrame({"id": [1, 2], "s": ["a", "c"]}), "row 1"),
        (pd.DataFrame({"id": [1], "s": ["a"]}), "row count"),
        (pd.DataFrame({"id": [1, 2]}), "columns differ"),
        (pd.DataFrame({"id": [1.0, 2.0], "s": ["a", "b"]}), "int-vs-float"),
    ):
        with pytest.raises(AssertionError, match=why):
            compare(_Frame(bad), con, sql)


@pytest.fixture(scope="module")
def built_frames(spark):
    """One plan-build pass shared by the registry-wide schema-walk tests
    (r11 gate-time accounting): several entries do eager work at BUILD
    time (maintainer CDC scripts, iterative localCheckpoint rounds,
    codebook training) — ~86s per full pass even warm, so the two walks
    below must not each pay their own."""
    return {name: fn(spark, SF_DIR) for name, (fn, _sql) in REGISTRY.items()}


def test_all_queries_return_rows(built_frames):
    for name, df in built_frames.items():
        assert df.columns, f"{name}: no columns"


#: queries whose oracle pass was once vacuous (0 rows == 0 rows proves
#: nothing); their fixtures/thresholds are calibrated to stay non-empty
_MUST_BE_NONEMPTY = (
    "dedup_embedding_cosine",
    "customers_without_orders",
    "events_funnel_conversions",
    "q7_volume_shipping",
    "q18_large_volume_customers",
    "q22_sales_opportunity",
    "events_anomaly_zscore",
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q15_top_supplier",
    "q20_excess_quantity_suppliers",
    "q21_last_shipper_blame",
)


@pytest.mark.parametrize("name", _MUST_BE_NONEMPTY)
def test_calibrated_queries_stay_nonvacuous(spark, name):
    fn, _sql = REGISTRY[name]
    assert fn(spark, SF_DIR).limit(1).count() == 1, f"{name}: vacuous again"


def test_normalize_rejects_collection_columns():
    """The driver's pandas canonicalization crashes on collection-typed
    cells (CORRECTNESS_r07: text_hash_embedding, unhashable 'list'). The
    local harness must FAIL on them — loudly, before the driver does —
    while still normalizing binary cells (bytearray vs bytes), which sort
    and hash fine."""
    import pandas as pd
    import pytest as _pytest

    from .oracle_harness import CollectionColumnError, _normalize

    for bad in ([[5, 6], [7, 8], None], [{"k": 1}, {"k": 2}, None]):
        with _pytest.raises(CollectionColumnError):
            _normalize(pd.DataFrame({"id": [2, 1, 3], "c": bad}))
    ok = _normalize(
        pd.DataFrame({"id": [2, 1], "b": [bytearray(b"zz"), b"aa"]})
    )
    assert list(ok.columns) == ["b", "id"]
    assert ok["b"].tolist() == [b"aa", b"zz"]


def test_no_collection_typed_output_columns(built_frames):
    """Schema walk over EVERY registry entry (driver-facing or not): no
    result may expose a top-level array/map/struct column — the driver's
    canonicalizer crashes on them (CORRECTNESS_r07). Schema-only, no jobs
    run. Binary is fine (bytes cells sort/hash)."""
    from pyspark.sql import types as T

    offenders = []
    for name, df in built_frames.items():
        for field in df.schema.fields:
            if isinstance(field.dataType, (T.ArrayType, T.MapType, T.StructType)):
                offenders.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not offenders, offenders


def test_reconciliation_exercises_all_outer_branches(spark):
    """The full-outer entry must actually produce all three null patterns —
    an all-'both' result would leave the outer join vacuously untested."""
    fn, _sql = REGISTRY["user_activity_reconciliation"]
    statuses = {r.status for r in fn(spark, SF_DIR).select("status").distinct().collect()}
    assert statuses == {"both", "events_only", "orders_only"}, statuses
