"""Local stand-in for the driver's DuckDB-oracle comparison.

NOT a mirror of the driver: stricter about VALUES (exact cell equality
after sorting columns by name and rows by value — if this passes, any
order-insensitive value-hash comparison passes too) but historically
WEAKER about dtypes/shapes. CORRECTNESS_r07 proved the gap: the driver's
pandas ``sort_values`` canonicalization crashes on collection-typed cells
(``TypeError: unhashable type: 'list'``) that this harness used to
tuple-ize. Collection-typed (list/dict/array) result columns are now a
hard FAILURE here so the gap can't reopen; present vectors as JSON
strings or scalar columns instead (see text_hash_embedding).
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


class CollectionColumnError(AssertionError):
    """A result column holds raw lists/dicts/arrays — the driver's pandas
    canonicalization cannot sort or hash these (the CORRECTNESS_r07
    text_hash_embedding crash). The query must present such values as
    JSON strings or scalar columns in BOTH dialects."""


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype != object:
            continue
        nonnull = s.dropna()
        if len(nonnull) and isinstance(
            nonnull.iloc[0], (bytearray, memoryview)
        ):
            # Spark binary collects as bytearray, DuckDB as bytes; bytes
            # cells sort/hash fine, so normalize rather than fail.
            df[c] = s.map(lambda v: bytes(v) if v is not None else None)
        elif len(nonnull) and isinstance(
            nonnull.iloc[0], (list, tuple, dict, np.ndarray)
        ):
            raise CollectionColumnError(
                f"column {c!r} holds {type(nonnull.iloc[0]).__name__} cells; "
                "the correctness driver cannot canonicalize collection "
                "columns — emit to_json(...) or scalar columns instead"
            )
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str, float_ulp_exact: bool = True):
    """Assert ``spark_df`` equals the oracle ``sql`` result; raises
    ``AssertionError`` naming the first difference, else returns a summary
    message."""
    got = _normalize(spark_df.toPandas())
    exp = _normalize(con.sql(sql).df())
    if list(got.columns) != list(exp.columns):
        raise AssertionError(f"columns differ: spark={list(got.columns)} oracle={list(exp.columns)}")
    if len(got) != len(exp):
        raise AssertionError(f"row count differs: spark={len(got)} oracle={len(exp)}")
    for c in got.columns:
        # Mirror the driver's schema check: a tz-aware oracle column vs a
        # tz-naive Spark column is a schema mismatch, not something to paper
        # over by normalizing (caught us once: DuckDB to_timestamp -> TIMESTAMPTZ).
        gt, et = got[c].dtype, exp[c].dtype
        if isinstance(gt, pd.DatetimeTZDtype) != isinstance(et, pd.DatetimeTZDtype):
            raise AssertionError(f"col {c}: tz-awareness differs: spark={gt} oracle={et}")
        # Mirror the driver's value-hash: an int column vs a float column
        # renders differently (1677 vs 1677.0) even when numerically equal.
        # Caught us once: DuckDB SUM(CASE...) -> HUGEINT -> pandas float64
        # vs Spark bigint (q12). Python equality below would paper over it.
        if pd.api.types.is_integer_dtype(gt) != pd.api.types.is_integer_dtype(et) and (
            pd.api.types.is_numeric_dtype(gt) and pd.api.types.is_numeric_dtype(et)
        ):
            raise AssertionError(f"col {c}: int-vs-float dtype mismatch: spark={gt} oracle={et}")
    for c in got.columns:
        a, b = got[c], exp[c]
        for i, (x, y) in enumerate(zip(a, b)):
            if x is None and y is None:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x != y:
                    raise AssertionError(f"col {c} row {i}: {x!r} != {y!r} (float)")
            elif pd.isna(x) and pd.isna(y):
                continue
            elif x != y:
                raise AssertionError(f"col {c} row {i}: {x!r} != {y!r}")
    return f"ok ({len(got)} rows, {len(got.columns)} cols)"
