"""As-of (temporal) join — a custom operator Spark lacks natively.

The reference has no joins at all (SURVEY §2 "not implemented"); this is
part of the analytics extension. Semantics: for each left row, attach the
latest right row with the same key and ``right_ts <= left_ts`` (backward,
inclusive — DuckDB/pandas ``ASOF JOIN`` default).

Spark-first implementation: NOT a range-exploded join (quadratic blowup) and
NOT a per-key Pandas UDF. Both sides are unioned with a side tag, then one
``last(..., ignorenulls=True)`` running window ordered by
``(ts, side)`` carries the most recent right payload forward onto each left
row. Cost: ONE shuffle + sort per key — linear in input, skew-tolerant via
AQE, no state beyond the sort. This is the classic log-shipping/backfill
shape (points-in-time features, dimension snapshots, price-at-trade).

Determinism: right rows must be unique per (key, right_ts); pre-dedup with
``latest_per_key`` if they are not (ties at identical timestamps are
otherwise ambiguous in any as-of engine, DuckDB included).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_cdc_hudi_spark.functions.timefns import (
    MICROS_PER_SEC,
    epoch_micros,
    floordiv_long,
)

_SIDE = "__side"
_TS = "__evt_ts"
_R = "__r"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """Backward-inclusive as-of join; right payload columns appear on the
    output as ``<prefix><col>`` plus ``<prefix>ts`` (null when no right row
    precedes the left row)."""
    on = list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in on and c != right_ts]
    rstruct = F.struct(
        F.col(right_ts).alias("ts"), *[F.col(c) for c in right_cols]
    )
    # SQL ASOF equality semantics: a NULL key or NULL timestamp on the right
    # can never match (otherwise the null-ts row sorts first and becomes
    # everyone's "earliest" match, and null keys would pair with null keys)
    right_valid = right.filter(F.col(right_ts).isNotNull())
    for k in on:
        right_valid = right_valid.filter(F.col(k).isNotNull())
    r = right_valid.select(
        *on,
        F.col(right_ts).alias(_TS),
        F.lit(0).alias(_SIDE),
        rstruct.alias(_R),
    )
    l = left.select(
        "*",
        F.col(left_ts).alias(_TS),
        F.lit(1).alias(_SIDE),
        F.lit(None).cast(r.schema[_R].dataType).alias(_R),
    )
    u = l.unionByName(r, allowMissingColumns=True)
    # right (side 0) sorts before left (side 1) at equal ts -> inclusive
    w = (
        Window.partitionBy(*on)
        .orderBy(_TS, _SIDE)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn("__last_r", F.last(_R, ignorenulls=True).over(w))
    out_cols = [F.col(c) for c in left.columns]
    out_cols.append(F.col("__last_r.ts").alias(f"{prefix}ts"))
    out_cols += [F.col(f"__last_r.{c}").alias(f"{prefix}{c}") for c in right_cols]
    return filled.filter(F.col(_SIDE) == 1).select(*out_cols)


def range_join(
    left: DataFrame,
    intervals: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Interval join: each left row paired with every interval (same key)
    where ``start <= left_ts < end`` — half-open, SQL-null semantics (null
    keys/bounds never match).

    Spark-first scale path: a naive inequality join plans as a broadcast
    nested loop (quadratic). Instead each interval is exploded to the
    time buckets it spans and each left row computes its single bucket, so
    the pairing becomes an EQUI-join on (key, bucket) + a residual range
    filter — shuffle-partitionable, AQE-skew-splittable, linear in
    (rows + interval-bucket spans). Pick ``bucket_seconds`` near the median
    interval length: output duplicates are impossible (a left row lives in
    exactly one bucket).
    """
    on = list(on)
    # exact integer-micros bucketing (NTZ-safe via epoch_micros; no float
    # epsilon needed, and floordiv_long keeps the division in integer/
    # decimal arithmetic — floor(double/double) rounds past 2^53 micros)
    b_us = bucket_seconds * MICROS_PER_SEC
    iv = intervals.filter(F.col(start_col).isNotNull() & F.col(end_col).isNotNull())
    for k in on:
        iv = iv.filter(F.col(k).isNotNull())
    # buckets covered by [start, end): floor(start/b) .. floor((end - 1us)/b)
    last_bucket = floordiv_long(epoch_micros(end_col) - F.lit(1), b_us)
    iv = iv.withColumn(
        "__bucket",
        F.explode(
            F.sequence(floordiv_long(epoch_micros(start_col), b_us), last_bucket)
        ),
    )
    lf = left.withColumn("__bucket", floordiv_long(epoch_micros(left_ts), b_us))
    joined = lf.join(iv, [*on, "__bucket"]).filter(
        (F.col(left_ts) >= F.col(start_col)) & (F.col(left_ts) < F.col(end_col))
    )
    return joined.drop("__bucket")


def scd2_history(
    changes: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreakers: Sequence[str] = (),
    deleted_col: str | None = "_deleted",
) -> DataFrame:
    """Slowly-changing-dimension TYPE-2 reconstruction from a CDC change
    log — the canonical warehouse read of a Debezium/DMS stream the
    reference job feeds (glue/cdc_hudi.py keeps only the LATEST row; SCD2
    keeps every version with its validity interval).

    Each non-delete change opens a version valid from its own ``ts_col``;
    any later change to the same key (including a delete tombstone) closes
    it: ``valid_to`` = the next change's timestamp, NULL while current.
    Delete rows close the prior interval but emit no row themselves, so a
    deleted key has no current version and a re-insert afterwards opens a
    fresh one — all falling out of one ``lead()`` over (key, time) BEFORE
    the tombstone filter. ``deleted_col=None`` skips that filter: delete
    rows are kept with their own interval (the stored form of the
    incremental history, streaming/scd2.py).

    Scale shape: ONE shuffle on the key + one sort — identical cost to the
    latest-per-key dedup the merge sink already pays; no self-join, no
    interval explosion."""
    from pyspark.sql import Window

    order = [F.col(ts_col), *[F.col(t) for t in tiebreakers]]
    w = Window.partitionBy(*keys).orderBy(*order)
    out = changes.withColumn("valid_to", F.lead(ts_col).over(w))
    if deleted_col in changes.columns:
        out = out.filter(~F.coalesce(F.col(deleted_col), F.lit(False)))
    return (
        out.withColumn("valid_from", F.col(ts_col))
        .withColumn("is_current", F.col("valid_to").isNull())
    )
