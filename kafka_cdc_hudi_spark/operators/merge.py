"""Pure-Spark keyed upsert merge — the heart of the engine (SURVEY §7 M3).

Reproduces Hudi COPY_ON_WRITE upsert with ``DefaultHoodieRecordPayload``
precombine semantics (/root/reference/glue/cdc_hudi.py:179-216) without the
Hudi jar:

- record key  = composite primary key
- precombine  = ``mtime`` (newer wins, ties broken toward the incoming batch
  — Hudi prefers the incoming record on equal precombine values)
- ``_deleted=True`` rows delete the stored record
  (reference ``_hoodie_is_deleted`` + payload class,
  /root/reference/glue/cdc_hudi.py:195)
- schema evolution: new columns appear null-filled, dropped columns survive
  null-filled (reference `schema.allow.auto.evolution.column.drop`,
  /root/reference/glue/cdc_hudi.py:205) via ``unionByName(allowMissingColumns)``.

Properties (tested in tests/test_merge.py):
- idempotent: merging the same batch twice leaves the table unchanged
  (required because ``foreachBatch`` is at-least-once, SURVEY §7 hard-part 5)
- precombine-correct: an older event arriving later never clobbers a newer
  stored row (FIXTURES §A3.5)

Scale: one shuffle by key (the same cost Hudi pays to bucket records into
file groups); with ``latest_per_key_agg`` the combiner collapses in-batch
duplicates map-side. At 100 TB the stored side would be bucketed by key so
the union-merge co-partitions without re-shuffling the big side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_cdc_hudi_spark.operators.dedup import latest_per_key_agg, struct_sql

_SRC_COL = "__src_priority"


def align_by_name(existing: DataFrame, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Align two frames to the union of their columns, null-filling missing
    ones (schema drift both directions — SURVEY §7 hard-part 2)."""
    e_cols, b_cols = set(existing.columns), set(batch.columns)
    for c in sorted(b_cols - e_cols):
        existing = existing.withColumn(c, F.lit(None).cast(batch.schema[c].dataType))
    for c in sorted(e_cols - b_cols):
        batch = batch.withColumn(c, F.lit(None).cast(existing.schema[c].dataType))
    return existing, batch.select(*existing.columns)


def _with_det_tiebreak(df: DataFrame, exclude: Sequence[str]) -> tuple[DataFrame, str]:
    """Attach a deterministic content-hash tiebreak column.

    Without caller tiebreakers, rows sharing the ordering value would
    resolve by partial-aggregation order — so synthesize a content hash:
    the winner is arbitrary but IDENTICAL run-to-run and
    replay-to-replay (idempotence depends on it). The hash covers a
    canonical JSON serialization (NOT ``xxhash64(*cols)``, which skips
    null children and would conflate column-swapped rows)."""
    det_col = "__det_tb"
    payload = struct_sql([c for c in df.columns if c not in exclude])
    return (
        df.withColumn(
            det_col,
            F.expr(f"xxhash64(to_json({payload}, map('ignoreNullFields', 'false')))"),
        ),
        det_col,
    )


def dedupe_batch(
    batch: DataFrame,
    keys: Sequence[str],
    order_col: str = "mtime",
    deleted_col: str = "_deleted",
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """In-batch latest-per-key dedup that KEEPS delete tombstones.

    Used by the merge-on-read sink to collapse a micro-batch to at most one
    row per key before appending it as a delta commit: map-side combine
    shrinks shuffle volume to ~unique-keys, and the read-time fold can then
    break cross-delta ties purely by commit sequence. Deterministic via the
    same content-hash tiebreak as :func:`merge_upsert`."""
    if deleted_col not in batch.columns:
        batch = batch.withColumn(deleted_col, F.lit(False))
    tiebreakers = list(tiebreakers)
    det_col = None
    if not tiebreakers:
        batch, det_col = _with_det_tiebreak(batch, exclude=())
        tiebreakers = [det_col]
    out = latest_per_key_agg(batch, keys, order_col=order_col, tiebreakers=tiebreakers)
    return out.drop(det_col) if det_col is not None else out


def merge_upsert(
    existing: DataFrame | None,
    batch: DataFrame,
    keys: Sequence[str],
    order_col: str = "mtime",
    deleted_col: str = "_deleted",
    tiebreakers: Sequence[str] = (),
    keep_deleted_col: bool = False,
) -> DataFrame:
    """Merge a (parsed, normalized) CDC batch into the current table state.

    ``existing`` is the current materialized state (or None for first write);
    returns the new state. Both in and out are plain DataFrames so the same
    function serves batch tests, the streaming sink, and the oracle queries.
    """
    if deleted_col not in batch.columns:
        batch = batch.withColumn(deleted_col, F.lit(False))
    batch = batch.withColumn(_SRC_COL, F.lit(1))
    if existing is not None:
        if deleted_col not in existing.columns:
            existing = existing.withColumn(deleted_col, F.lit(False))
        existing = existing.withColumn(_SRC_COL, F.lit(0))
        existing, batch = align_by_name(existing, batch)
        unioned = existing.unionByName(batch)
    else:
        unioned = batch
    # newest mtime wins; on ties the incoming batch wins (Hudi behavior),
    # then caller tiebreakers keep it deterministic (see _with_det_tiebreak
    # for why a synthesized content hash is required when none are given)
    tiebreakers = list(tiebreakers)
    det_col = None
    if not tiebreakers:
        unioned, det_col = _with_det_tiebreak(unioned, exclude=(_SRC_COL,))
        tiebreakers = [det_col]
    merged = latest_per_key_agg(
        unioned, keys, order_col=order_col, tiebreakers=[_SRC_COL, *tiebreakers]
    )
    merged = merged.filter(~F.coalesce(F.col(deleted_col), F.lit(False))).drop(_SRC_COL)
    if det_col is not None:
        merged = merged.drop(det_col)
    if not keep_deleted_col:
        merged = merged.drop(deleted_col)
    return merged


def merge_upsert_two_batches(
    parsed: DataFrame,
    second_batch: Column,
    keys: Sequence[str],
    order_col: str = "mtime",
    deleted_col: str = "_deleted",
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Fused one-pass equivalent of the sequential two-batch COW fold
    ``merge_upsert(merge_upsert(None, batch_a), batch_b)`` where
    ``batch_a = parsed.filter(~second_batch)`` and
    ``batch_b = parsed.filter(second_batch)``.

    The sequential form executes the upstream lineage TWICE (each filter
    branch re-runs it — Spark shares no common subtrees without an explicit
    persist) and pays one exchange per ``latest_per_key_agg``. This fold
    computes both per-batch winners in ONE hash aggregate over one pass:

    - per key, ``max`` over a conditional ``struct(order, tiebreakers, row)``
      per batch — map-side partial aggregation collapses each batch to at
      most one candidate per key per input partition before the shuffle
      (same skew-immunity as ``latest_per_key_agg``);
    - batch A's winner survives only if not a delete (state after batch A —
      an older A-insert never resurrects within its own batch);
    - cross-batch precombine: B's winner beats A's surviving state on
      ``order_col`` with ties to the incoming batch (Hudi behavior; the
      batch marker is a strictly stronger comparator than any tiebreaker,
      so tiebreakers never cross batches);
    - a winning delete tombstone drops the key.

    Equivalence to the sequential fold is pinned property-style in
    tests/test_merge.py. Requirements (same as deterministic
    ``merge_upsert``): ``(order_col, *tiebreakers)`` unique per key within
    each batch, ``order_col`` non-null; ``tiebreakers`` must be non-empty
    (callers without a natural tiebreak should stay on ``merge_upsert``,
    which synthesizes a content-hash one).
    """
    if not tiebreakers:
        raise ValueError(
            "merge_upsert_two_batches requires explicit tiebreakers; "
            "use merge_upsert for the content-hash fallback"
        )
    if deleted_col not in parsed.columns:
        parsed = parsed.withColumn(deleted_col, F.lit(False))
    cand = F.struct(
        F.col(order_col).alias("__o"),
        *[F.col(t).alias(f"__t{i}") for i, t in enumerate(tiebreakers)],
        F.struct(*[F.col(c) for c in parsed.columns]).alias("__row"),
    )
    agg = parsed.groupBy(*[F.col(k) for k in keys]).agg(
        F.max(F.when(~second_batch, cand)).alias("__a"),
        F.max(F.when(second_batch, cand)).alias("__b"),
    )
    a, b = F.col("__a"), F.col("__b")
    a_deleted = F.coalesce(a.getField("__row").getField(deleted_col), F.lit(False))
    a_live = F.when(~a_deleted, a)  # null when a is null or a tombstone
    winner = (
        F.when(a_live.isNull(), b)
        .when(b.isNull(), a_live)
        .when(b.getField("__o") >= a_live.getField("__o"), b)
        .otherwise(a_live)
    )
    w_deleted = F.coalesce(
        winner.getField("__row").getField(deleted_col), F.lit(False)
    )
    return (
        agg.select(F.when(~w_deleted, winner).alias("__w"))
        .filter(F.col("__w").isNotNull())
        .select("__w.__row.*")
        .drop(deleted_col)
    )


def partial_update_fold(
    history: DataFrame,
    keys: Sequence[str],
    order_col: str,
    deleted_col: str = "_deleted",
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Partial-update merge: fold an ordered CDC history where NULL fields
    mean "unchanged" (Hudi ``OverwriteNonDefaultsWithLatestAvroPayload``
    semantics — the payload class the reference's Hudi option surface can
    select instead of its default, /root/reference/glue/cdc_hudi.py:195).

    Equivalent to the sequential pairwise combine: replay events per key in
    ``order_col`` order; a delete clears the record; an upsert overwrites
    only its non-null fields. Expressed as ONE aggregation pass (no window,
    no iteration): for each value column take the value at the max order
    among non-null non-delete rows, then null it out if the latest delete
    came later — algebraically identical to the fold because anything
    written before the last delete is cleared and anything after survives.

    ``order_col`` must be a totally-ordered orderable column per key (e.g.
    ``mtime * 2^20 + event_id``); ties would make the fold ambiguous.
    Scale: one shuffle on the key with map-side partial aggregation —
    shuffle volume is ~unique-keys and hot keys combine before the
    exchange, the same skew-immunity as ``latest_per_key_agg``.
    """
    ord_c = F.col(order_col)
    del_c = F.coalesce(F.col(deleted_col), F.lit(False))
    if value_cols is None:
        drop = set(keys) | {order_col, deleted_col}
        value_cols = [c for c in history.columns if c not in drop]
    aggs = [
        F.max(F.when(del_c, ord_c)).alias("_dmax"),
        F.max(F.when(~del_c, ord_c)).alias("_smax"),
    ]
    for c in value_cols:
        live = (~del_c) & F.col(c).isNotNull()
        # max-of-struct instead of max_by: guaranteed to ignore rows where
        # the ordering is null, and deterministic because ord is unique
        aggs.append(
            F.max(
                F.when(live, F.struct(ord_c.alias("o"), F.col(c).alias("v")))
            ).alias(f"_lv_{c}")
        )
    g = history.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
    dmax = F.col("_dmax")
    survives = F.col("_smax").isNotNull() & (dmax.isNull() | (F.col("_smax") > dmax))
    out = [*keys]
    for c in value_cols:
        lv = F.col(f"_lv_{c}")
        keep = lv.isNotNull() & (dmax.isNull() | (lv.getField("o") > dmax))
        out.append(F.when(keep, lv.getField("v")).alias(c))
    out.append(F.col("_smax").alias(order_col))
    return g.filter(survives).select(*out)
