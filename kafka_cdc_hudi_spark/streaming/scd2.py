"""Incremental SCD Type-2 history maintenance under the streaming engine
(VERDICT r8 item 5).

``operators/temporal.py:scd2_history`` reconstructs the full history in one
batch pass; a warehouse syncing CDC continuously wants the history TABLE
maintained per micro-batch instead of recomputed from the full log on every
read. This module keeps that table as ONE ``KeyedParquetTable`` (keyed by
(pk, valid_from, tiebreakers), ``valid_from`` being the event timestamp)
whose rows are every change event of the stream:

- an upsert or insert event is a history row carrying its ``valid_to``;
- a delete event is a history row too — a TOMBSTONE flagged by the data
  column ``__op_deleted``, never by the sink's ``_deleted``, so the sink
  keeps it. It closes the interval before it and is hidden by :meth:`read`;
- an event row is only ever replaced by a later event with the same event
  key (pk, ts, tiebreakers), never removed, so no sink tombstone is needed.

Per batch, ONLY the keys present in the batch are recomputed: their stored
event rows are read (left-semi prune), unioned with the batch's events, and
``valid_to`` is recomputed with one ``lead()``; the result is upserted in
one commit. New versions appear, the previously-current version's
``valid_to`` closes by upsert, and untouched keys' rows are never rewritten
(bucketed mode rewrites only touched buckets).

Per-batch cost: O(history rows of AFFECTED keys) window recompute + upsert —
change-set cost, not corpus cost, the same IVM algebra as
``operators/incremental.py``. A 100-TB deployment puts the history in a
bucketed or MOR layout so the affected-key read prunes to touched buckets
or scan row groups; replay idempotence and restart recovery are inherited
from the sink's batch-id pointer protocol, exactly like the merge sink
(/root/reference/glue/cdc_hudi.py:183-216 keeps only the latest row —
this is the history the reference throws away).

Out-of-order arrivals are handled EXACTLY (not best-effort): the affected
key's entire chain is rebuilt from its stored events, so a late event
splits the interval it lands in and a late tombstone truncates — invariants
pinned in ``tests/test_streaming_scd2.py`` against the batch reconstruction
oracle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_cdc_hudi_spark.operators.merge import merge_upsert
from kafka_cdc_hudi_spark.operators.temporal import scd2_history
from kafka_cdc_hudi_spark.sinks.keyed_table import (
    MAX_KEY_LITERALS,
    KeyedParquetTable,
    key_set_predicate,
)

#: the CDC op's delete flag is stored as DATA (a tombstone EVENT is a
#: history row, not a deletion of a history row)
_OP_DELETED = "__op_deleted"
#: history precombine: the maintaining batch id — later batches win,
#: replayed batches tie and resolve to the incoming copy (same content)
_HSEQ = "__hseq"
#: columns the history derives from the events; recomputed every batch
_DERIVED = ("valid_from", "valid_to", "is_current")


@dataclass
class Scd2HistoryMaintainer:
    root: str
    keys: Sequence[str]
    ts_col: str = "mtime"
    tiebreakers: Sequence[str] = ()
    #: history layout: "cow" (simple, snapshot rewrite per batch),
    #: "cow-bucketed" (touched-bucket rewrites — right when churn is
    #: key-localized), or "mor" (O(batch) delta commits + read-time fold —
    #: the write-throughput scale shape when churn is spread across the
    #: key space, where bucketed would touch every bucket anyway; the
    #: affected-key reads in :meth:`apply_batch` stay scan-pruned because
    #: ``read_where_keys`` pushes the key predicate BELOW the MOR fold)
    history_mode: str = "cow"
    n_buckets: int = 16
    #: bound the read fold of a MOR history (deltas folded into a base)
    history_compact_every: int | None = 8
    _hist: KeyedParquetTable | None = field(default=None, repr=False)

    @property
    def history(self) -> KeyedParquetTable:
        if self._hist is None:
            if os.path.isdir(f"{self.root}/log"):
                # the history once lived in two tables (a MOR event log plus
                # a history without delete events); that layout cannot be
                # read as the one-table layout and is not migrated
                raise ValueError(
                    f"{self.root} holds the retired two-table SCD2 layout "
                    "(<root>/log + <root>/history); the history is now one "
                    "table that stores delete tombstones as rows — rebuild it "
                    "into a fresh root by replaying the change stream"
                )
            kw = {}
            if self.history_mode == "cow-bucketed":
                kw["n_buckets"] = self.n_buckets
            elif self.history_mode == "mor":
                kw["compact_every"] = self.history_compact_every
            self._hist = KeyedParquetTable(
                root=f"{self.root}/history",
                keys=[*self.keys, "valid_from", *self.tiebreakers],
                order_col=_HSEQ,
                mode=self.history_mode,
                **kw,
            )
        return self._hist

    def apply_batch(
        self, spark: SparkSession, batch: DataFrame, batch_id: int
    ) -> bool:
        """Fold one normalized CDC batch (columns: keys + ts_col +
        tiebreakers + payload + optional ``_deleted``) into the history:
        the affected keys' stored events plus the batch's events (the batch
        wins an identical event key) get their intervals recomputed and
        are upserted in ONE commit. Returns False for an empty batch or a
        replay (the history already committed this ``batch_id``)."""
        last = self.history.last_batch_id()
        if last is not None and last >= batch_id:
            return False
        keys = list(self.keys)
        b = batch
        if "_deleted" in b.columns:
            b = b.withColumnRenamed("_deleted", _OP_DELETED)
        else:
            b = b.withColumn(_OP_DELETED, F.lit(False))
        # the collect and the commit both read the batch: cache it unless
        # the caller already did (the driver persists what it routes here)
        own_cache = not batch.is_cached
        if own_cache:
            b = b.persist()
        try:
            # ONE job answers emptiness, the NULL-key check and the
            # affected-key set: the capped key collect. NULL-key rows would
            # be stored but never selected by the affected-key predicate
            # (NULL IN (...) is NULL, and the semi-join fallback drops NULL
            # keys too) — that key's chain would silently never be rebuilt.
            # Fail fast instead, before the commit (ADVICE r9). Only a batch
            # past the literal cap may hide a NULL key beyond the collected
            # prefix and pays a separate job.
            affected = b.select(*keys).distinct()
            aff_rows = affected.limit(MAX_KEY_LITERALS + 1).collect()
            if not aff_rows:
                return False
            has_null = any(r[k] is None for r in aff_rows for k in keys)
            if not has_null and len(aff_rows) > MAX_KEY_LITERALS:
                null_key = None
                for k in keys:
                    c = F.col(k).isNull()
                    null_key = c if null_key is None else (null_key | c)
                has_null = not b.filter(null_key).isEmpty()
            if has_null:
                raise ValueError(
                    f"scd2 batch {batch_id} carries rows with NULL primary-key "
                    f"values in {keys}; filter or quarantine them upstream"
                )
            # the affected keys' stored events. Small batches (the churn
            # steady state) push the key set as a literal predicate BELOW
            # the history's MOR fold — the read prunes at the parquet scan
            # and costs O(affected keys' rows), not O(history); oversized
            # batches fall back to the broadcast semi-join above the fold.
            # The IN-list is built in one JVM call for integral/string keys
            # (key_set_predicate), literals typed as the batch's key columns.
            if len(aff_rows) <= MAX_KEY_LITERALS:
                stored = self.history.read_where_keys(
                    spark, key_set_predicate(aff_rows, affected.schema.fields)
                )
            else:
                stored = self.history.read(spark)
                if stored is not None:
                    stored = stored.join(F.broadcast(affected), on=keys, how="left_semi")
            # the events, one row per event key (pk, ts, tiebreakers): an
            # upsert of the batch into the stored events, so the batch wins
            # an identical stored key and in-batch duplicates resolve by a
            # content hash. The tombstone flag is plain data here — it is
            # not the merge's delete column, so no event is dropped.
            events = merge_upsert(
                None if stored is None else stored.drop(_HSEQ, *_DERIVED),
                b,
                [*keys, self.ts_col, *self.tiebreakers],
                order_col=self.ts_col,
            )
            # one lead() per key rebuilds every interval; deleted_col=None
            # keeps the tombstones as rows
            rows = scd2_history(
                events, keys, self.ts_col,
                tiebreakers=list(self.tiebreakers), deleted_col=None,
            ).withColumn(_HSEQ, F.lit(int(batch_id)).cast("long"))
            # one upsert commit (replay-idempotent, versioned, OCC-locked)
            return self.history.merge_batch(spark, rows, batch_id=batch_id)
        finally:
            if own_cache:
                b.unpersist()

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Current history snapshot: every key version with
        [valid_from, valid_to) and ``is_current``. Delete tombstones (which
        close the version before them) and internal columns are hidden."""
        df = self.history.read(spark)
        if df is None:
            return None
        live = ~F.coalesce(F.col(_OP_DELETED), F.lit(False))
        return df.filter(live).drop(_OP_DELETED, _HSEQ)
