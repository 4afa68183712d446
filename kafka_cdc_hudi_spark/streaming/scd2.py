"""Incremental SCD Type-2 history maintenance under the streaming engine
(VERDICT r8 item 5).

``operators/temporal.py:scd2_history`` reconstructs the full history in one
batch pass; a warehouse syncing CDC continuously wants the history TABLE
maintained per micro-batch instead of recomputed from the full log on every
read. This module composes that out of the two pieces the repo already
trusts:

- an append-only **event log** (``KeyedParquetTable`` in MOR mode, keyed by
  (pk, ts, tiebreakers) so every change event is its own key): each commit
  is an O(batch) delta append, compaction keeps the read fold bounded, and
  the batch-id pointer protocol makes replays no-ops;
- the **history table** (``KeyedParquetTable``, keyed by (pk, valid_from,
  tiebreakers)): per batch, ONLY the keys present in the batch are
  recomputed from the log (left-semi prune) and upserted — new versions
  appear, the previously-current version's ``valid_to`` closes by upsert,
  and versions that vanished under an out-of-order correction are
  tombstoned by anti-join. Untouched keys' rows are never rewritten
  (bucketed mode rewrites only touched buckets).

Per-batch cost: O(batch) log append + O(log rows of AFFECTED keys) window
recompute + O(history rows of affected keys) upsert — change-set cost, not
corpus cost, the same IVM algebra as ``operators/incremental.py``. A
100-TB deployment puts the log and history in bucketed layouts so the
affected-key reads prune to touched buckets (``read_keys`` path); replay
idempotence and restart recovery are inherited from the sink's batch-id
pointer protocol, exactly like the merge sink
(/root/reference/glue/cdc_hudi.py:183-216 keeps only the latest row —
this is the history the reference throws away).

Out-of-order arrivals are handled EXACTLY (not best-effort): the affected
key's entire chain is rebuilt from the log, so a late event splits the
interval it lands in and a late tombstone truncates — invariants pinned in
``tests/test_streaming_scd2.py`` against the batch reconstruction oracle.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_cdc_hudi_spark.operators.temporal import scd2_history
from kafka_cdc_hudi_spark.sinks.keyed_table import KeyedParquetTable, key_set_predicate

#: the CDC op's delete flag travels through the log as DATA (a tombstone
#: EVENT is a log row, not a deletion of a log row)
_OP_DELETED = "__op_deleted"
#: history precombine: the maintaining batch id — later batches win,
#: replayed batches tie and resolve to the incoming copy (same content)
_HSEQ = "__hseq"

#: batches touching up to this many keys read the log/history through a
#: key-literal predicate pushed BELOW the MOR fold (scan-level pruning,
#: sinks/keyed_table.py:read_where_keys); larger batches fall back to the
#: broadcast semi-join AFTER the fold
_MAX_KEY_LITERALS = 4096


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
    #: bound the read fold of MOR tables (deltas folded into a base)
    log_compact_every: int | None = 8
    history_compact_every: int | None = 8
    _log: KeyedParquetTable | None = field(default=None, repr=False)
    _hist: KeyedParquetTable | None = field(default=None, repr=False)

    @property
    def log(self) -> KeyedParquetTable:
        if self._log is None:
            self._log = KeyedParquetTable(
                root=f"{self.root}/log",
                keys=[*self.keys, self.ts_col, *self.tiebreakers],
                order_col=self.ts_col,
                mode="mor",
                compact_every=self.log_compact_every,
            )
        return self._log

    @property
    def history(self) -> KeyedParquetTable:
        if self._hist is None:
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
        tiebreakers + payload + optional ``_deleted``) into the history.
        Returns False for an empty batch or a full replay (both tables
        already committed this ``batch_id``)."""
        keys = list(self.keys)
        b = batch
        if "_deleted" in b.columns:
            b = b.withColumnRenamed("_deleted", _OP_DELETED)
        else:
            b = b.withColumn(_OP_DELETED, F.lit(False))
        b = b.persist()
        try:
            # ONE job answers emptiness, the NULL-key check and the
            # affected-key set: the capped key collect. NULL-key rows would
            # be appended to the log but never selected by the affected-key
            # predicate (NULL IN (...) is NULL, and the semi-join fallback
            # drops NULL keys too) — that key's chain would silently never
            # materialize. Fail fast instead, before the log append
            # (ADVICE r9). Only a batch past the literal cap may hide a
            # NULL key beyond the collected prefix and pays a separate job.
            affected = b.select(*keys).distinct()
            aff_rows = affected.limit(_MAX_KEY_LITERALS + 1).collect()
            if not aff_rows:
                return False
            has_null = any(r[k] is None for r in aff_rows for k in keys)
            if not has_null and len(aff_rows) > _MAX_KEY_LITERALS:
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
            # 1. log append (no-op on replay: batch-id pointer protocol)
            self.log.merge_batch(spark, b, batch_id=batch_id)
            # 2. rebuild ONLY the affected keys' chains from the log.
            # Small batches (the churn steady state) push the affected-key
            # set as a literal predicate BELOW the log's MOR fold — the
            # read prunes at the parquet scan and costs O(affected keys'
            # rows), not O(log); oversized batches fall back to the
            # broadcast semi-join above the fold.
            # The IN-list is built in one JVM call for integral/string keys
            # (key_set_predicate), literals typed as the batch's key columns.
            pred = (
                key_set_predicate(aff_rows, affected.schema.fields)
                if len(aff_rows) <= _MAX_KEY_LITERALS
                else None
            )
            if pred is not None:
                log_aff = self.log.read_where_keys(spark, pred)
            else:
                log_aff = self.log.read(spark).join(
                    F.broadcast(affected), on=keys, how="left_semi"
                )
            rec = scd2_history(
                log_aff,
                keys,
                self.ts_col,
                tiebreakers=list(self.tiebreakers),
                deleted_col=_OP_DELETED,
            ).drop(_OP_DELETED)
            rec = rec.withColumn(_HSEQ, F.lit(int(batch_id)).cast("long"))
            # 3. tombstone versions the rebuild no longer produces (a late
            #    correction can merge/shift intervals, and a key whose last
            #    op is a delete keeps its CLOSED versions only)
            hkeys = [*keys, "valid_from", *self.tiebreakers]
            delta = rec
            old = (
                self.history.read_where_keys(spark, pred)
                if pred is not None
                else self.history.read(spark)
            )
            if old is not None:
                old_aff = (
                    old
                    if pred is not None
                    else old.join(F.broadcast(affected), on=keys, how="left_semi")
                )
                # null-safe equality: a NULL tiebreaker value under plain
                # `=` makes an unchanged row fail to match ITSELF, so it
                # would be tombstoned and re-upserted with an identical
                # _HSEQ — a nondeterministic precombine tie (ADVICE r9)
                old_a = old_aff.alias("__h")
                rec_a = rec.select(*hkeys).alias("__r")
                same = None
                for c in hkeys:
                    eq = F.col(f"__h.{c}").eqNullSafe(F.col(f"__r.{c}"))
                    same = eq if same is None else (same & eq)
                stale = (
                    old_a.join(rec_a, on=same, how="left_anti")
                    .withColumn("_deleted", F.lit(True))
                    .withColumn(_HSEQ, F.lit(int(batch_id)).cast("long"))
                )
                delta = rec.withColumn("_deleted", F.lit(False)).unionByName(
                    stale, allowMissingColumns=True
                )
            # 4. one upsert commit (replay-idempotent, versioned, OCC-locked)
            return self.history.merge_batch(spark, delta, batch_id=batch_id)
        finally:
            b.unpersist()

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Current history snapshot: every key version with
        [valid_from, valid_to) and ``is_current``."""
        df = self.history.read(spark)
        return None if df is None else df.drop(_HSEQ)
