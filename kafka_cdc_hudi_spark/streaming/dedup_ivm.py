"""Incremental view maintenance of the near-dup PAIR SET under CDC.

The streaming-ingest dedup pipeline (tests/test_streaming_incremental_dedup)
handles insert-only corpora: each batch probes the accumulated signature
index and every pair is found exactly once. Real corpora are maintained by
CDC — documents get UPDATED (their near-dup relationships change) and
DELETED (their pairs must be retracted). This module maintains both the
MinHash signature index and the LIVE pair set as a DELTA STREAM:

- insert  -> probe the new signature, emit ``delta=+1`` for new pairs
- update  -> retract every pair the OLD signature participated in
             (``delta=-1``), then probe the NEW signature like an insert
- delete  -> retract only

Invariant (pinned in tests/test_streaming_dedup_ivm.py): after any prefix
of batches, pairs with a cumulative delta sum of 1 are EXACTLY the LSH
pairs of the live corpus at that point — the same IVM contract as
operators/incremental.py, applied to the similarity graph.

Scale shape: per batch the work is O(changed docs) — signatures for the
batch only, two band equi-joins bounded by bucket sizes (the standing LSH
shape), and the index fold is latest-per-key over batch-id partitions (the
MOR read shape). Exactly-once under at-least-once replay via the standing
per-batch-id partition OVERWRITE idiom. State lives in two parquet stores:
``sig_ops`` (the signature index as a CDC log: one upsert/delete row per
changed doc per batch) and ``pair_deltas`` (the audit-friendly pair churn
stream).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_cdc_hudi_spark.functions.textfns import MINHASH_K


def _sig_cols() -> list[str]:
    return [f"h{i}" for i in range(MINHASH_K)]


def live_index(spark: SparkSession, sig_ops_store: str, before_bid: int | None = None) -> DataFrame | None:
    """Fold the signature-op log to the live index: latest op per doc
    (ties impossible — one op per doc per batch), deletes dropped. The
    MOR read shape: at scale this fold is what compaction amortizes.

    ``None`` means no index yet: the store is absent, or holds only a torn
    first write under ``_temporary``. Any other read error (a corrupt
    committed file) propagates — pairing against an empty index would
    write wrong pair deltas without a word."""
    try:
        ops = spark.read.parquet(sig_ops_store)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise
    if before_bid is not None:
        ops = ops.filter(F.col("bid") < before_bid)
    w = Window.partitionBy("doc_id").orderBy(F.col("bid").desc())
    return (
        ops.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "u"))
        .select("doc_id", *_sig_cols())
    )


def _pairs_between(probe_sigs: DataFrame, index_sigs: DataFrame) -> DataFrame:
    """Band-collision candidates between a (small) probe side and the full
    index, verified by signature-estimated Jaccard against ``index_sigs``.
    The probe side must be a subset of ``index_sigs`` by doc_id so the
    verify join finds both signatures."""
    from kafka_cdc_hudi_spark.plans.catalog_text import _est_jaccard_filter, _lsh_bands

    cand = (
        _lsh_bands(probe_sigs)
        .alias("a")
        .join(
            _lsh_bands(index_sigs).alias("b"),
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return _est_jaccard_filter(index_sigs, cand)


class DedupPairMaintainer:
    """``foreachBatch``-shaped processor: feed it CDC batches of
    ``(op, doc_id, text, seq)`` rows (op in i/u/d — i and u are both
    upserts, the Debezium delete-rewrite convention) and it maintains the
    signature index and the pair-delta stream."""

    def __init__(self, spark: SparkSession, sig_ops_store: str, pair_deltas_store: str):
        self.spark = spark
        self.sig_ops_store = sig_ops_store
        self.pair_deltas_store = pair_deltas_store

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        from kafka_cdc_hudi_spark.plans.catalog_text import minhash_signatures_for

        spark = self.spark
        # empty-batch gate (the multi-table fan-out feeds every table's
        # maintainer every micro-batch; a table with no rows this batch
        # must not pay the full signature/banding chain)
        if batch_df.isEmpty():
            return
        # one op per doc per batch: the latest by seq wins (the CDC
        # precombine rule)
        w = Window.partitionBy("doc_id").orderBy(F.col("seq").desc())
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .persist()
        )
        try:
            # replay guard: fold only bids BELOW this one, so a replayed
            # batch sees the same prior state the original run saw
            old_index = live_index(spark, self.sig_ops_store, before_bid=batch_id)
            changed = latest.select("doc_id")
            empty_pairs = None
            if old_index is not None:
                old_changed = old_index.join(changed, "doc_id", "left_semi")
                retract = _pairs_between(
                    old_changed.localCheckpoint(eager=False), old_index
                ).withColumn("delta", F.lit(-1))
            else:
                retract = empty_pairs
            upserts = latest.filter(F.col("op") != "d").select("doc_id", "text")
            new_sigs = minhash_signatures_for(
                upserts.repartition(spark.sparkContext.defaultParallelism)
            ).localCheckpoint(eager=False)
            if old_index is not None:
                survivors = old_index.join(changed, "doc_id", "left_anti")
                new_index = survivors.unionByName(new_sigs)
            else:
                new_index = new_sigs
            add = _pairs_between(new_sigs, new_index).withColumn("delta", F.lit(1))
            deltas = add if retract is None else retract.unionByName(add)
            # exactly-once: per-batch-id partition overwrite
            deltas.select(
                "doc_a", "doc_b", "est_jaccard", "delta"
            ).write.mode("overwrite").parquet(f"{self.pair_deltas_store}/bid={batch_id}")
            sig_ops = latest.select(
                "doc_id",
                F.when(F.col("op") == "d", F.lit("d")).otherwise(F.lit("u")).alias("op"),
            ).join(new_sigs, "doc_id", "left")
            sig_ops.write.mode("overwrite").parquet(
                f"{self.sig_ops_store}/bid={batch_id}"
            )
        finally:
            latest.unpersist()

    def live_pairs(self) -> DataFrame:
        """Fold the delta stream to the current pair set (sum of deltas is
        1 for live pairs, 0 for retracted ones)."""
        deltas = self.spark.read.parquet(self.pair_deltas_store)
        return (
            deltas.groupBy("doc_a", "doc_b")
            .agg(F.sum("delta").alias("d"))
            .filter(F.col("d") == 1)
            .select("doc_a", "doc_b")
        )

    def live_pairs_with_est(self) -> DataFrame:
        """Live pairs carrying the estimated Jaccard of their LATEST add.
        A live pair's newest delta row at its max batch-id is always an
        add (a retract without a same-batch re-add would zero the sum), and
        that add was verified against the then-current — hence final —
        signatures of both members, so the value equals a full recompute
        over the live corpus. ``delta`` breaks the intra-batch tie when an
        update retracts (old est) and re-adds (new est) in one batch."""
        deltas = self.spark.read.parquet(self.pair_deltas_store)
        return (
            deltas.groupBy("doc_a", "doc_b")
            .agg(
                F.sum("delta").alias("d"),
                F.max_by("est_jaccard", F.struct("bid", "delta")).alias("est_jaccard"),
            )
            .filter(F.col("d") == 1)
            .select("doc_a", "doc_b", "est_jaccard")
        )
