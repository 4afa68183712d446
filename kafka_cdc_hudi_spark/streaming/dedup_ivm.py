"""Incremental view maintenance of the near-dup PAIR SET under CDC.

The streaming-ingest dedup pipeline (tests/test_streaming_incremental_dedup)
handles insert-only corpora. Real corpora are maintained by CDC: documents
get UPDATED (their near-dup relationships change) and DELETED (their pairs
must be retracted). Per batch this module retracts every live pair of a
changed doc, then probes the changed docs' NEW signatures (inserts and
updates) against the signature index. Invariant (pinned in
tests/test_streaming_dedup_ivm.py): after any prefix of batches the pair
set is EXACTLY the LSH pair set of the live corpus, ``est_jaccard``
included.

Both structures are MOR keyed tables (``KeyedParquetTable``, compacted
every ``_COMPACT_EVERY`` commits), as in streaming/ann_ivm.py:

- **index**: keys ``(doc_id,)``, the ``h0..h{K-1}`` signature, ordered by
  the batch id; deletes are tombstones.
- **pairs**: keys ``(doc_a, doc_b)``, value ``est_jaccard``. Retracts are
  tombstones ordered ``2*batch_id``, adds ``2*batch_id + 1``, so a pair an
  update retracts and re-finds in one batch resolves to the add. The pair
  churn feed is ``pairs.stream_changes(spark)``.

Per-batch work is O(changed docs): the changed-id set goes BELOW both MOR
folds as a key-literal predicate (``read_where_keys``), and the probe is two
band equi-joins bounded by bucket sizes (the standing LSH shape). The pairs
table commits before the index, so the index never leads: a replay after a
crash between the two recomputes from the unchanged index, and the pairs
table's own batch-id gate skips its committed side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField

from kafka_cdc_hudi_spark.sinks.keyed_table import (
    MAX_KEY_LITERALS,
    MODE_MOR,
    KeyedParquetTable,
    key_set_predicate,
)

#: MOR compaction cadence of both tables
_COMPACT_EVERY = 8


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
    signature index and the pair set."""

    def __init__(self, spark: SparkSession, index_root: str, pairs_root: str):
        self.spark = spark
        self.index = KeyedParquetTable(
            index_root, keys=["doc_id"], order_col="bid", mode=MODE_MOR,
            compact_every=_COMPACT_EVERY,
        )
        self.pairs = KeyedParquetTable(
            pairs_root, keys=["doc_a", "doc_b"], order_col="ord", mode=MODE_MOR,
            compact_every=_COMPACT_EVERY,
        )

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        from kafka_cdc_hudi_spark.plans.catalog_text import minhash_signatures_for

        spark = self.spark
        # replay gate: the index commits last, so it names the last batch
        # both tables hold
        last = self.index.last_batch_id()
        if last is not None and batch_id <= last:
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
            changed = latest.select("doc_id")
            # the changed-id collect is also the empty-batch gate (the
            # fan-out feeds every maintainer every micro-batch)
            rows = changed.limit(MAX_KEY_LITERALS + 1).collect()
            if not rows:
                return
            if len(rows) <= MAX_KEY_LITERALS:
                ids = [(r.doc_id,) for r in rows]
                id_type = changed.schema["doc_id"].dataType

                def among_changed(col: str):
                    return key_set_predicate(ids, [StructField(col, id_type)])

                survivors = self.index.read_where_keys(spark, ~among_changed("doc_id"))
                stale = self.pairs.read_where_keys(
                    spark, among_changed("doc_a") | among_changed("doc_b")
                )
            else:
                survivors, stale = self.index.read(spark), self.pairs.read(spark)
                if survivors is not None:
                    survivors = survivors.join(changed, "doc_id", "left_anti")
                if stale is not None:
                    a, b = (
                        stale.join(changed.toDF(c), c, "left_semi") for c in ("doc_a", "doc_b")
                    )
                    stale = a.unionByName(b)
            upserts = latest.filter(F.col("op") != "d").select("doc_id", "text")
            new_sigs = minhash_signatures_for(
                upserts.repartition(spark.sparkContext.defaultParallelism)
            ).localCheckpoint(eager=False)
            new_index = (
                new_sigs if survivors is None else survivors.drop("bid").unionByName(new_sigs)
            )
            pair_delta = _pairs_between(new_sigs, new_index).select(
                "doc_a", "doc_b", "est_jaccard",
                F.lit(2 * batch_id + 1).cast("long").alias("ord"),
                F.lit(False).alias("_deleted"),
            )
            if stale is not None:
                # retract every live pair of a changed doc; the re-found
                # ones win the precombine with the add above
                pair_delta = stale.select(
                    "doc_a", "doc_b",
                    F.lit(None).cast("double").alias("est_jaccard"),
                    F.lit(2 * batch_id).cast("long").alias("ord"),
                    F.lit(True).alias("_deleted"),
                ).unionByName(pair_delta)
            # pairs first, then the index (module docstring)
            self.pairs.merge_batch(spark, pair_delta, batch_id=batch_id)
            index_delta = latest.select(
                "doc_id",
                (F.col("op") == "d").alias("_deleted"),
                F.lit(batch_id).cast("long").alias("bid"),
            ).join(new_sigs, "doc_id", "left")
            self.index.merge_batch(spark, index_delta, batch_id=batch_id)
        finally:
            latest.unpersist()

    def live_pairs(self) -> DataFrame:
        return self.live_pairs_with_est().select("doc_a", "doc_b")

    def live_pairs_with_est(self) -> DataFrame:
        """Live pairs with the estimated Jaccard of their latest add, which
        was verified against the then-current — hence final — signatures of
        both members, so it equals a full recompute over the live corpus."""
        df = self.pairs.read(self.spark)
        if df is None:
            return self.spark.createDataFrame(
                [], "doc_a BIGINT, doc_b BIGINT, est_jaccard DOUBLE"
            )
        return df.select("doc_a", "doc_b", "est_jaccard")
