"""Incrementally maintained ANN (IVF) index under CDC churn.

The batch ANN entries (``ann_topk_ivf*``) index a STATIC corpus; real
retrieval corpora are maintained by CDC — documents get re-embedded
(UPDATE: the vector moves, possibly to another cell) and retired (DELETE:
it must stop appearing in results). This module is the retrieval-side
sibling of :mod:`kafka_cdc_hudi_spark.streaming.dedup_ivm` (whose signature
index and pair set are keyed tables of the same kind): it maintains the IVF
cell-assignment index as a keyed table so queries always probe the LIVE
corpus.

Design — the index is exactly a keyed-upsert maintenance problem, so it
composes out of two pieces the repo already trusts:

- assignment is ``operators/similarity.py:ivf_assign`` (centroids are
  broadcast literals, native expressions) applied to the BATCH only —
  O(changed vectors) per batch, never a corpus re-scan;
- storage is a :class:`~kafka_cdc_hudi_spark.sinks.keyed_table.
  KeyedParquetTable` in MOR mode keyed by the vector id: each commit is an
  O(batch) delta append, replays are no-ops via the batch-id pointer
  protocol, and compaction bounds the read fold. Deletes are tombstones.

Queries reuse ``ivf_topk`` verbatim over the maintained assignment frame,
so maintained-index results are EXACTLY the results of rebuilding the
static index over the live corpus (same centroids, same expressions —
pinned in tests/test_streaming_ann_ivm.py, soaked under realistic churn by
scripts/soak_ann.py).

Centroids are the index's query-time contract and stay FIXED across
batches (re-training them re-keys every cell — that is a rebuild, not
maintenance; Faiss/Milvus make the same split). :meth:`cell_stats` is the
drift monitor: when churn skews the cell histogram far from balance,
recall degrades and the operator schedules a rebuild with fresh centroids
(``ivf_train_centroids``) exactly like a compaction window.

Scale shape at 100 TB: per-batch cost is assign(batch) + one delta append
— tracks CHURN, not corpus size; the query path is the standing IVF shape
(broadcast centroid probe + cell equi-join), reading the maintained table
with the MOR fold that compaction amortizes.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_cdc_hudi_spark.operators.similarity import ivf_assign_arrow, ivf_topk
from kafka_cdc_hudi_spark.sinks.keyed_table import KeyedParquetTable


@dataclass
class AnnIndexMaintainer:
    """``foreachBatch``-shaped processor: feed it CDC batches of
    ``(op, <id_col>, <col>, seq)`` rows (op in i/u/d — i and u are both
    upserts, the Debezium delete-rewrite convention; ``seq`` is the
    precombine order within and across batches)."""

    root: str
    cents: np.ndarray
    id_col: str = "vec_id"
    col: str = "embedding"
    compact_every: int | None = 8
    _table: KeyedParquetTable | None = field(default=None, repr=False)

    @property
    def table(self) -> KeyedParquetTable:
        if self._table is None:
            self._table = KeyedParquetTable(
                root=self.root,
                keys=[self.id_col],
                order_col="seq",
                mode="mor",
                compact_every=self.compact_every,
            )
        return self._table

    def process(self, spark: SparkSession, batch: DataFrame, batch_id: int) -> bool:
        """Fold one CDC batch into the index. Returns False for an empty
        batch or a full replay. In-batch duplicates per id collapse to the
        highest ``seq`` inside the sink's merge (the standing precombine
        rule), so op rows can arrive unordered."""
        if batch.isEmpty():
            return False
        emb_type = batch.schema[self.col].dataType
        ups = ivf_assign_arrow(
            batch.filter(F.col("op") != "d").drop("op"), self.cents, col=self.col
        ).withColumn("_deleted", F.lit(False))
        dels = (
            batch.filter(F.col("op") == "d")
            .select(
                self.id_col,
                F.lit(None).cast(emb_type).alias(self.col),
                F.lit(None).cast("int").alias("cell"),
                "seq",
            )
            .withColumn("_deleted", F.lit(True))
        )
        return self.table.merge_batch(
            spark, ups.unionByName(dels), batch_id=batch_id
        )

    def index(self, spark: SparkSession) -> DataFrame | None:
        """Live assignment frame ``(<id_col>, <col>, cell)`` — the shape
        ``ivf_topk`` consumes as ``candidates_assigned``."""
        df = self.table.read(spark)
        return None if df is None else df.select(self.id_col, self.col, "cell")

    def topk(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
    ) -> DataFrame | None:
        """Top-k over the LIVE corpus: identical semantics (and plan) to
        ``ivf_topk`` over a freshly rebuilt static index."""
        idx = self.index(spark)
        if idx is None:
            return None
        return ivf_topk(
            queries, idx, self.cents, k=k, n_probe=n_probe,
            id_col=self.id_col, col=self.col,
        )

    def cell_stats(self, spark: SparkSession) -> DataFrame | None:
        """Per-cell live-vector counts — the rebuild trigger: when the
        histogram skews far from the training-time balance, recall in hot
        cells degrades and the operator re-trains centroids offline."""
        idx = self.index(spark)
        if idx is None:
            return None
        return idx.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
