"""Incrementally maintained BM25 (lexical) retrieval index under CDC churn.

The third maintained retrieval structure, next to the near-dup pair set
(:mod:`~kafka_cdc_hudi_spark.streaming.dedup_ivm`) and the ANN/IVF index
(:mod:`~kafka_cdc_hudi_spark.streaming.ann_ivm`), all three kept in MOR
keyed tables: real RAG / hybrid-search corpora are CDC-maintained, and the
lexical side of hybrid retrieval is a BM25 inverted index that must
reflect upserts and deletes without a corpus
re-tokenize. The reference job keeps only the latest row per key
(/root/reference/glue/cdc_hudi.py:183-216); this maintains the derived
index that makes those rows searchable.

Design — the inverted index is two keyed-upsert tables, so maintenance
composes out of the repo's standing pieces:

- **postings** (``KeyedParquetTable`` MOR, keys ``(term, doc_id)``, value
  ``tf``): per batch, the changed docs' OLD postings are tombstoned and
  the new tokenizations appended — one delta commit, O(changed docs'
  terms), never a corpus re-scan (the stale-posting read pushes the
  churn-bounded changed-doc set BELOW the MOR fold as a key-literal
  predicate via ``read_where_keys``, the same scan-pruning scheme
  streaming/scd2.py and dedup_ivm.py use; oversized batches fall back to a semi-join
  over the fold). The tombstone/insert pair for a term surviving an
  update is ordered by a doubled sequence (tombstone ``2*seq``, insert
  ``2*seq + 1``) so the sink's precombine resolves them
  deterministically, replay included.

Hard precondition — strictly monotonic ``seq`` per doc: the doubled-seq
scheme requires each doc's ``seq`` to strictly INCREASE across batches.
The underlying sink tolerates equal seqs (commit-sequence tiebreak), but
here a delete replaying an earlier upsert's seq would lose the precombine
(its tombstone ``2*s`` sorts below the earlier insert's ``2*s + 1``),
resurrecting the doc. :meth:`Bm25IndexMaintainer.process` validates this
with a ``raise_error`` guard inlined in the tombstone seq expression —
evaluated during the merge job itself (no extra per-batch job), and never
on replays, because the sink returns before executing the delta for an
already-committed batch id.
- **doclens** (``KeyedParquetTable`` MOR, keys ``(doc_id,)``, value
  ``dl``): document lengths for the BM25 normalization; deletes are
  tombstones.

Queries (:meth:`Bm25IndexMaintainer.topk`) compute exact BM25 over the
LIVE corpus: per-term document frequencies and the corpus-average length
come from the maintained tables at query time (no stale statistics), so
maintained results are EXACTLY a full recompute over the live corpus —
pinned per batch prefix in tests/test_streaming_bm25.py and value-oracled
end-to-end by the ``text_bm25_maintained`` catalog entry.

Determinism contract (shared with the tf-idf catalog entry): idf uses the
BM25 RATIONAL form ``(N - df + 0.5) / (df + 0.5)`` (pure +-*/ on exact
integer inputs — ``ln()`` is libm-dependent and breaks cross-engine value
hashes), and the per-document score sums its term scores by an ORDERED
fold (sorted by term), the same construction the vector entries' dot
products use, so Spark and DuckDB produce bit-identical doubles.

Scale shape at 100 TB: postings are term-partitioned by the shuffle on
the (term, doc_id) key; a query touches only its terms' posting lists
(equi-join after a broadcast of the query term set); maintenance cost
tracks churn; the MOR fold is amortized by compaction exactly like the
merge sink.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_cdc_hudi_spark.functions.textfns import tokens
from kafka_cdc_hudi_spark.sinks.keyed_table import (
    MAX_KEY_LITERALS,
    KeyedParquetTable,
    key_set_predicate,
)

#: BM25 constants (Robertson defaults)
K1, B = 1.2, 0.75


def _ordered_sum(col_struct_list):
    """Deterministic fold of per-term scores: sort by term, sum in order
    (cross-engine bit-identical; see module docstring)."""
    vals = F.expr(f"transform(array_sort({col_struct_list}), s -> s.score)")
    return F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)


def bm25_score_expr(n_docs_col, df_col, tf_col, dl_col, avgdl_col):
    """Per-(query-term, doc) BM25 term score, rational idf."""
    idf = (n_docs_col - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
    norm = tf_col + F.lit(K1) * (F.lit(1.0) - F.lit(B) + F.lit(B) * dl_col / avgdl_col)
    return idf * (tf_col * F.lit(K1 + 1.0)) / norm


def bm25_topk(
    queries: DataFrame,
    postings: DataFrame,
    doclens: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact BM25 top-k: ``queries`` is ``(query_id, text)``; ``postings``
    is ``(term, doc_id, tf)``; ``doclens`` is ``(doc_id, dl)``. Statistics
    (N, avgdl, per-term df) are computed from the index frames, so this is
    correct over any snapshot — static build or maintained table. Query
    terms are DISTINCT (standard short-query BM25).

    Plan: broadcast the query-term set into the postings equi-join (only
    the queried terms' posting lists are touched), df from one partial agg
    over those lists' term groups, N/avgdl as a 1-row broadcast, per-doc
    ordered-fold sum, WindowGroupLimit top-k."""
    qterms = (
        queries.select("query_id", F.explode(tokens("text")).alias("term"))
        .distinct()
    )
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dfreq = (
        postings.join(F.broadcast(qterms.select("term").distinct()), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    per_term = (
        F.broadcast(qterms)
        .join(postings, "term")
        .join(dfreq, "term")
        .join(doclens, "doc_id")
        .join(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            "term",
            bm25_score_expr(
                F.col("n_docs"), F.col("df"), F.col("tf"), F.col("dl"), F.col("avgdl")
            ).alias("score"),
        )
    )
    agg = per_term.groupBy("query_id", "doc_id").agg(
        F.collect_list(F.struct("term", "score")).alias("ts")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        agg.select(
            "query_id",
            "doc_id",
            _ordered_sum("ts").alias("score"),
            F.size("ts").alias("n_terms_matched"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "n_terms_matched", "rank")
    )


def query_pruned_postings(docs: DataFrame, queries: DataFrame) -> DataFrame:
    """Postings ``(term, doc_id, tf)`` restricted to the QUERY term set —
    the one-shot/static BM25 scale shape (r11; sf10 evidence in
    SCALE_SF10_r11.json): a top-k query only consumes its own terms'
    posting lists, so the corpus-wide (term, doc_id) aggregation prunes
    to the queried terms MAP-side (broadcast semi-join below the
    groupBy) instead of shuffling every term in the corpus. tf and df of
    the surviving terms are untouched, and N/avgdl come from doclens,
    not postings — scores are bit-identical to a full postings build.
    The MAINTAINED path keeps full postings (there the index itself is
    the product and the build cost is amortized across queries)."""
    qterms = queries.select(F.explode(tokens("text")).alias("term")).distinct()
    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .join(F.broadcast(qterms), "term", "left_semi")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tokenize_postings(docs: DataFrame, seq_col: str = "seq") -> DataFrame:
    """``(doc_id, text, seq)`` -> ``(term, doc_id, tf, seq)`` with the
    package tokenizer (shared with every text entry and its DuckDB
    mirror)."""
    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"), seq_col)
        .groupBy("term", "doc_id", seq_col)
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("term", "doc_id", "tf", seq_col)
    )


@dataclass
class Bm25IndexMaintainer:
    """``foreachBatch``-shaped processor (the driver ``side_processors``
    contract): feed it CDC batches of ``(op, doc_id, text, seq)`` rows —
    op in i/u/d, i and u both upserts (the Debezium delete-rewrite
    convention), ``seq`` the precombine order within and across batches."""

    root: str
    compact_every: int | None = 8
    _postings: KeyedParquetTable | None = field(default=None, repr=False)
    _doclens: KeyedParquetTable | None = field(default=None, repr=False)

    @property
    def postings(self) -> KeyedParquetTable:
        if self._postings is None:
            self._postings = KeyedParquetTable(
                root=f"{self.root}/postings",
                keys=["term", "doc_id"],
                order_col="seq",
                mode="mor",
                compact_every=self.compact_every,
            )
        return self._postings

    @property
    def doclens(self) -> KeyedParquetTable:
        if self._doclens is None:
            self._doclens = KeyedParquetTable(
                root=f"{self.root}/doclens",
                keys=["doc_id"],
                order_col="seq",
                mode="mor",
                compact_every=self.compact_every,
            )
        return self._doclens

    def process(self, spark: SparkSession, batch: DataFrame, batch_id: int) -> bool:
        """Fold one CDC batch into the index. Returns False for an empty
        batch or a full replay (both tables already committed this id)."""
        # one op per doc per batch: latest seq wins (the CDC precombine
        # rule), so op rows can arrive unordered within the batch
        w = Window.partitionBy("doc_id").orderBy(F.col("seq").desc())
        latest = (
            batch.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .persist()
        )
        try:
            changed = latest.select("doc_id", "seq")
            # 1. tombstone every existing posting of a changed doc. The
            #    read pushes the churn-bounded changed-doc set BELOW the
            #    MOR fold as a doc_id-literal predicate (scan-level
            #    pruning: O(changed docs' terms), never a full postings
            #    fold — ADVICE r10); oversized batches fall back to the
            #    broadcast semi-join over the fold. Tombstones take 2*seq
            #    so the fresh tokenization at 2*seq + 1 wins the
            #    precombine for terms surviving an update.
            #    (r15: this collect doubles as the empty-batch gate — the
            #    old upfront batch.isEmpty() paid one extra execution of
            #    the batch lineage per batch.)
            changed_rows = changed.limit(MAX_KEY_LITERALS + 1).collect()
            if not changed_rows:
                return False
            if len(changed_rows) <= MAX_KEY_LITERALS:
                # one JVM call builds the IN-list (key_set_predicate)
                existing = self.postings.read_where_keys(
                    spark,
                    key_set_predicate(
                        [(r["doc_id"],) for r in changed_rows],
                        changed.select("doc_id").schema.fields,
                    ),
                )
            else:
                existing = self.postings.read(spark)
            deltas = []
            if existing is not None:
                stale = existing.select(
                    "term", "doc_id", F.col("seq").alias("stored_seq")
                ).join(F.broadcast(changed), "doc_id")
                # strict-monotonic seq per doc is a HARD precondition of
                # the doubled-seq scheme (module docstring): a delete
                # replaying an earlier upsert's seq would lose the
                # precombine (2s < 2s' + 1 when s <= s') and resurrect
                # the doc. The guard lives INSIDE the tombstone seq
                # expression (raise_error) so it evaluates during the
                # merge job itself — no extra per-batch job — and never
                # fires on replays (merge_batch returns before executing
                # the delta for an already-committed batch id).
                tomb_seq = F.when(
                    F.col("stored_seq") >= F.col("seq") * 2,
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "Bm25IndexMaintainer: non-monotonic seq for "
                                "doc_id="
                            ),
                            F.col("doc_id").cast("string"),
                            F.lit(" (incoming 2*seq "),
                            (F.col("seq") * 2).cast("string"),
                            F.lit(" <= stored "),
                            F.col("stored_seq").cast("string"),
                            F.lit(
                                ") — per-doc seq must strictly increase "
                                "across batches"
                            ),
                        )
                    ).cast("long"),
                ).otherwise(F.col("seq") * 2)
                deltas.append(
                    stale.select(
                        "term",
                        "doc_id",
                        F.lit(None).cast("long").alias("tf"),
                        tomb_seq.alias("seq"),
                        F.lit(True).alias("_deleted"),
                    )
                )
            # 2. fresh postings + doc lengths for upserted docs
            ups = latest.filter(F.col("op") != "d").select("doc_id", "text", "seq")
            new_posts = tokenize_postings(ups).select(
                "term",
                "doc_id",
                F.col("tf").cast("long").alias("tf"),
                (F.col("seq") * 2 + 1).alias("seq"),
                F.lit(False).alias("_deleted"),
            )
            deltas.append(new_posts)
            posting_delta = deltas[0]
            for d in deltas[1:]:
                posting_delta = posting_delta.unionByName(d)
            # 3. doc lengths: upserts set dl, deletes tombstone
            dl_ups = ups.select(
                "doc_id",
                F.size(tokens("text")).cast("long").alias("dl"),
                (F.col("seq") * 2 + 1).alias("seq"),
                F.lit(False).alias("_deleted"),
            )
            dl_dels = latest.filter(F.col("op") == "d").select(
                "doc_id",
                F.lit(None).cast("long").alias("dl"),
                (F.col("seq") * 2).alias("seq"),
                F.lit(True).alias("_deleted"),
            )
            # postings first, then doclens, in sequence: a postings commit
            # that fails (the seq guard above, or any job error) stops the
            # batch before doclens can advance past it — doclens never
            # leads postings, so N/avgdl never describe a corpus the
            # postings lack. A crash between the two commits leaves
            # doclens one batch behind; the replay commits it (each
            # table's last_batch_id gate skips its own committed side).
            committed = self.postings.merge_batch(
                spark, posting_delta, batch_id=batch_id
            )
            self.doclens.merge_batch(
                spark, dl_ups.unionByName(dl_dels), batch_id=batch_id
            )
            return committed
        finally:
            latest.unpersist()

    def live_postings(self, spark: SparkSession) -> DataFrame | None:
        df = self.postings.read(spark)
        return None if df is None else df.select("term", "doc_id", "tf")

    def live_doclens(self, spark: SparkSession) -> DataFrame | None:
        df = self.doclens.read(spark)
        return None if df is None else df.select("doc_id", "dl")

    def topk(self, spark: SparkSession, queries: DataFrame, k: int = 10) -> DataFrame | None:
        """BM25 top-k over the LIVE corpus: identical semantics to a full
        rebuild + :func:`bm25_topk` over the current documents.

        The MOR fold behind each table is referenced twice by the query
        (df join + per-term join for postings; stats agg + dl join for
        doclens) and Spark replays the subtree per reference (no
        ReusedExchange across the differing downstream operators), so the
        folds are materialized once with lazy localCheckpoints — measured
        -40% per query at sf0.1 (r15); values unchanged."""
        p, d = self.live_postings(spark), self.live_doclens(spark)
        if p is None or d is None:
            return None
        return bm25_topk(
            queries,
            p.localCheckpoint(eager=False),
            d.localCheckpoint(eager=False),
            k=k,
        )
