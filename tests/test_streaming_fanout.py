"""Heterogeneous multi-maintainer fan-out (VERDICT r9 item 6).

The reference's core runtime shape is N per-table pipelines over one
cached micro-batch (/root/reference/glue/cdc_hudi.py:260-274). r9 added
three heterogeneous maintainers (plain merge, SCD2 history, pair-IVM)
that had only ever run in separate tests; this drives ONE
``CdcStreamDriver`` where table A feeds a plain keyed merge, table B's
history is SCD2-maintained, and table C feeds the near-dup pair-IVM
through the driver's ``side_processors`` attach point — 12 micro-batches
with a mid-run restart — and asserts each sink's own invariant at the
end, plus fail-stop when one table's task raises.
"""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_cdc_hudi_spark.config import DIALECT_DEBEZIUM, JobConfig, TableSpec
from kafka_cdc_hudi_spark.operators.temporal import scd2_history
from kafka_cdc_hudi_spark.sources.kafka import json_file_value_stream
from kafka_cdc_hudi_spark.streaming.driver import CdcStreamDriver

from .conftest import SF_DIR, settled_job_ids

KV_PAYLOAD = StructType(
    [StructField("id", LongType(), True), StructField("val", StringType(), True)]
)
DOC_PAYLOAD = StructType(
    [StructField("doc_id", LongType(), True), StructField("text", StringType(), True)]
)


def _dbz(op, table, after=None, before=None, ts_ms=0):
    return json.dumps(
        {"before": before, "after": after, "op": op, "ts_ms": ts_ms,
         "db": "d1", "table": table}
    )


def _truth_pairs(spark, live):
    from kafka_cdc_hudi_spark.plans.catalog_text import minhash_signatures_for
    from kafka_cdc_hudi_spark.streaming.dedup_ivm import _pairs_between

    docs = spark.createDataFrame(
        sorted(live.items()), "doc_id BIGINT, text STRING"
    ).repartition(4)
    sig = minhash_signatures_for(docs).localCheckpoint(eager=False)
    return {(r.doc_a, r.doc_b) for r in _pairs_between(sig, sig).collect()}


@pytest.mark.slow
def test_three_maintainer_fanout_with_restart(spark, tmp_path):
    from kafka_cdc_hudi_spark.sources.tables import load_table
    from kafka_cdc_hudi_spark.streaming.dedup_ivm import DedupPairMaintainer

    corpus = {
        int(r.doc_id): r.text
        for r in load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
        .collect()
    }
    doc_ids = sorted(corpus)
    assert len(doc_ids) >= 30

    src = tmp_path / "src"
    src.mkdir()
    cfg = JobConfig(
        dialect=DIALECT_DEBEZIUM,
        tables=[
            TableSpec("d1", "t_merge", ("id",)),
            TableSpec("d1", "t_hist", ("id",)),
            TableSpec("d1", "t_docs", ("doc_id",)),
        ],
        sink_root=str(tmp_path / "sink"),
        checkpoint_location=str(tmp_path / "ckpt"),
        trigger_interval="1 seconds",
        max_workers=3,
        scd2_history=True,
        scd2_tables=("t_hist",),  # history only where it matters (new r10)
    )
    pair_m = DedupPairMaintainer(
        spark, str(tmp_path / "sig_ops"), str(tmp_path / "pair_deltas")
    )

    def ivm_side(spark_, routed, batch_id):
        # adapt the routed CDC frame (payload + mtime + _deleted) to the
        # maintainer's (op, doc_id, text, seq) contract
        batch = routed.select(
            F.when(F.col("_deleted"), F.lit("d")).otherwise(F.lit("u")).alias("op"),
            "doc_id",
            "text",
            F.col("mtime").alias("seq"),
        )
        pair_m.process(batch, batch_id)

    def make_driver():
        return CdcStreamDriver(
            spark,
            cfg,
            payload_schemas={
                "t_merge": KV_PAYLOAD, "t_hist": KV_PAYLOAD, "t_docs": DOC_PAYLOAD
            },
            side_processors={"t_docs": ivm_side},
        )

    # ---- deterministic 12-batch script touching all three tables ----
    # merge/hist: 6 keys cycling updates, key 2 deleted at batch 8;
    # docs: inserts spread over batches 0-7, two updates that CREATE a
    # near-dup pair (doc takes its neighbor's text), one delete of a doc
    # that had a pair (retraction), all replayed through the restart.
    live_docs: dict[int, str] = {}
    merge_state: dict[int, str] = {}
    hist_log = []  # (id, mtime, val, deleted)
    ts = 100
    batches = []
    chunks = [doc_ids[i::8] for i in range(8)]
    for b in range(12):
        lines = []
        # kv tables: one update each per batch
        kid = b % 6
        ts += 10
        lines.append(_dbz("u", "t_merge", after={"id": kid, "val": f"m{b}"}, ts_ms=ts))
        merge_state[kid] = f"m{b}"
        lines.append(_dbz("u", "t_hist", after={"id": kid, "val": f"h{b}"}, ts_ms=ts))
        hist_log.append((kid, ts, f"h{b}", False))
        if b == 8:
            ts += 1
            lines.append(_dbz("d", "t_merge", before={"id": 2, "val": "x"}, ts_ms=ts))
            merge_state.pop(2, None)
            lines.append(_dbz("d", "t_hist", before={"id": 2, "val": "x"}, ts_ms=ts))
            hist_log.append((2, ts, None, True))
        # docs table
        if b < 8:
            for did in chunks[b]:
                ts += 1
                lines.append(
                    _dbz("c", "t_docs", after={"doc_id": did, "text": corpus[did]}, ts_ms=ts)
                )
                live_docs[did] = corpus[did]
        elif b == 8:
            # two near-dup-creating updates
            for did, src_id in ((doc_ids[1], doc_ids[0]), (doc_ids[3], doc_ids[2])):
                ts += 1
                lines.append(
                    _dbz("u", "t_docs", after={"doc_id": did, "text": corpus[src_id]}, ts_ms=ts)
                )
                live_docs[did] = corpus[src_id]
        elif b == 10:
            # delete one side of a created pair: retraction
            ts += 1
            lines.append(
                _dbz("d", "t_docs", before={"doc_id": doc_ids[1], "text": ""}, ts_ms=ts)
            )
            live_docs.pop(doc_ids[1], None)
        batches.append(lines)

    def write(i):
        with open(src / f"b{i:02d}.json", "w") as f:
            f.write("\n".join(batches[i]) + "\n")

    # ---- first 6 batches, then stop mid-run. One write +
    # processAllAvailable per file: batch order must equal script order
    # (the pair-IVM folds its op log by batch id; the file source does
    # not promise filename order for files landing in the same instant)
    d1 = make_driver()
    q = d1.start(json_file_value_stream(spark, str(src), max_files_per_trigger=1))
    for i in range(6):
        write(i)
        q.processAllAvailable()
    q.stop()

    # ---- restart on the same checkpoint; remaining 6 batches ----
    d2 = make_driver()
    q2 = d2.start(json_file_value_stream(spark, str(src), max_files_per_trigger=1))
    for i in range(6, 12):
        write(i)
        q2.processAllAvailable()
    q2.stop()

    # ---- invariant A: plain merge == latest-per-key ----
    got_merge = {
        (r["id"], r["val"])
        for r in d2.sink_for(cfg.tables[0]).read(spark).collect()
    }
    assert got_merge == set(merge_state.items())

    # ---- invariant B: SCD2 history == batch reconstruction over the log ----
    log_df = spark.createDataFrame(
        hist_log, "id long, mtime long, val string, _deleted boolean"
    )
    want_hist = {
        (r["id"], r["mtime"], r["val"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_history(log_df, ["id"], "mtime").drop("_deleted").collect()
    }
    got_hist = {
        (r["id"], r["mtime"], r["val"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in d2.scd2_for(cfg.tables[1]).read(spark).collect()
    }
    assert got_hist == want_hist and got_hist

    # ---- invariant C: pair-IVM == full LSH recompute over live docs ----
    got_pairs = {(r.doc_a, r.doc_b) for r in pair_m.live_pairs().collect()}
    want_pairs = _truth_pairs(spark, live_docs)
    assert got_pairs == want_pairs
    # non-vacuity: the update really created a surviving pair and the
    # delete really retracted one
    assert (min(doc_ids[2], doc_ids[3]), max(doc_ids[2], doc_ids[3])) in got_pairs
    assert not any(doc_ids[1] in p for p in got_pairs)

    # ---- replay: a third driver on the same checkpoint is a no-op ----
    d3 = make_driver()
    q3 = d3.start(json_file_value_stream(spark, str(src)))
    q3.processAllAvailable()
    q3.stop()
    assert {
        (r["id"], r["val"])
        for r in d3.sink_for(cfg.tables[0]).read(spark).collect()
    } == set(merge_state.items())
    assert {(r.doc_a, r.doc_b) for r in pair_m.live_pairs().collect()} == want_pairs


def test_fanout_fail_stop(spark, tmp_path):
    """One table's task raising must stop the app (reference O7 fail-stop,
    /root/reference/glue/cdc_hudi.py:269-274), not limp along partially."""
    src = tmp_path / "src"
    src.mkdir()
    cfg = JobConfig(
        dialect=DIALECT_DEBEZIUM,
        tables=[TableSpec("d1", "t1", ("id",)), TableSpec("d1", "t2", ("id",))],
        sink_root=str(tmp_path / "sink"),
        checkpoint_location=str(tmp_path / "ckpt"),
        max_workers=2,
        trigger_interval="1 seconds",
    )

    def boom(df, batch_id):
        raise RuntimeError("t2 task failure")

    driver = CdcStreamDriver(
        spark,
        cfg,
        payload_schemas={"t1": KV_PAYLOAD, "t2": KV_PAYLOAD},
        transform_hooks={"t2": boom},
    )
    with open(src / "b.json", "w") as f:
        f.write(
            _dbz("c", "t1", after={"id": 1, "val": "a"}, ts_ms=1)
            + "\n"
            + _dbz("c", "t2", after={"id": 2, "val": "b"}, ts_ms=1)
            + "\n"
        )
    q = driver.start(json_file_value_stream(spark, str(src)))
    with pytest.raises(Exception, match="t2 task failure"):
        q.processAllAvailable()
    assert q.exception() is not None
    q.stop()


def test_scd2_tables_selector(spark, tmp_path):
    """scd2_tables restricts history maintenance to the named tables;
    empty keeps the pre-r10 every-table behavior. Parsed from properties."""
    cfg = JobConfig.from_properties_text(
        "scd2_history = true\n"
        "scd2_tables = t_hist, other.q\n"
        'sync_table_list = [{"db_name": "d1", "table_name": "t_hist", "primary_key": "id"}]\n'
        f"sink_root = {tmp_path}/sink\n"
        f"checkpoint_location = {tmp_path}/ckpt\n"
    )
    assert cfg.scd2_tables == ("t_hist", "other.q")

    src = tmp_path / "src"
    src.mkdir()
    cfg2 = JobConfig(
        dialect=DIALECT_DEBEZIUM,
        tables=[TableSpec("d1", "t1", ("id",)), TableSpec("d1", "t2", ("id",))],
        sink_root=str(tmp_path / "sink2"),
        checkpoint_location=str(tmp_path / "ckpt2"),
        max_workers=1,
        scd2_history=True,
        scd2_tables=("t2",),
        trigger_interval="1 seconds",
    )
    driver = CdcStreamDriver(
        spark, cfg2, payload_schemas={"t1": KV_PAYLOAD, "t2": KV_PAYLOAD}
    )
    with open(src / "b.json", "w") as f:
        f.write(
            _dbz("c", "t1", after={"id": 1, "val": "a"}, ts_ms=1)
            + "\n"
            + _dbz("c", "t2", after={"id": 2, "val": "b"}, ts_ms=2)
            + "\n"
        )
    q = driver.start(json_file_value_stream(spark, str(src)))
    q.processAllAvailable()
    q.stop()
    # t2 selected: history exists; t1 not selected: no history table
    assert driver.scd2_for(cfg2.tables[1]).read(spark) is not None
    assert driver.scd2_for(cfg2.tables[0]).read(spark) is None


VEC_PAYLOAD = StructType(
    [
        StructField("vec_id", LongType(), True),
        StructField("embedding", ArrayType(DoubleType()), True),
    ]
)


def _fused_set(df):
    return {
        (
            r["query_id"],
            r["doc_id"],
            r["rank"],
            round(r["rrf_score"], 9),
            r["lex_rank"],
            r["sem_rank"],
        )
        for r in df.collect()
    }


@pytest.mark.slow
def test_maintained_hybrid_two_indexes_one_driver(spark, tmp_path):
    """VERDICT r10 item 5: the full maintained-hybrid production shape
    under the REAL engine — ONE ``CdcStreamDriver`` fans out to BOTH
    retrieval maintainers (``Bm25IndexMaintainer`` on a docs table,
    ``AnnIndexMaintainer`` on an independent vectors table) via
    ``side_processors``, each absorbing its own churn script, with a
    mid-run checkpointed restart. At three checkpoints the RRF fusion of
    the two LIVE rankings must EXACTLY equal the fusion of from-scratch
    rebuilds over the live corpora — the engine-drive analog of the
    ``hybrid_retrieval_maintained`` catalog oracle."""
    from kafka_cdc_hudi_spark.functions.textfns import tokens
    from kafka_cdc_hudi_spark.operators.similarity import (
        ivf_assign,
        ivf_static_codebook,
        ivf_topk,
    )
    from kafka_cdc_hudi_spark.plans.catalog_streaming import _rrf_fuse
    from kafka_cdc_hudi_spark.sources.tables import load_table
    from kafka_cdc_hudi_spark.streaming.ann_ivm import AnnIndexMaintainer
    from kafka_cdc_hudi_spark.streaming.bm25_ivm import Bm25IndexMaintainer, bm25_topk

    K, NPROBE, QIDS = 5, 3, [0, 1, 2, 3, 4]
    corpus = {
        int(r["doc_id"]): r["text"]
        for r in load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
        .collect()
    }
    vectors = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") < 40)
        .select("vec_id", "embedding")
        .collect()
    }
    dim = len(next(iter(vectors.values())))
    cents = ivf_static_codebook(dim, 8)
    doc_ids, vec_ids = sorted(corpus), sorted(vectors)

    src = tmp_path / "src"
    src.mkdir()
    cfg = JobConfig(
        dialect=DIALECT_DEBEZIUM,
        tables=[TableSpec("d1", "t_docs", ("doc_id",)), TableSpec("d1", "t_vecs", ("vec_id",))],
        sink_root=str(tmp_path / "sink"),
        checkpoint_location=str(tmp_path / "ckpt"),
        trigger_interval="1 seconds",
        max_workers=2,
    )
    mb = Bm25IndexMaintainer(root=str(tmp_path / "bm25"), compact_every=2)
    ma = AnnIndexMaintainer(root=str(tmp_path / "ann"), cents=cents, compact_every=2)

    def bm25_side(spark_, routed, batch_id):
        mb.process(
            spark_,
            routed.select(
                F.when(F.col("_deleted"), F.lit("d")).otherwise(F.lit("u")).alias("op"),
                "doc_id",
                "text",
                F.col("mtime").alias("seq"),
            ),
            batch_id,
        )

    def ann_side(spark_, routed, batch_id):
        ma.process(
            spark_,
            routed.select(
                F.when(F.col("_deleted"), F.lit("d")).otherwise(F.lit("u")).alias("op"),
                "vec_id",
                "embedding",
                F.col("mtime").alias("seq"),
            ),
            batch_id,
        )

    def make_driver():
        return CdcStreamDriver(
            spark,
            cfg,
            payload_schemas={"t_docs": DOC_PAYLOAD, "t_vecs": VEC_PAYLOAD},
            side_processors={"t_docs": bm25_side, "t_vecs": ann_side},
        )

    # ---- independent 6-batch churn scripts (text refresh != embedding
    # refresh, like a real pipeline's non-atomic re-embed). Query ids
    # 0-4 stay unchurned so checkpoint queries are stable. Each batch
    # carries its (lines, doc_effects, vec_effects) — the effects are
    # applied to the live dicts ONLY as batches are driven, so checkpoint
    # rebuilds see the batch-prefix corpus, not the final one.
    live_docs: dict[int, str] = {}
    live_vecs: dict[int, list] = {}
    ts = 1000
    batches = []
    # b0/b1: bulk inserts, docs in two halves, vecs staggered DIFFERENTLY
    # (two-thirds then the rest) so the two arms' batch contents diverge
    doc_halves = [doc_ids[: len(doc_ids) // 2], doc_ids[len(doc_ids) // 2 :]]
    vcut = 2 * len(vec_ids) // 3
    vec_parts = [vec_ids[:vcut], vec_ids[vcut:]]
    for b in range(2):
        lines, deff, veff = [], [], []
        for did in doc_halves[b]:
            ts += 1
            lines.append(_dbz("c", "t_docs", after={"doc_id": did, "text": corpus[did]}, ts_ms=ts))
            deff.append((did, corpus[did]))
        for vid in vec_parts[b]:
            ts += 1
            lines.append(_dbz("c", "t_vecs", after={"vec_id": vid, "embedding": vectors[vid]}, ts_ms=ts))
            veff.append((vid, vectors[vid]))
        batches.append((lines, deff, veff))
    # b2: docs-only churn — two docs take other docs' text (rank moves)
    lines, deff = [], []
    for tgt, src_id in ((doc_ids[7], doc_ids[5]), (doc_ids[11], doc_ids[6])):
        ts += 1
        lines.append(_dbz("u", "t_docs", after={"doc_id": tgt, "text": corpus[src_id]}, ts_ms=ts))
        deff.append((tgt, corpus[src_id]))
    batches.append((lines, deff, []))
    # b3 (post-restart): vecs-only churn — two vectors re-embedded to a
    # neighbor's point (cell moves)
    lines, veff = [], []
    for tgt, src_id in ((vec_ids[9], vec_ids[6]), (vec_ids[13], vec_ids[8])):
        ts += 1
        lines.append(_dbz("u", "t_vecs", after={"vec_id": tgt, "embedding": vectors[src_id]}, ts_ms=ts))
        veff.append((tgt, vectors[src_id]))
    batches.append((lines, [], veff))
    # b4: deletes on BOTH sides — including doc 7 deleted from the LEX
    # side only (its vector survives: the one-arm-survivor COALESCE path)
    ts += 1
    l4 = [_dbz("d", "t_docs", before={"doc_id": doc_ids[7], "text": ""}, ts_ms=ts)]
    ts += 1
    l4.append(_dbz("d", "t_vecs", before={"vec_id": vec_ids[13], "embedding": []}, ts_ms=ts))
    batches.append((l4, [(doc_ids[7], None)], [(vec_ids[13], None)]))
    # b5: re-insert the deleted doc with fresh text after its delete
    ts += 1
    batches.append((
        [_dbz("c", "t_docs", after={"doc_id": doc_ids[7], "text": corpus[doc_ids[9]]}, ts_ms=ts)],
        [(doc_ids[7], corpus[doc_ids[9]])],
        [],
    ))

    def write(i):
        lines, deff, veff = batches[i]
        with open(src / f"b{i}.json", "w") as f:
            f.write("\n".join(lines) + "\n")
        for k, v in deff:
            if v is None:
                live_docs.pop(k, None)
            else:
                live_docs[k] = v
        for k, v in veff:
            if v is None:
                live_vecs.pop(k, None)
            else:
                live_vecs[k] = v

    def fused_live():
        qd = spark.createDataFrame(
            [(q, live_docs[q]) for q in QIDS], "query_id BIGINT, text STRING"
        )
        lex = mb.topk(spark, qd, k=K).select(
            "query_id", "doc_id", F.col("rank").alias("lex_rank")
        )
        qe = ma.index(spark).filter(F.col("vec_id").isin(QIDS)).select("vec_id", "embedding")
        sem = ma.topk(spark, qe, k=K, n_probe=NPROBE).select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("doc_id"),
            F.col("rank").alias("sem_rank"),
        )
        return _rrf_fuse(lex, sem)

    def fused_rebuild():
        docs = spark.createDataFrame(sorted(live_docs.items()), "doc_id BIGINT, text STRING")
        posts = (
            docs.select("doc_id", F.explode(tokens("text")).alias("term"))
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        dl = docs.select("doc_id", F.size(tokens("text")).cast("long").alias("dl"))
        qd = spark.createDataFrame(
            [(q, live_docs[q]) for q in QIDS], "query_id BIGINT, text STRING"
        )
        lex = bm25_topk(qd, posts, dl, k=K).select(
            "query_id", "doc_id", F.col("rank").alias("lex_rank")
        )
        vecs = spark.createDataFrame(
            sorted(live_vecs.items()), "vec_id BIGINT, embedding ARRAY<DOUBLE>"
        )
        sem = ivf_topk(
            vecs.filter(F.col("vec_id").isin(QIDS)),
            ivf_assign(vecs, cents),
            cents,
            k=K,
            n_probe=NPROBE,
        ).select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("doc_id"),
            F.col("rank").alias("sem_rank"),
        )
        return _rrf_fuse(lex, sem)

    # ---- drive batches 0-2, checkpoint 1, stop mid-run ----
    q1 = make_driver().start(json_file_value_stream(spark, str(src), max_files_per_trigger=1))
    for i in range(3):
        write(i)
        q1.processAllAvailable()
    ck1_live, ck1_want = _fused_set(fused_live()), _fused_set(fused_rebuild())
    q1.stop()
    assert ck1_live == ck1_want and ck1_live, "checkpoint 1 (pre-restart) diverged"

    # ---- restart on the same checkpoint; batches 3-4, checkpoint 2 ----
    q2 = make_driver().start(json_file_value_stream(spark, str(src), max_files_per_trigger=1))
    for i in range(3, 5):
        write(i)
        q2.processAllAvailable()
    ck2_live, ck2_want = _fused_set(fused_live()), _fused_set(fused_rebuild())
    assert ck2_live == ck2_want and ck2_live, "checkpoint 2 (post-restart) diverged"
    # one-arm-survivor non-vacuity: doc 7 was deleted from the LEX arm
    # only — if it still ranks, it must be sem-only (lex_rank null)
    lex_side = {r[1] for r in ck2_live if r[4] is not None}
    assert doc_ids[7] not in lex_side

    # ---- batch 5, final checkpoint ----
    write(5)
    q2.processAllAvailable()
    q2.stop()
    ck3_live, ck3_want = _fused_set(fused_live()), _fused_set(fused_rebuild())
    assert ck3_live == ck3_want and ck3_live, "checkpoint 3 (final) diverged"
    # churn non-vacuity: the three checkpoints are pairwise distinct —
    # the scripts really moved rankings on both arms
    assert ck1_live != ck2_live and ck2_live != ck3_live


# -- per-batch fixed cost: generated-code reuse and the fused batch probe -----


def _dms(op, table, data, ts):
    return json.dumps(
        {
            "data": data,
            "metadata": {
                "operation": op,
                "timestamp": f"2024-01-01T00:{ts // 60:02d}:{ts % 60:02d}.000Z",
                "record-type": "data",
                "schema-name": "d1",
                "table-name": table,
            },
        }
    )


def _dms_batch(spark, batch_id, tables, n_keys=40, extra_col=None):
    """One same-shape DMS micro-batch per ``batch_id``: every table gets
    ``n_keys`` upserts on a batch-shifted key window, one delete and one
    malformed line; ``extra_col`` adds a drifted payload column to the
    named table."""
    lines = ["not json {{"]
    for t in tables:
        for i in range(n_keys):
            row = {"id": batch_id * 7 + i, "name": f"n{i}", "amount": i * 1.5,
                   "qty": i, "status": "ok"}
            if extra_col is not None and extra_col[0] == t:
                row[extra_col[1]] = i
            lines.append(_dms("update" if i else "insert", t, row, batch_id))
        lines.append(_dms("delete", t, {"id": batch_id * 7, "name": None, "amount": None,
                                        "qty": None, "status": None}, batch_id + 1))
    return spark.createDataFrame([(v,) for v in lines], "value string")


def _dms_fanout_cfg(tmp_path, tables, quarantine=True, scd2=True):
    from kafka_cdc_hudi_spark.config import DIALECT_DMS

    return JobConfig(
        dialect=DIALECT_DMS,
        tables=[TableSpec("d1", t, ("id",)) for t in tables],
        sink_root=str(tmp_path / "sink"),
        checkpoint_location=str(tmp_path / "ckpt"),
        quarantine_dir=str(tmp_path / "quarantine") if quarantine else None,
        max_workers=3,
        scd2_history=scd2,
        scd2_history_mode="mor",
        scd2_tables=(tables[0],),
        trigger_interval="1 seconds",
    )


def test_warm_fanout_batch_reuses_generated_code(spark, tmp_path):
    """A warm fan-out batch (3 dynamic-schema tables, SCD2 on one, the
    quarantine on) must find its generated classes in Spark's codegen
    cache. With the default 100-entry cache each batch's ~140 classes
    evicted one another and every batch recompiled all of them; the
    session's larger cache leaves only the classes whose per-batch
    literals differ."""
    tables = ("t0", "t1", "t2")
    driver = CdcStreamDriver(spark, _dms_fanout_cfg(tmp_path, tables))
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    per_batch = []
    for bid in range(4):
        batch = _dms_batch(spark, bid, tables)
        before = compiles.getCount()
        driver.process_batch(batch, bid)
        per_batch.append(compiles.getCount() - before)
    assert per_batch[-1] <= 15, per_batch
    assert driver.scd2_for(driver.config.tables[0]).read(spark) is not None


class _ProbeSpy:
    """Counts, per batch, the probe jobs the driver runs and the collects
    they issue."""

    def __init__(self, monkeypatch, batch_type):
        self.runs: list[int] = []
        self.collects = 0
        probe, collect = CdcStreamDriver._probe_batch, batch_type.collect

        def spy_probe(drv, batch_df):
            before = self.collects
            out = probe(drv, batch_df)
            if out is not None:
                self.runs.append(self.collects - before)
            return out

        def spy_collect(df):
            self.collects += 1
            return collect(df)

        monkeypatch.setattr(CdcStreamDriver, "_probe_batch", spy_probe)
        monkeypatch.setattr(batch_type, "collect", spy_collect)


@pytest.mark.parametrize("n_tables", [1, 3])
def test_one_probe_job_per_batch(spark, tmp_path, monkeypatch, n_tables):
    """Drift detection and the quarantine read their answers from ONE
    probe collect per batch, whether the batch fans out to 1 table or 3;
    drift on one table re-infers that table only."""
    tables = ("t0", "t1", "t2")[:n_tables]
    driver = CdcStreamDriver(spark, _dms_fanout_cfg(tmp_path, tables, scd2=False))
    spy = _ProbeSpy(monkeypatch, type(_dms_batch(spark, 0, tables)))
    for bid in range(3):
        drift = (tables[-1], "score") if bid == 2 else None
        driver.process_batch(_dms_batch(spark, bid, tables, n_keys=5, extra_col=drift), bid)
        # batch 0 probes for the quarantine alone (no schema cached yet)
        assert spy.runs == [1] * (bid + 1), spy.runs
    fields = {t: set(driver._inferred[f"d1.{t}"].fieldNames()) for t in tables}
    assert "score" in fields[tables[-1]]
    assert all("score" not in fields[t] for t in tables[:-1])
    for bid in range(3):
        qdir = tmp_path / "quarantine" / f"batch_{bid}"
        assert {r.value for r in spark.read.text(str(qdir)).collect()} == {"not json {{"}
    live = {r.id for r in driver.sink_for(driver.config.tables[-1]).read(spark).collect()}
    assert live == {b * 7 + i for b in range(3) for i in range(1, 5)}


def test_no_probe_for_declared_schemas_without_quarantine(spark, tmp_path, monkeypatch):
    """A declared-schema stream without a quarantine dir has nothing to
    probe: the driver runs no probe job at all."""
    tables = ("t0", "t1", "t2")
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType()),
         StructField("amount", DoubleType()), StructField("qty", LongType()),
         StructField("status", StringType())]
    )
    driver = CdcStreamDriver(
        spark,
        _dms_fanout_cfg(tmp_path, tables, quarantine=False, scd2=False),
        payload_schemas={t: schema for t in tables},
    )
    spy = _ProbeSpy(monkeypatch, type(_dms_batch(spark, 0, tables)))
    for bid in range(2):
        driver.process_batch(_dms_batch(spark, bid, tables, n_keys=5), bid)
    assert spy.runs == []
    assert driver.sink_for(driver.config.tables[0]).read(spark).count() == 8


def test_warm_fanout_batch_job_count(spark, tmp_path):
    """A warm 3-table fan-out batch with SCD2 on one table runs no
    schema-inference job for any sink read (the main tables' COW reads and
    the SCD2 history fold take their schema from the commits that wrote
    the files), and the SCD2 history commits one table, not an event log
    plus a history. Inference cost 5 of the 30 jobs this batch ran, the
    log another 5 of the 25 left."""
    tables = ("t0", "t1", "t2")
    driver = CdcStreamDriver(spark, _dms_fanout_cfg(tmp_path, tables))
    per_batch = []
    for bid in range(4):
        before = settled_job_ids(spark)
        driver.process_batch(_dms_batch(spark, bid, tables), bid)
        per_batch.append(len(settled_job_ids(spark) - before))
    assert per_batch[-1] <= 21, per_batch
    scd2_root = driver.scd2_for(driver.config.tables[0]).root
    assert os.path.isdir(os.path.join(scd2_root, "history"))
    assert not os.path.exists(os.path.join(scd2_root, "log"))
