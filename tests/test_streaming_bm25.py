"""CDC-maintained BM25 inverted index (streaming/bm25_ivm.py).

Invariant (same IVM contract as the pair-set and ANN maintainers): after
ANY prefix of CDC batches, ``topk`` over the maintained tables EXACTLY
equals ``bm25_topk`` over a from-scratch build of the live corpus —
postings retraction on update, tombstones on delete, df/avgdl statistics
always reflecting the live corpus. Plus: replay no-op, empty-batch gate,
and catalog-entry non-vacuity (the CDC script's updates really move
rankings and its deletes really evict docs)."""

import pytest
from pyspark.sql import functions as F

from kafka_cdc_hudi_spark.functions.textfns import tokens
from kafka_cdc_hudi_spark.streaming.bm25_ivm import Bm25IndexMaintainer, bm25_topk

SCHEMA = "op STRING, doc_id BIGINT, text STRING, seq BIGINT"


def _topk_set(df):
    return {
        (r["query_id"], r["doc_id"], r["rank"], round(r["score"], 9))
        for r in df.collect()
    }


def _rebuild_topk(spark, live, queries, k=5):
    docs = spark.createDataFrame(sorted(live.items()), "doc_id BIGINT, text STRING")
    posts = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = docs.select("doc_id", F.size(tokens("text")).cast("long").alias("dl"))
    return bm25_topk(queries, posts, dl, k=k)


DOCS = {
    1: "spark merge join window table",
    2: "spark merge join window table",   # near-copy of 1
    3: "duck filter scan scan scan",
    4: "window filter spark group sort",
    5: "unique pelican flamingo heron egret",
    6: "merge table sort group batch",
}


@pytest.fixture()
def queries(spark):
    return spark.createDataFrame(
        [(100, "spark merge window"), (101, "pelican flamingo scan")],
        "query_id BIGINT, text STRING",
    )


def test_prefix_equivalence_under_churn(spark, tmp_path, queries):
    m = Bm25IndexMaintainer(root=str(tmp_path / "bm25"), compact_every=2)
    batches = [
        # b0: bulk insert 4 docs
        [("i", 1, DOCS[1], 0), ("i", 2, DOCS[2], 1), ("i", 3, DOCS[3], 2),
         ("i", 4, DOCS[4], 3)],
        # b1: insert the rest; doc 2 REWRITTEN away from doc 1 (its
        # postings must retract; df of shared terms drops)
        [("i", 5, DOCS[5], 4), ("i", 6, DOCS[6], 5),
         ("u", 2, "duck pond reed marsh", 6)],
        # b2: delete doc 5 (the only 'pelican' doc — query 101's top hit
        # must change); in-batch dup op for doc 3 (latest seq wins)
        [("d", 5, None, 7), ("u", 3, "wrong text", 8),
         ("u", 3, "duck filter scan deep", 9)],
        # b3: re-insert doc 5 after its delete
        [("i", 5, "pelican pelican flamingo", 10)],
    ]
    live = {}
    for bid, rows in enumerate(batches):
        assert m.process(spark, spark.createDataFrame(rows, SCHEMA), batch_id=bid)
        for op, did, text, _ in sorted(rows, key=lambda r: r[3]):
            if op == "d":
                live.pop(did, None)
            else:
                live[did] = text
        got = _topk_set(m.topk(spark, queries, k=5))
        want = _topk_set(_rebuild_topk(spark, live, queries, k=5))
        assert got == want, f"divergence after batch {bid}"
    # non-vacuity of the churn: doc 2's rewrite removed it from query
    # 100's results' top matches, doc 5 is back for query 101
    final = {(r["query_id"], r["doc_id"]) for r in m.topk(spark, queries, k=5).collect()}
    assert (101, 5) in final


def test_replay_and_empty_gate(spark, tmp_path, queries):
    m = Bm25IndexMaintainer(root=str(tmp_path / "rp"))
    b0 = spark.createDataFrame(
        [("i", 1, DOCS[1], 0), ("i", 5, DOCS[5], 1)], SCHEMA
    )
    assert m.process(spark, b0, batch_id=0)
    before = _topk_set(m.topk(spark, queries, k=5))
    assert not m.process(spark, b0, batch_id=0)  # replay: pointer no-op
    assert _topk_set(m.topk(spark, queries, k=5)) == before
    assert not m.process(spark, b0.limit(0), batch_id=1)  # empty gate
    assert _topk_set(m.topk(spark, queries, k=5)) == before


def test_catalog_entry_cdc_script_non_vacuous(spark):
    """The text_bm25_maintained driver entry's script must exercise the
    algebra: updated docs exist and change tokenization, deleted docs
    (including update-then-delete overlaps) vanish from results."""
    from kafka_cdc_hudi_spark.plans.catalog_text import (
        _BM25_DEL_MOD,
        _BM25_DEL_RES,
        _BM25_UPD_MOD,
        _BM25_UPD_RES,
        text_bm25_maintained,
    )
    from kafka_cdc_hudi_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    d = load_table(spark, sf, "documents")
    did = F.col("doc_id")
    upd = d.filter(did % _BM25_UPD_MOD == _BM25_UPD_RES)
    assert upd.count() > 0
    both = d.filter(
        (did % _BM25_UPD_MOD == _BM25_UPD_RES) & (did % _BM25_DEL_MOD == _BM25_DEL_RES)
    )
    assert both.count() > 0, "update-then-delete edge not exercised"
    final = text_bm25_maintained(spark, sf)
    assert final.filter(F.col("doc_id") % _BM25_DEL_MOD == _BM25_DEL_RES).count() == 0
    # deleted docs would otherwise appear: they do in the STATIC entry
    from kafka_cdc_hudi_spark.plans.catalog_text import text_bm25_topk

    static = text_bm25_topk(spark, sf)
    assert static.filter(F.col("doc_id") % _BM25_DEL_MOD == _BM25_DEL_RES).count() > 0


def test_hybrid_rrf_fuses_both_arms_non_vacuously(spark):
    """The RRF entry must really fuse: every query carries docs ranked by
    only one arm (BM25 self-hit vs ivf_topk self-exclusion guarantees at
    least the query doc itself), docs ranked by BOTH arms exist, and the
    fused order differs from each arm's own order."""
    from kafka_cdc_hudi_spark.plans.catalog_streaming import hybrid_retrieval_rrf

    sf = "/root/testdata/sf0.001"
    rows = hybrid_retrieval_rrf(spark, sf).collect()
    assert rows
    lex_only = [r for r in rows if r["sem_rank"] is None and r["lex_rank"] is not None]
    sem_only = [r for r in rows if r["lex_rank"] is None and r["sem_rank"] is not None]
    both = [r for r in rows if r["lex_rank"] is not None and r["sem_rank"] is not None]
    assert lex_only and sem_only and both
    # fused order != lexical order and != semantic order (on some query)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    diff_lex = diff_sem = False
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        fused = [r["doc_id"] for r in rs]
        lexo = [r["doc_id"] for r in sorted(
            (r for r in rs if r["lex_rank"] is not None), key=lambda r: r["lex_rank"])]
        semo = [r["doc_id"] for r in sorted(
            (r for r in rs if r["sem_rank"] is not None), key=lambda r: r["sem_rank"])]
        diff_lex |= fused[: len(lexo)] != lexo
        diff_sem |= fused[: len(semo)] != semo
    assert diff_lex and diff_sem


def test_bm25_maintainer_under_streaming_engine(spark, tmp_path):
    """The maintainer runs under the REAL engine via the driver's
    side_processors attach point, with a checkpointed restart: the
    maintained index equals a from-scratch rebuild of the final live
    corpus, and the restart replays as a no-op."""
    import json

    from kafka_cdc_hudi_spark.config import DIALECT_DEBEZIUM, JobConfig, TableSpec
    from kafka_cdc_hudi_spark.sources.kafka import json_file_value_stream
    from kafka_cdc_hudi_spark.streaming.driver import CdcStreamDriver
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    payload = StructType(
        [StructField("doc_id", LongType(), True), StructField("text", StringType(), True)]
    )
    src = tmp_path / "src"
    src.mkdir()
    cfg = JobConfig(
        dialect=DIALECT_DEBEZIUM,
        tables=[TableSpec("d1", "docs", ("doc_id",))],
        sink_root=str(tmp_path / "sink"),
        checkpoint_location=str(tmp_path / "ckpt"),
        trigger_interval="1 seconds",
        max_workers=1,
    )
    m = Bm25IndexMaintainer(root=str(tmp_path / "bm25"))

    def side(spark_, routed, batch_id):
        m.process(
            spark_,
            routed.select(
                F.when(F.col("_deleted"), F.lit("d")).otherwise(F.lit("u")).alias("op"),
                "doc_id",
                "text",
                F.col("mtime").alias("seq"),
            ),
            batch_id,
        )

    def dbz(op, after=None, before=None, ts_ms=0):
        return json.dumps(
            {"before": before, "after": after, "op": op, "ts_ms": ts_ms,
             "db": "d1", "table": "docs"}
        )

    mk = lambda: CdcStreamDriver(  # noqa: E731
        spark, cfg, payload_schemas={"docs": payload}, side_processors={"docs": side}
    )
    batches = [
        [dbz("c", after={"doc_id": k, "text": t}, ts_ms=k)
         for k, t in list(DOCS.items())[:4]],
        [dbz("c", after={"doc_id": 5, "text": DOCS[5]}, ts_ms=5),
         dbz("u", after={"doc_id": 2, "text": "duck pond reed marsh"}, ts_ms=6)],
        [dbz("d", before={"doc_id": 5, "text": ""}, ts_ms=7)],
    ]
    q = mk().start(json_file_value_stream(spark, str(src), max_files_per_trigger=1))
    for i, lines in enumerate(batches[:2]):
        with open(src / f"b{i}.json", "w") as f:
            f.write("\n".join(lines) + "\n")
        q.processAllAvailable()
    q.stop()
    # restart, last batch
    q2 = mk().start(json_file_value_stream(spark, str(src), max_files_per_trigger=1))
    with open(src / "b2.json", "w") as f:
        f.write("\n".join(batches[2]) + "\n")
    q2.processAllAvailable()
    q2.stop()

    live = {1: DOCS[1], 2: "duck pond reed marsh", 3: DOCS[3], 4: DOCS[4]}
    queries = spark.createDataFrame(
        [(100, "spark merge window"), (101, "duck pond scan")],
        "query_id BIGINT, text STRING",
    )
    got = _topk_set(m.topk(spark, queries, k=5))
    assert got == _topk_set(_rebuild_topk(spark, live, queries, k=5))
    # third driver on the same checkpoint: replay is a no-op
    q3 = mk().start(json_file_value_stream(spark, str(src)))
    q3.processAllAvailable()
    q3.stop()
    assert _topk_set(m.topk(spark, queries, k=5)) == got


def test_hybrid_maintained_reflects_both_churns(spark):
    """The maintained hybrid entry must reflect BOTH CDC scripts: docs
    deleted from the BM25 corpus carry no lex_rank, vectors deleted from
    the ANN corpus carry no sem_rank, and one-side-deleted docs still
    surface through the surviving arm (the COALESCE path)."""
    from kafka_cdc_hudi_spark.plans.catalog_streaming import (
        _ANN_IVM_DEL_MOD,
        _ANN_IVM_DEL_RES,
        hybrid_retrieval_maintained,
    )
    from kafka_cdc_hudi_spark.plans.catalog_text import _BM25_DEL_MOD, _BM25_DEL_RES

    rows = hybrid_retrieval_maintained(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        if r["doc_id"] % _BM25_DEL_MOD == _BM25_DEL_RES:
            assert r["lex_rank"] is None, r  # deleted doc: lexical arm silent
        if r["doc_id"] % _ANN_IVM_DEL_MOD == _ANN_IVM_DEL_RES:
            assert r["sem_rank"] is None, r  # deleted vector: semantic arm silent
    # one-side-deleted survivors actually appear (the fusion is load-bearing)
    assert any(
        r["doc_id"] % _BM25_DEL_MOD == _BM25_DEL_RES and r["sem_rank"] is not None
        for r in rows
    ) or any(
        r["doc_id"] % _ANN_IVM_DEL_MOD == _ANN_IVM_DEL_RES and r["lex_rank"] is not None
        for r in rows
    )


def test_non_monotonic_seq_raises_and_replay_does_not(spark, tmp_path, queries):
    """The doubled-seq scheme's hard precondition (module docstring): a
    batch presenting a seq <= a doc's stored seq must FAIL the merge (a
    delete at that seq would silently lose the precombine and resurrect
    the doc), while a full replay of an already-committed batch — whose
    own rows are legitimately stored — must stay a no-op."""
    m = Bm25IndexMaintainer(root=str(tmp_path / "mono"))
    b0 = spark.createDataFrame([("i", 1, DOCS[1], 5), ("i", 3, DOCS[3], 6)], SCHEMA)
    assert m.process(spark, b0, batch_id=0)
    # replay of the SAME batch id: no-op, no validation misfire
    assert not m.process(spark, b0, batch_id=0)
    # a NEW batch reusing doc 1's seq: the tombstone guard must raise
    bad = spark.createDataFrame([("d", 1, None, 5)], SCHEMA)
    with pytest.raises(Exception, match="non-monotonic seq"):
        m.process(spark, bad, batch_id=1)
    # and a correctly-advanced seq still works
    ok = spark.createDataFrame([("d", 1, None, 7)], SCHEMA)
    assert m.process(spark, ok, batch_id=2)
    final = {r["doc_id"] for r in m.topk(spark, queries, k=5).collect()}
    assert 1 not in final


def test_crash_between_postings_and_doclens_commits(spark, tmp_path, queries):
    """process() commits postings then doclens. Kill between the two: the
    replay must heal the index — postings skip via replay protection (the
    tombstone delta, whose raise_error guard would otherwise fire against
    the already-landed rows, is never evaluated), doclens applies, and
    top-k equals the from-scratch rebuild."""

    class InjectedCrash(RuntimeError):
        pass

    m = Bm25IndexMaintainer(root=str(tmp_path / "bm25"))
    live = dict(DOCS)
    b0 = [("i", i, t, i) for i, t in sorted(live.items())]
    m.process(spark, spark.createDataFrame(b0, SCHEMA), batch_id=0)

    real = m.doclens.merge_batch

    def dying(spark_, delta, batch_id=None):
        if batch_id == 1:
            raise InjectedCrash("doclens commit dies")
        return real(spark_, delta, batch_id=batch_id)

    m.doclens.merge_batch = dying
    live[3] = "fresh scan text replaces duck filter"
    b1 = [("u", 3, live[3], 100), ("d", 5, None, 101)]
    with pytest.raises(InjectedCrash):
        m.process(spark, spark.createDataFrame(b1, SCHEMA), batch_id=1)
    assert m.postings.last_batch_id() == 1
    assert m.doclens.last_batch_id() == 0

    del live[5]
    m2 = Bm25IndexMaintainer(root=str(tmp_path / "bm25"))
    m2.process(spark, spark.createDataFrame(b1, SCHEMA), batch_id=1)
    assert m2.postings.last_batch_id() == 1
    assert m2.doclens.last_batch_id() == 1
    assert _topk_set(m2.topk(spark, queries, k=5)) == _topk_set(
        _rebuild_topk(spark, live, queries, k=5)
    )


def test_postings_failure_mid_batch_leaves_doclens_behind(spark, tmp_path):
    """process() commits postings, then doclens, in sequence: when the
    postings merge job raises mid-batch (here the non-monotonic seq guard),
    doclens must not advance past it — a doclens table ahead of postings
    would count the failed batch's docs in N and avgdl."""
    m = Bm25IndexMaintainer(root=str(tmp_path / "fs"))
    b0 = spark.createDataFrame([("i", 1, DOCS[1], 5), ("i", 3, DOCS[3], 6)], SCHEMA)
    assert m.process(spark, b0, batch_id=0)
    bad = spark.createDataFrame([("u", 1, DOCS[4], 5), ("i", 6, DOCS[6], 9)], SCHEMA)
    with pytest.raises(Exception, match="non-monotonic seq"):
        m.process(spark, bad, batch_id=1)
    assert m.postings.last_batch_id() == 0
    assert m.doclens.last_batch_id() == 0
    assert {r["doc_id"] for r in m.live_doclens(spark).collect()} == {1, 3}
