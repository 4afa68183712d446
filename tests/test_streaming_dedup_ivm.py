"""CDC-driven incremental maintenance of the near-dup PAIR SET
(streaming/dedup_ivm.py).

The insert-only streaming ingest (test_streaming_incremental_dedup)
discovers each pair exactly once but can never change its mind. Real
corpora are CDC-maintained: documents are UPDATED (their near-dup
relationships change) and DELETED (their pairs must be retracted). The
maintainer keeps the pair set as a keyed table; the invariant pinned here:

    after ANY prefix of CDC batches, the live pairs are EXACTLY the
    full-recompute LSH pairs of the live corpus at that point

— i.e. the similarity graph obeys the same IVM contract as the aggregate
maintainers in operators/incremental.py, at O(changed docs) per batch.

Also pinned: exactly-once under at-least-once replay (re-delivering an
OLD batch after later ones have run commits nothing on either keyed
table), crash consistency at the maintainer's two commits, and
intra-batch precombine (latest seq per doc wins).
"""

import pytest

from pyspark.sql import functions as F

from .conftest import SF_DIR, settled_job_ids


def _truth_pairs(spark, live: dict[int, str]):
    """Full-recompute LSH pairs of the live corpus — same candidate
    generation + verify as the maintainer, run from scratch."""
    from kafka_cdc_hudi_spark.plans.catalog_text import minhash_signatures_for
    from kafka_cdc_hudi_spark.streaming.dedup_ivm import _pairs_between

    docs = spark.createDataFrame(
        sorted(live.items()), "doc_id BIGINT, text STRING"
    ).repartition(4)
    sig = minhash_signatures_for(docs).localCheckpoint(eager=False)
    return {
        (r.doc_a, r.doc_b): round(r.est_jaccard, 9)
        for r in _pairs_between(sig, sig).collect()
    }


def _batch_df(spark, rows):
    return spark.createDataFrame(rows, "op STRING, doc_id BIGINT, text STRING, seq BIGINT")


@pytest.mark.slow
def test_cdc_pair_ivm_matches_full_recompute(spark, tmp_path):
    from kafka_cdc_hudi_spark.sources.tables import load_table
    from kafka_cdc_hudi_spark.streaming.dedup_ivm import DedupPairMaintainer

    corpus = {
        int(r.doc_id): r.text
        for r in load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    }
    ids = sorted(corpus)
    third = [i for i in ids if i % 3 == 2]          # arrives in batch 1
    base = [i for i in ids if i % 3 != 2]           # arrives in batch 0
    a, b, c = base[0], base[1], base[2]

    m = DedupPairMaintainer(spark, str(tmp_path / "index"), str(tmp_path / "pairs"))
    live: dict[int, str] = {}

    def run(bid, rows):
        m.process(_batch_df(spark, rows), bid)
        for op, did, text, _ in sorted(rows, key=lambda r: r[3]):
            if op == "d":
                live.pop(did, None)
            else:
                live[did] = text
        got = {
            (r.doc_a, r.doc_b): round(r.est_jaccard, 9)
            for r in m.live_pairs_with_est().collect()
        }
        assert got == _truth_pairs(spark, live), f"IVM diverged after batch {bid}"
        return got

    # batch 0: bulk insert two thirds of the corpus. Includes an
    # intra-batch precombine conflict: doc `a` first arrives with doc
    # b's text (seq=0), then with its real text (seq=1) — latest wins.
    rows0 = [("i", i, corpus[i], 10 + i) for i in base if i != a]
    rows0 += [("i", a, corpus[b], 0), ("u", a, corpus[a], 1)]
    p0 = run(0, rows0)

    # batch 1: insert the rest; UPDATE doc a to an exact copy of doc b
    # (creates pair (a,b) est=1.0); DELETE doc c.
    rows1 = [("i", i, corpus[i], 1000 + i) for i in third]
    rows1 += [("u", a, corpus[b], 5000), ("d", c, None, 5001)]
    p1 = run(1, rows1)
    key_ab = (min(a, b), max(a, b))
    assert p1[key_ab] == 1.0, "update-created exact-copy pair missing"

    # batch 2: DELETE doc a (retracts (a,b)); re-insert doc c verbatim;
    # UPDATE doc b to a fresh unique text (kills any of b's other pairs).
    rows2 = [
        ("d", a, None, 9000),
        ("i", c, corpus[c], 9001),
        ("u", b, "entirely novel text " + "x y z w " * 30, 9002),
    ]
    p2 = run(2, rows2)
    assert key_ab not in p2, "deleted doc's pair not retracted"

    assert p0 or p1 or p2, "fixture produced no pairs anywhere — vacuous"
    # the delta stream really does retract: some pair alive after batch 1
    # is gone after batch 2
    assert set(p1) - set(p2), "no retraction ever happened — vacuous"

    # at-least-once replay of an OLD batch (batch 1) AFTER batch 2 ran:
    # the batch-id gate makes it a no-op — no commit on either table, the
    # same live pairs
    tables = (m.index, m.pairs)
    before = [(t.versions(), t.last_batch_id()) for t in tables]
    assert [lb for _, lb in before] == [2, 2]
    m.process(_batch_df(spark, rows1), 1)
    assert [(t.versions(), t.last_batch_id()) for t in tables] == before
    assert {
        (r.doc_a, r.doc_b) for r in m.live_pairs().collect()
    } == set(p2), "replay changed the live pair set"


def test_pair_ivm_entry_nonvacuous(spark):
    """The registry entry's CDC script must actually exercise the IVM
    paths: updates create exact-copy pairs, deletes/updates make the
    result differ from the static full-corpus LSH."""
    from kafka_cdc_hudi_spark.plans.catalog_text import (
        _IVM_UPD_MOD,
        _IVM_UPD_RES,
        dedup_cdc_pair_ivm,
        dedup_minhash_lsh,
    )

    ivm = {(r.doc_a, r.doc_b) for r in dedup_cdc_pair_ivm(spark, SF_DIR).collect()}
    assert ivm, "pair-IVM entry returned no pairs — vacuous"
    upd = {
        p
        for p in ivm
        if any(d % _IVM_UPD_MOD == _IVM_UPD_RES for d in p)
    }
    assert upd, "no pair involves an updated doc — updates never fired"
    static = {(r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, SF_DIR).collect()}
    assert ivm != static, "CDC script had no effect vs the static corpus"
    assert ivm - static, "no update-created pair absent from the static corpus"
    assert static - ivm, "no static pair was retracted by an update/delete"


# -- randomized CDC scripts vs full recompute ---------------------------------

import pytest as _pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

#: tiny synthetic vocabulary: 4-word phrases over a 6-word alphabet make
#: shingle collisions (hence pairs, retractions, re-pairs) common enough
#: that random scripts exercise every IVM path
_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
_texts = st.lists(
    st.sampled_from(_WORDS), min_size=6, max_size=9
).map(" ".join)

_ops = st.lists(
    st.tuples(
        st.sampled_from(["i", "u", "d"]),
        st.integers(min_value=0, max_value=11),  # doc id pool of 12
        _texts,
    ),
    min_size=4,
    max_size=24,
)
_splits = st.lists(st.integers(min_value=1, max_value=8), min_size=1, max_size=5)


@_pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ops=_ops, splits=_splits)
def test_random_cdc_scripts_match_full_recompute(spark, tmp_path_factory, ops, splits):
    """ANY op sequence (deletes of absent docs, re-inserts, updates to an
    identical text, same-doc churn within a batch) chopped into ANY batch
    boundaries must leave live_pairs == full LSH recompute of the live
    corpus."""
    from kafka_cdc_hudi_spark.streaming.dedup_ivm import DedupPairMaintainer

    tmp = tmp_path_factory.mktemp("ivm")
    m = DedupPairMaintainer(spark, str(tmp / "sig_ops"), str(tmp / "pair_deltas"))
    live: dict[int, str] = {}
    seq_rows = [(op, did, None if op == "d" else tx, i) for i, (op, did, tx) in enumerate(ops)]
    i, bid = 0, 0
    for size in splits:
        batch = seq_rows[i : i + size]
        i += size
        if not batch:
            break
        m.process(_batch_df(spark, batch), bid)
        bid += 1
        for op, did, tx, _ in batch:  # already seq-ordered
            if op == "d":
                live.pop(did, None)
            else:
                live[did] = tx
        got = {(r.doc_a, r.doc_b) for r in m.live_pairs().collect()}
        want = set(_truth_pairs(spark, live)) if live else set()
        assert got == want, f"diverged after batch {bid - 1}: {got ^ want}"


@pytest.mark.slow
def test_pair_ivm_under_structured_streaming(spark, tmp_path):
    """The maintainer wired as a real foreachBatch sink: a file-source
    stream delivers three CDC slices (maxFilesPerTrigger=1), and the
    folded pair set must equal the full recompute of the final live
    corpus — proving the engine-driven wiring (batch ids, per-batch
    frames) matches the direct-call contract the other tests pin."""
    import os
    import shutil

    from kafka_cdc_hudi_spark.sources.tables import load_table
    from kafka_cdc_hudi_spark.streaming.dedup_ivm import DedupPairMaintainer

    corpus = {
        int(r.doc_id): r.text
        for r in load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    }
    ids = sorted(corpus)
    a, b, c = ids[0], ids[1], ids[2]
    slices = [
        [("i", i, corpus[i], 100 + i) for i in ids if i % 2 == 0],
        [("i", i, corpus[i], 10_000 + i) for i in ids if i % 2 == 1]
        + [("u", a, corpus[b], 50_000)],
        [("d", c, None, 90_000), ("d", a, None, 90_001)],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for n, rows in enumerate(slices):
        d = tmp_path / f"slice{n}"
        _batch_df(spark, rows).coalesce(1).write.mode("overwrite").json(str(d))
        for f in sorted(os.listdir(d)):
            if f.endswith(".json"):
                shutil.copy(d / f, src / f"b{n}.json")

    m = DedupPairMaintainer(spark, str(tmp_path / "sig_ops"), str(tmp_path / "pair_deltas"))
    stream = (
        spark.readStream.schema("op STRING, doc_id BIGINT, text STRING, seq BIGINT")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(m.process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    live = dict(corpus)
    live[a] = corpus[b]
    live.pop(c), live.pop(a)
    got = {(r.doc_a, r.doc_b) for r in m.live_pairs().collect()}
    assert got == set(_truth_pairs(spark, live))
    assert got, "streaming IVM found no pairs — vacuous"


def _small_corpus(spark):
    from kafka_cdc_hudi_spark.sources.tables import load_table

    return {
        int(r.doc_id): r.text
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
        .collect()
    }


def _crash_script(corpus):
    """Batch 0 inserts the corpus; batch 1 updates one doc to a neighbor's
    text and deletes another. Returns both batches and the live corpus
    after batch 1."""
    ids = sorted(corpus)
    b0 = [("i", i, corpus[i], i) for i in ids]
    b1 = [("u", ids[3], corpus[ids[5]], 1000), ("d", ids[7], None, 1001)]
    live = dict(corpus)
    live[ids[3]] = corpus[ids[5]]
    del live[ids[7]]
    return b0, b1, live


class InjectedCrash(RuntimeError):
    pass


def test_crash_between_pairs_and_index_commits_then_replay(spark, tmp_path):
    """process() commits the pairs table, then the index. Kill between the
    two: the pairs hold batch 1, the index still reads batch 0. The replay
    recomputes from that index, the pairs table's gate skips its committed
    side, and the index commit completes — converging on the uncrashed
    result."""
    from kafka_cdc_hudi_spark.streaming.dedup_ivm import DedupPairMaintainer

    corpus = _small_corpus(spark)
    b0, b1, live = _crash_script(corpus)
    roots = str(tmp_path / "index"), str(tmp_path / "pairs")
    m = DedupPairMaintainer(spark, *roots)
    m.process(_batch_df(spark, b0), 0)

    def dying_merge(*a, **kw):
        raise InjectedCrash("dies before the index commit")

    m.index.merge_batch = dying_merge
    with pytest.raises(InjectedCrash):
        m.process(_batch_df(spark, b1), 1)
    assert (m.pairs.last_batch_id(), m.index.last_batch_id()) == (1, 0)
    pairs_versions = m.pairs.versions()

    m2 = DedupPairMaintainer(spark, *roots)
    m2.process(_batch_df(spark, b1), 1)
    assert m2.pairs.versions() == pairs_versions, "pairs re-committed on replay"
    assert m2.index.last_batch_id() == 1
    got = {(r.doc_a, r.doc_b) for r in m2.live_pairs().collect()}
    assert got == set(_truth_pairs(spark, live))


@pytest.mark.parametrize("table", ["pairs", "index"])
def test_crash_at_pointer_swap_then_replay(spark, tmp_path, table):
    """Kill one table's commit for batch 1 after its data files are
    written, before its pointer swap (the SCD2 history kill point). A
    fresh maintainer reads exactly what committed before the crash — the
    batch-0 pairs when the pairs swap dies, the batch-1 pairs when the
    index swap dies after the pairs committed — and the replay converges
    on the full recompute."""
    from kafka_cdc_hudi_spark.streaming.dedup_ivm import DedupPairMaintainer

    corpus = _small_corpus(spark)
    b0, b1, live = _crash_script(corpus)
    roots = str(tmp_path / "index"), str(tmp_path / "pairs")
    m = DedupPairMaintainer(spark, *roots)
    m.process(_batch_df(spark, b0), 0)
    pairs0 = {(r.doc_a, r.doc_b) for r in m.live_pairs().collect()}
    assert pairs0 == set(_truth_pairs(spark, corpus))

    victim = getattr(m, table)
    real = victim._write_pointer

    def dying(version, batch_id, *a, **kw):
        if batch_id == 1:
            raise InjectedCrash(f"{table} pointer swap dies")
        return real(version, batch_id, *a, **kw)

    victim._write_pointer = dying
    with pytest.raises(InjectedCrash):
        m.process(_batch_df(spark, b1), 1)
    assert victim.last_batch_id() == 0

    m2 = DedupPairMaintainer(spark, *roots)
    assert m2.index.last_batch_id() == 0
    want = set(_truth_pairs(spark, live))
    committed = pairs0 if table == "pairs" else want
    assert {(r.doc_a, r.doc_b) for r in m2.live_pairs().collect()} == committed
    m2.process(_batch_df(spark, b1), 1)
    assert (m2.pairs.last_batch_id(), m2.index.last_batch_id()) == (1, 1)
    assert {(r.doc_a, r.doc_b) for r in m2.live_pairs().collect()} == want


def test_corrupt_index_file_raises(spark, tmp_path):
    """A committed index file with a corrupt footer fails the batch instead
    of pairing it against a partial index, and neither table commits."""
    from kafka_cdc_hudi_spark.streaming.dedup_ivm import DedupPairMaintainer

    corpus = _small_corpus(spark)
    b0, b1, _ = _crash_script(corpus)
    m = DedupPairMaintainer(spark, str(tmp_path / "index"), str(tmp_path / "pairs"))
    m.process(_batch_df(spark, b0), 0)
    files = list((tmp_path / "index").glob("*/*.parquet"))
    assert files
    for f in files:
        b = f.read_bytes()
        f.write_bytes(b[:-8] + bytes(4) + b[-4:])  # zero footer length, keep magic
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        m.process(_batch_df(spark, b1), 1)
    assert (m.pairs.last_batch_id(), m.index.last_batch_id()) == (0, 0)


def test_over_cap_batches_use_joins(spark, tmp_path, monkeypatch):
    """Batches past the key-literal cap read the stale pairs and the
    surviving index through semi/anti joins over the full folds instead of
    the pushed-down predicate — same pair set."""
    from kafka_cdc_hudi_spark.streaming import dedup_ivm

    monkeypatch.setattr(dedup_ivm, "MAX_KEY_LITERALS", 1)
    corpus = _small_corpus(spark)
    b0, b1, live = _crash_script(corpus)
    # also move one member of a batch-0 pair to a unique text: a retraction
    pairs0 = set(_truth_pairs(spark, corpus))
    moved = min(pairs0)[0]
    b1.append(("u", moved, "entirely novel text " + "x y z w " * 30, 1002))
    live[moved] = b1[-1][2]
    m = dedup_ivm.DedupPairMaintainer(spark, str(tmp_path / "index"), str(tmp_path / "pairs"))
    m.process(_batch_df(spark, b0), 0)
    m.process(_batch_df(spark, b1), 1)
    got = {(r.doc_a, r.doc_b) for r in m.live_pairs().collect()}
    assert got == set(_truth_pairs(spark, live))
    assert pairs0 - got, "batch 1 retracted nothing — vacuous"


def test_pair_ivm_warm_batch_job_count(spark, tmp_path):
    """A warm 10-doc update batch over the fixture corpus runs at most 16
    Spark jobs: the changed-id collect (which is also the empty-batch
    gate), then one MOR commit per table. The changed ids reach both reads
    as a key-literal predicate below the MOR fold, and the retracted pairs
    come from the pairs table, not from re-probing old signatures. Kept as
    a bid-partition op log with whole-log folds, the same batch ran 22."""
    from kafka_cdc_hudi_spark.sources.tables import load_table
    from kafka_cdc_hudi_spark.streaming.dedup_ivm import DedupPairMaintainer

    corpus = {
        int(r.doc_id): r.text
        for r in load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    }
    ids = sorted(corpus)
    m = DedupPairMaintainer(spark, str(tmp_path / "index"), str(tmp_path / "pairs"))
    m.process(_batch_df(spark, [("i", i, corpus[i], i) for i in ids]), 0)
    per_batch = []
    for bid in range(1, 4):
        rows = [
            ("u", d, corpus[ids[(k * 7 + bid) % len(ids)]] + f" v{bid}", 10_000 * bid + k)
            for k, d in enumerate(ids[bid * 10 : bid * 10 + 10])
        ]
        before = settled_job_ids(spark)
        m.process(_batch_df(spark, rows), bid)
        per_batch.append(len(settled_job_ids(spark) - before))
    assert per_batch[-1] <= 16, per_batch
    assert m.pairs.last_batch_id() == m.index.last_batch_id() == 3
