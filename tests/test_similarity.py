"""ANN scale paths: verified by recall against the exact brute-force
baseline (approximate operators get rows-only driver checks by design)."""

import pytest
from pyspark.sql import functions as F

from kafka_cdc_hudi_spark.operators.similarity import (
    _srp_planes,
    ivf_assign,
    ivf_topk,
    ivf_train_centroids,
    srp_bucketize,
    srp_topk,
)
from kafka_cdc_hudi_spark.plans.catalog_text import ann_topk_bruteforce
from kafka_cdc_hudi_spark.sources.tables import load_table

from .conftest import SF_DIR

DIM = 64


def srp_signature_col(dim: int, n_bits: int, table: int, col: str = "embedding"):
    """Relational reference for one SRP table's signature: sign bits of
    the plane dot-products packed into a long, each dot an unrolled
    left-to-right ``element_at`` sum (the addition order of the
    vectorized kernel, so the two agree bit for bit)."""
    planes = _srp_planes(dim, n_bits, table)
    bits = []
    for b in range(n_bits):
        dot = " + ".join(
            f"CAST(element_at({col}, {j + 1}) AS DOUBLE)"
            f" * CAST('{float(planes[b][j])!r}' AS DOUBLE)"
            for j in range(dim)
        )
        bits.append(f"(CASE WHEN ({dot}) > 0.0D THEN {2 ** b}L ELSE 0L END)")
    return F.expr("(" + " + ".join(bits) + ")")


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="module")
def exact(spark):
    out = ann_topk_bruteforce(spark, SF_DIR).collect()
    truth = {}
    for r in out:
        truth.setdefault(r["qid"], set()).add(r["nid"])
    return truth


def _recall(approx_rows, truth, k=10):
    got = {}
    for r in approx_rows:
        got.setdefault(r["qid"], set()).add(r["nid"])
    recalls = [len(got.get(q, set()) & t) / len(t) for q, t in truth.items()]
    return sum(recalls) / len(recalls)


def test_srp_signatures_deterministic(spark, emb):
    a = srp_bucketize(emb.limit(50), DIM, n_bits=8, n_tables=2).collect()
    b = srp_bucketize(emb.limit(50), DIM, n_bits=8, n_tables=2).collect()
    assert sorted((r["vec_id"], r["tbl"], r["sig"]) for r in a) == sorted(
        (r["vec_id"], r["tbl"], r["sig"]) for r in b
    )
    sigs = {r["sig"] for r in a}
    assert len(sigs) > 1, "all vectors in one bucket — hashing degenerate"


def test_srp_udf_matches_relational_reference(spark, emb):
    # the Arrow-batched numpy kernel must be BIT-identical to the pure-SQL
    # unrolled reference (same addition order) — this is what licenses the
    # ArrowEvalPython exemption in test_plan_invariants.py
    sample = emb.limit(100).select("vec_id", "embedding")
    via_udf = {
        (r["vec_id"], r["tbl"]): r["sig"]
        for r in srp_bucketize(sample, DIM, n_bits=6, n_tables=3).collect()
    }
    via_sql = {
        (r["vec_id"], t): r[f"s{t}"]
        for r in sample.select(
            "vec_id",
            *[
                srp_signature_col(DIM, 6, t, "embedding").alias(f"s{t}")
                for t in range(3)
            ],
        ).collect()
        for t in range(3)
    }
    assert via_udf == via_sql


def test_srp_tolerates_null_and_ragged_embeddings(spark):
    # graceful degradation parity with the relational form: corrupt rows
    # (NULL / wrong-length embedding) get all-zero signatures instead of
    # failing the job
    rows = [
        (1, [float(i) for i in range(DIM)]),
        (2, None),
        (3, [1.0, 2.0]),  # wrong length
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = srp_bucketize(df, DIM, n_bits=4, n_tables=2).collect()
    sigs = {}
    for r in out:
        sigs.setdefault(r["vec_id"], set()).add(r["sig"])
    assert sigs[2] == {0} and sigs[3] == {0}
    assert len(out) == 6  # every row still produces one row per table


def test_srp_topk_recall(spark, emb, exact):
    # random gaussian-ish embeddings: true top-10 neighbors sit at modest
    # cosine (~0.4), so use few bits + many tables for collision probability
    q = emb.filter(F.col("vec_id") < 10)
    approx = srp_topk(q, emb, DIM, k=10, n_bits=4, n_tables=12).collect()
    r = _recall(approx, exact)
    assert r >= 0.55, f"SRP recall@10 too low: {r}"


def test_ivf_topk_recall(spark, emb, exact):
    cents = ivf_train_centroids(emb, DIM, n_cells=8, iters=4)
    assigned = ivf_assign(emb, cents)
    # every vector lands in exactly one cell
    assert assigned.count() == emb.count()
    n_cells_used = assigned.select("cell").distinct().count()
    assert n_cells_used > 1
    q = emb.filter(F.col("vec_id") < 10)
    approx = ivf_topk(q, assigned, cents, k=10, n_probe=4).collect()
    r = _recall(approx, exact)
    assert r >= 0.5, f"IVF recall@10 too low: {r}"


def test_ivf_static_codebook_recall(spark, emb, exact):
    """The SHIPPED catalog entry (ann_topk_ivf) runs the static seeded
    codebook with n_probe=3 of 8 cells; its DuckDB oracle is generated from
    the same codebook, so oracle parity alone cannot catch an ANN-quality
    regression (a degenerate seed, a probe cut, a broken quantizer would
    stay hash-green). This floor pins the entry's actual recall."""
    from kafka_cdc_hudi_spark.operators.similarity import ivf_static_codebook
    from kafka_cdc_hudi_spark.plans.catalog_streaming import _IVF_CELLS, _IVF_PROBE

    cents = ivf_static_codebook(DIM, _IVF_CELLS)
    assigned = ivf_assign(emb, cents)
    occupancy = {r["cell"]: r["n"] for r in assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    assert len(occupancy) > 1, "static codebook degenerate: all vectors in one cell"
    # occupancy balance: no cell may swallow the corpus (a near-degenerate
    # codebook keeps the oracle hash-green but guts the probe pruning that
    # justifies IVF at scale)
    n_total = sum(occupancy.values())
    assert max(occupancy.values()) <= 0.6 * n_total, f"cell imbalance: {occupancy}"
    q = emb.filter(F.col("vec_id") < 10)
    approx = ivf_topk(q, assigned, cents, k=10, n_probe=_IVF_PROBE).collect()
    r = _recall(approx, exact)
    assert r >= 0.3, f"static-codebook IVF recall@10 too low: {r}"


def test_ivf_trained_entry_recall_and_balance(spark, emb, exact):
    """The trained catalog entry (ann_topk_ivf_trained) is hash-oracled
    end-to-end, but hash parity can't catch a QUALITY regression in the
    trainer itself — pin recall (trained should beat the static floor) and
    cell balance on the SQL-sample-trained centroids."""
    from kafka_cdc_hudi_spark.operators.similarity import ivf_train_sql_sample
    from kafka_cdc_hudi_spark.plans.catalog_streaming import _IVF_CELLS, _IVF_PROBE

    cents = ivf_train_sql_sample(emb, n_cells=_IVF_CELLS, iters=5)
    assigned = ivf_assign(emb, cents)
    occupancy = {r["cell"]: r["n"] for r in assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    n_total = sum(occupancy.values())
    assert len(occupancy) > 1 and max(occupancy.values()) <= 0.6 * n_total
    q = emb.filter(F.col("vec_id") < 10)
    approx = ivf_topk(q, assigned, cents, k=10, n_probe=_IVF_PROBE).collect()
    r = _recall(approx, exact)
    assert r >= 0.5, f"trained IVF recall@10 too low: {r}"


def test_ivf_assign_pandas_matches_native(spark, emb):
    from kafka_cdc_hudi_spark.operators.similarity import ivf_assign_pandas

    cents = ivf_train_centroids(emb, DIM, n_cells=8, iters=4)
    native = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, cents).collect()}
    pand = {r["vec_id"]: r["cell"] for r in ivf_assign_pandas(emb, cents).collect()}
    assert native == pand


def test_ivf_assign_arrow_matches_native(spark, emb):
    """The exact-fold Arrow assign (the live corpus path) must produce
    identical cells to the native HOF fold for BOTH the static codebook
    and trained centroids, and null embeddings must stay null cells."""
    from kafka_cdc_hudi_spark.operators.similarity import (
        ivf_assign_arrow,
        ivf_static_codebook,
    )

    for cents in (
        ivf_static_codebook(DIM, 8),
        ivf_train_centroids(emb, DIM, n_cells=8, iters=4),
    ):
        native = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, cents).collect()}
        arw = {r["vec_id"]: r["cell"] for r in ivf_assign_arrow(emb, cents).collect()}
        assert native == arw
    with_null = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(F.col("embedding")),
    )
    rows = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign_arrow(with_null, ivf_static_codebook(DIM, 8)).collect()
    }
    assert rows[0] is None
    assert all(v is not None for k, v in rows.items() if k != 0)


def test_ivf_assign_pandas_null_embedding(spark, emb):
    from pyspark.sql import functions as F
    from kafka_cdc_hudi_spark.operators.similarity import ivf_assign_pandas

    cents = ivf_train_centroids(emb, DIM, n_cells=4, iters=2)
    with_null = emb.withColumn(
        "embedding", F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(F.col("embedding"))
    )
    rows = {r["vec_id"]: r["cell"] for r in ivf_assign_pandas(with_null, cents).collect()}
    assert rows[0] is None
    assert all(v is not None for k, v in rows.items() if k != 0)


def test_dedup_embedding_cosine_candidates_bounded(spark, emb):
    """The SRP-blocked near-dup pass must generate far fewer candidate
    pairs than all-pairs, and per-bucket work must be bounded: bucket
    sizes split ~16 ways per 4-bit table, so the largest bucket stays a
    small fraction of the corpus (the scale guarantee the old unbounded
    label-block version lacked)."""
    from kafka_cdc_hudi_spark.plans.catalog_text import (
        DEDUP_COS_BITS,
        DEDUP_COS_TABLES,
    )

    n = emb.count()
    b = srp_bucketize(emb.select("vec_id", "embedding"), DIM, DEDUP_COS_BITS, DEDUP_COS_TABLES)
    sizes = b.groupBy("tbl", "sig").count().collect()
    max_bucket = max(r["count"] for r in sizes)
    assert max_bucket <= n * 0.45, f"degenerate bucket: {max_bucket}/{n}"

    n_candidates = (
        b.alias("x")
        .join(b.alias("y"), ["tbl", "sig"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select("x.vec_id", "y.vec_id")
        .distinct()
        .count()
    )
    all_pairs = n * (n - 1) / 2
    assert n_candidates < 0.6 * all_pairs, f"{n_candidates} of {all_pairs} pairs examined"


def test_dedup_embedding_cosine_plan_is_equijoin(spark):
    """The candidate join must plan as an equi-join on the bucket keys —
    never a cartesian/broadcast-nested-loop all-pairs."""
    from kafka_cdc_hudi_spark.plans.catalog_text import dedup_embedding_cosine

    plan = dedup_embedding_cosine(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_encode_codes_in_range(spark):
    """Every PQ code is a valid codebook index and the packed word
    reconstructs the per-subspace codes exactly."""
    from kafka_cdc_hudi_spark.operators.similarity import pq_codebooks, pq_encode
    from kafka_cdc_hudi_spark.sources.tables import load_table

    books = pq_codebooks(64, 8, 16)
    enc = pq_encode(load_table(spark, SF_DIR, "embeddings"), books)
    rows = enc.collect()
    assert len(rows) > 0
    for r in rows:
        codes = [r[f"code_{m}"] for m in range(8)]
        assert all(0 <= c < 16 for c in codes)
        assert r.pq_code == sum(c * 16 ** m for m, c in enumerate(codes))


def test_pq_encode_arrow_matches_relational(spark, emb):
    """The Arrow PQ kernel (the live path — the relational unroll fails
    janino's 64 KB whole-stage compile and runs interpreted) must produce
    BIT-IDENTICAL codes and packed words to the relational reference on
    real embeddings, and null embeddings must degrade to null codes the
    same way. The kernel accumulates in the oracle's addition order, so
    this equality is structural, not a lucky argmax."""
    from kafka_cdc_hudi_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_encode_arrow,
    )

    books = pq_codebooks(DIM, 8, 16)
    with_null = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(F.col("embedding")),
    )
    key = lambda r: (tuple(r[f"code_{m}"] for m in range(8)), r["pq_code"])
    rel = {r["vec_id"]: key(r) for r in pq_encode(with_null, books).collect()}
    arw = {r["vec_id"]: key(r) for r in pq_encode_arrow(with_null, books).collect()}
    assert rel == arw
    assert arw[0] == ((None,) * 8, None)


def test_pq_query_tables_arrow_match_relational(spark, emb):
    """The Arrow query-side ADC dot tables feed the returned adc_dot
    doubles, so they must be bit-equal (not just argmax-equal) to the
    relational 16-dot arrays."""
    from kafka_cdc_hudi_spark.operators.similarity import (
        _pq_dots_array_spark,
        _pq_qtables_udf,
        pq_codebooks,
    )

    books = pq_codebooks(DIM, 8, 16)
    q = emb.filter(F.col("vec_id") < 10)
    rel = {
        r["vec_id"]: [tuple(r[f"qd_{m}"]) for m in range(8)]
        for r in q.select(
            "vec_id",
            *[
                F.expr(_pq_dots_array_spark("embedding", m, book)).alias(f"qd_{m}")
                for m, book in enumerate(books)
            ],
        ).collect()
    }
    qt = _pq_qtables_udf(books, DIM)
    arw = {
        r["vec_id"]: [tuple(t) for t in r["_qt"]]
        for r in q.select("vec_id", qt(F.col("embedding")).alias("_qt")).collect()
    }
    assert rel == arw


def test_pq_adc_recall(spark):
    """ADC retrieval quality floor: with static seeded codebooks the 32-bit
    codes must still retrieve far above chance (measured mean recall@10 vs
    exact dot-product truth ~0.18 at sf0.001; chance is 10/499 ~= 0.02).
    Floor at 0.08 — a regression that halves quality turns this red while
    normal jitter cannot."""
    from kafka_cdc_hudi_spark.functions.vectors import dot
    from kafka_cdc_hudi_spark.plans.catalog import FULL_REGISTRY
    from kafka_cdc_hudi_spark.sources.tables import load_table
    from pyspark.sql import Window

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")).filter(
        F.col("qid") < 10
    )
    pairs = e.crossJoin(F.broadcast(q)).filter(F.col("qid") != F.col("vec_id"))
    w = Window.partitionBy("qid").orderBy(
        dot(F.col("qe"), F.col("embedding")).desc(), F.col("vec_id")
    )
    truth = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("qid", "vec_id")
        .collect()
    )
    tmap: dict = {}
    for r in truth:
        tmap.setdefault(r.qid, set()).add(r.vec_id)

    fn, _sql = FULL_REGISTRY["ann_topk_pq_adc"]
    adc: dict = {}
    for r in fn(spark, SF_DIR).collect():
        adc.setdefault(r.qid, set()).add(r.nid)
    recall = sum(len(adc[q] & tmap[q]) for q in tmap) / (10 * len(tmap))
    assert recall >= 0.08, f"PQ ADC mean recall@10 regressed: {recall}"


def test_semdedup_cells_formula():
    """Cluster SIZE, not count, is the fixed point: cells double until the
    mean cluster fits the target, clamped so the broadcast codebook stays
    bounded at any corpus size."""
    from kafka_cdc_hudi_spark.plans.catalog_streaming import semdedup_cells_for

    assert semdedup_cells_for(500) == 8
    assert semdedup_cells_for(2_000) == 32
    assert semdedup_cells_for(20_000) == 256
    assert semdedup_cells_for(10**9) == 256  # clamp: raise it, not the algorithm


def test_semdedup_prunes_nonvacuously_and_consistently(spark):
    """The tau=0.35 calibration must keep the prune decision non-vacuous on
    the near-orthogonal fixture, and every verdict must be internally
    consistent: pruned docs point at a smaller-id clustermate, kept docs at
    the -1 sentinel, exactly one row per document."""
    from kafka_cdc_hudi_spark.plans.catalog_streaming import dedup_semantic_clusters

    rows = dedup_semantic_clusters(spark, SF_DIR).collect()
    n_docs = load_table(spark, SF_DIR, "embeddings").count()
    assert len(rows) == n_docs
    pruned = [r for r in rows if r.keep == 0]
    assert pruned, "semdedup vacuous: tau calibration drifted"
    for r in pruned:
        assert -1 < r.dup_of < r.vec_id
    assert all(r.dup_of == -1 for r in rows if r.keep == 1)


def test_ivfpq_rerank_improves_on_quantized_ranks(spark):
    """Exact re-rank over the C=50 ADC shortlist: (a) results are a subset
    of the shortlist with EXACT cosine deciding rank, so agreement with the
    brute-force truth must be at least the plain IVF-PQ entry's (the re-rank
    can only fix quantization-scrambled ordering, never add error); (b) on
    this fixture it must strictly improve somewhere, or the entry is
    measuring nothing."""
    from kafka_cdc_hudi_spark.plans.catalog import FULL_REGISTRY

    def topk(name):
        out: dict = {}
        for r in FULL_REGISTRY[name][0](spark, SF_DIR).collect():
            out.setdefault(r.qid, set()).add(r.nid)
        return out

    truth = topk("ann_topk_bruteforce")
    plain = topk("ann_topk_ivfpq")
    rerank = topk("ann_topk_ivfpq_rerank")
    assert set(rerank) == set(truth) and all(len(v) == 10 for v in rerank.values())
    hits_plain = sum(len(plain[q] & truth[q]) for q in truth)
    hits_rerank = sum(len(rerank[q] & truth[q]) for q in truth)
    assert hits_rerank >= hits_plain, (hits_rerank, hits_plain)
    assert hits_rerank > hits_plain, (
        "re-rank never beat plain IVF-PQ on this fixture — vacuous"
    )


def test_pca_whiten_whitens_the_sample(spark, emb):
    """On the rows it was trained from, the projection must actually
    whiten: each component has unit variance and pairwise covariances
    vanish (up to float tolerance) — and component variance over the FULL
    corpus is near 1 too (the sample is representative), ordered
    non-degenerately."""
    import numpy as np

    from kafka_cdc_hudi_spark.operators.similarity import (
        PCA_COMPONENTS,
        TRAIN_SAMPLE_BOUND,
        TRAIN_SAMPLE_MOD,
    )
    from kafka_cdc_hudi_spark.plans.catalog_streaming import embedding_pca_whiten

    from .conftest import SF_DIR as _SF

    out = embedding_pca_whiten(spark, _SF)
    pcs = [f"pc{k}" for k in range(PCA_COMPONENTS)]
    sample = out.filter(
        (F.col("vec_id") % TRAIN_SAMPLE_MOD == 0) & (F.col("vec_id") < TRAIN_SAMPLE_BOUND)
    ).select(pcs).toPandas()
    cov = np.cov(sample.to_numpy().T)
    assert np.allclose(np.diag(cov), 1.0, atol=1e-6), np.diag(cov)
    off = cov - np.diag(np.diag(cov))
    assert np.abs(off).max() < 1e-6, np.abs(off).max()
    full = out.select(pcs).toPandas().to_numpy()
    fvar = full.var(axis=0, ddof=1)
    assert ((fvar > 0.5) & (fvar < 2.0)).all(), fvar
