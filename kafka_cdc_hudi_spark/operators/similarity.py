"""Approximate-nearest-neighbor scale paths over embedding columns.

``ann_topk_bruteforce`` (plans/catalog_text.py) is the exact baseline:
O(Q x N) cosine scans. These operators are the sublinear-work variants for
large N — both keep the winning shape at 100 TB: build a compact index
side, broadcast it, and turn all-pairs into an equi-join on bucket keys.

- ``srp_bucketize``: sign-random-projection LSH — L hash tables of b-bit
  signatures from deterministic md5-seeded hyperplanes. Recall is tunable
  via (b, L); candidates are rows sharing any table's signature.
- ``ivf_assign`` / ``ivf_topk``: IVF coarse quantization — kmeans-lite
  centroids (seeded, few iterations, driver-side on a sample), probe the
  ``n_probe`` nearest cells only.

Both are verified against the brute-force baseline by recall@k in tests
(not by the DuckDB oracle: the driver records the weaker rows-only check
for these, which is expected for approximate operators).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from kafka_cdc_hudi_spark.functions.vectors import cosine, dot, l2_norm


def _srp_planes(dim: int, n_bits: int, table: int, seed: str = "srp") -> np.ndarray:
    """Deterministic hyperplanes: md5(seed|table|bit|dim-chunk) -> uniform
    in [-1, 1). Reproducible across sessions with no RNG state."""
    planes = np.empty((n_bits, dim), dtype=np.float64)
    for b in range(n_bits):
        vals = []
        i = 0
        while len(vals) < dim:
            h = hashlib.md5(f"{seed}|{table}|{b}|{i}".encode()).digest()
            for off in range(0, 16, 4):
                vals.append(int.from_bytes(h[off : off + 4], "big") / 2**31 - 1.0)
            i += 1
        planes[b] = vals[:dim]
    return planes


def _srp_sigs_udf(dim: int, n_bits: int, n_tables: int, seed: str = "srp"):
    """All n_tables signatures in one Arrow-batched numpy kernel — the
    dense-linear-algebra path (32 plane dots per row is a matmul, not a
    per-element SQL expression). Accumulation is vectorized over ROWS but
    sequential over DIMENSIONS (``acc += x_j * p_j`` left-to-right), so
    every per-row double is BIT-IDENTICAL to the relational fold and to
    the SQL oracles' positional unnest-sum — the sign bits, buckets, and
    value hashes are unchanged, only the execution engine differs.
    This is one of the two deliberate ArrowEvalPython exemptions in the
    relational catalog (see tests/test_plan_invariants.py)."""
    planes = [_srp_planes(dim, n_bits, t, seed) for t in range(n_tables)]

    @pandas_udf("array<long>")
    def sigs(col: pd.Series) -> pd.Series:
        out = np.zeros((len(col), n_tables), dtype=np.int64)
        # NULL / wrong-length embeddings get all-zero signatures — the
        # same graceful degradation the relational form had (a NULL dot
        # fails every `> 0` sign test), instead of failing the whole job
        # on one corrupt row
        valid = np.array(
            [v is not None and len(v) == dim for v in col], dtype=bool
        )
        if valid.any():
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in col[valid]]
            )
            vout = np.zeros((len(x), n_tables), dtype=np.int64)
            for t, p in enumerate(planes):
                for b in range(n_bits):
                    acc = np.zeros(len(x), dtype=np.float64)
                    for j in range(dim):
                        acc = acc + x[:, j] * p[b][j]  # oracle addition order
                    vout[:, t] |= (acc > 0).astype(np.int64) << b
            out[valid] = vout
        return pd.Series(list(out))

    return sigs


def srp_bucketize(
    df: DataFrame, dim: int, n_bits: int = 12, n_tables: int = 4, col: str = "embedding"
) -> DataFrame:
    """Add (table, signature) bucket rows: one output row per input row per
    table. Downstream: equi-join on (table, sig) for candidates.

    All n_tables signatures are computed in ONE Arrow-batched numpy kernel
    (:func:`_srp_sigs_udf` — bit-identical to the relational fold, see its
    docstring for why Python is the right engine here) and fanned out with
    a single posexplode — a per-table union would recompute the upstream
    lineage once per table (the same anti-pattern the MinHash bands fix)."""
    sigs = _srp_sigs_udf(dim, n_bits, n_tables)
    return (
        df.withColumn("__sigs", sigs(F.col(col)))
        .select("*", F.posexplode("__sigs").alias("tbl", "sig"))
        .drop("__sigs")
    )


def srp_topk(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 10,
    n_bits: int = 12,
    n_tables: int = 4,
    id_col: str = "vec_id",
    col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed top-k: exact cosine only on bucket-colliding pairs."""
    # checkpoint both bucketized sides: this is the LSH INDEX BUILD — the
    # join should probe materialized signatures, not re-derive them, and
    # without the checkpoint the join plan carries the (n_tables * n_bits
    # * dim)-term signature projection TWICE through every optimizer pass
    # (measured: the sf0.01 entry spends multiples of its execution time
    # re-optimizing that tree)
    qb = srp_bucketize(
        queries.select(F.col(id_col).alias("qid"), F.col(col).alias("qe")),
        dim, n_bits, n_tables, "qe",
    ).localCheckpoint(eager=False)
    cb = srp_bucketize(candidates, dim, n_bits, n_tables, col).localCheckpoint(
        eager=False
    )
    # dedup collisions across tables: distinct() here carries the arrays
    # in the key, but the candidate set is bounded by |queries| * tables *
    # bucket-size — query-bounded, not corpus-bounded — and measured A/B
    # (sf0.1: 6.0s distinct vs 7.3s groupBy+first) the wide-key distinct
    # wins at this cardinality. The corpus-bounded self-join variant
    # (dedup_embedding_cosine) takes the opposite trade: see
    # plans/catalog_text.py (groupBy ids, 20.7s -> 12s).
    cand = (
        qb.join(cb, ["tbl", "sig"])
        .filter(F.col("qid") != F.col(id_col))
        .select("qid", "qe", id_col, col)
        .distinct()
    )
    scored = cand.withColumn("cosine", cosine(F.col("qe"), F.col(col)))
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", F.col(id_col).alias("nid"), "cosine", "rank")
    )


# -- IVF ----------------------------------------------------------------------


def ivf_static_codebook(dim: int, n_cells: int = 8, seed: str = "ivf") -> np.ndarray:
    """Deterministic unit-norm codebook from the seeded md5 generator (same
    construction as the SRP hyperplanes). This is the QUERY-TIME contract of
    IVF at scale: the codebook is a build artifact loaded by every executor
    and every query — queries never retrain it — so the catalog entry built
    on this is exactly reproducible in SQL (centroids as literals), while
    data-adapted training (:func:`ivf_train_centroids`) remains the offline
    index-build path with recall-floor coverage in tests/test_similarity.py."""
    cents = _srp_planes(dim, n_cells, table=0, seed=seed)
    return cents / (np.linalg.norm(cents, axis=1, keepdims=True) + 1e-12)


def kmeans_lite(x: np.ndarray, n_cells: int, iters: int) -> np.ndarray:
    """The shared numpy kmeans core: deterministic stride init, cosine
    assignment, mean update, unit-norm output. Bit-identical given the same
    float64 input rows in the same order — which is what lets the trained
    IVF catalog entry carry a FULL SQL oracle (the oracle builder reruns
    THIS function on the same rows read via DuckDB and emits the resulting
    centroids as literals)."""
    n_cells = min(n_cells, len(x))
    cents = x[:: max(1, len(x) // n_cells)][:n_cells].copy()
    for _ in range(iters):
        sims = x @ cents.T / (
            np.linalg.norm(x, axis=1, keepdims=True) * np.linalg.norm(cents, axis=1) + 1e-12
        )
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    # unit-norm: downstream ivf_assign argmaxes a raw dot, and with unit
    # centroids that IS the cosine argmax (no large-norm bias)
    return cents / (np.linalg.norm(cents, axis=1, keepdims=True) + 1e-12)


#: deterministic SQL-expressible training sample: vec_id % MOD == 0 AND
#: vec_id < BOUND. Bounds the driver collect to BOUND/MOD rows regardless of
#: corpus size, prunes at the scan (plain comparisons push down), and is
#: trivially reproducible in any SQL engine — unlike xxhash64 sampling.
TRAIN_SAMPLE_MOD, TRAIN_SAMPLE_BOUND = 4, 8192


def ivf_train_sql_sample(
    df: DataFrame, n_cells: int = 8, iters: int = 5, id_col: str = "vec_id", col: str = "embedding"
) -> np.ndarray:
    """Train kmeans-lite on the deterministic SQL-expressible sample. The
    collect is hard-bounded at TRAIN_SAMPLE_BOUND/TRAIN_SAMPLE_MOD = 2048
    rows; ordering is pinned by the driver-side sort on ``id_col``."""
    pdf = (
        df.filter(
            (F.col(id_col) % TRAIN_SAMPLE_MOD == 0)
            & (F.col(id_col) < TRAIN_SAMPLE_BOUND)
        )
        .select(id_col, col)
        .toPandas()
        .sort_values(id_col)
    )
    x = np.array([np.asarray(v, dtype=np.float64) for v in pdf[col]])
    return kmeans_lite(x, n_cells, iters)


#: principal components kept by the PCA-whitening projection
PCA_COMPONENTS = 8


def pca_whiten_core(x: np.ndarray, n_comp: int = PCA_COMPONENTS):
    """(mean[dim], weights[n_comp, dim], eigvals[n_comp]) of the sample
    matrix — the whitening weights are eigvec/sqrt(eigval), descending by
    eigenvalue, each eigenvector sign-fixed so its largest-|entry|
    component is positive (eigh's sign is otherwise arbitrary, which would
    make the baked oracle literals unstable). Shared by the Spark entry
    and the DuckDB oracle builder so both bake IDENTICAL float64 artifacts
    from the same sample rows (the kmeans_lite pattern)."""
    mu = x.mean(axis=0)
    xc = x - mu
    cov = xc.T @ xc / (len(x) - 1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:n_comp]
    ws, lams = [], []
    for idx in order:
        lam = float(evals[idx])
        assert lam > 0, "degenerate sample: non-positive eigenvalue"
        v = evecs[:, idx].copy()
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        ws.append(v / np.sqrt(lam))
        lams.append(lam)
    return mu, np.array(ws), np.array(lams)


def pca_whiten_train(
    df: DataFrame, id_col: str = "vec_id", col: str = "embedding"
):
    """Train the whitening projection on the deterministic SQL-expressible
    sample (same hard-bounded ≤2048-row collect + driver-side id sort as
    :func:`ivf_train_sql_sample`); apply is a pure literal projection."""
    pdf = (
        df.filter(
            (F.col(id_col) % TRAIN_SAMPLE_MOD == 0)
            & (F.col(id_col) < TRAIN_SAMPLE_BOUND)
        )
        .select(id_col, col)
        .toPandas()
        .sort_values(id_col)
    )
    x = np.array([np.asarray(v, dtype=np.float64) for v in pdf[col]])
    return pca_whiten_core(x)


def ivf_train_centroids(
    df: DataFrame, dim: int, n_cells: int = 16, iters: int = 5, sample: int = 2048, col: str = "embedding"
) -> np.ndarray:
    """Driver-side kmeans-lite on a deterministic sample. At 100 TB you
    train once on a sample and broadcast — the index build must not scan
    (let alone globally SORT) the full corpus, so the sample is taken with
    a deterministic hash filter: ``xxhash64(id) % 4 == 0`` spreads the
    picks across the corpus, ``limit`` caps the scan (CollectLimit stops
    consuming partitions once satisfied), and the driver-side sort of the
    ≤``sample`` collected ids pins the kmeans init order."""
    id_col = df.columns[0]
    pdf = (
        df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(4)) == 0)
        .limit(sample)
        .select(id_col, col)
        .toPandas()
    )
    if len(pdf) < n_cells:  # tiny corpus: the 1-in-4 filter left too few
        pdf = df.limit(sample).select(id_col, col).toPandas()
    rows = pdf.sort_values(id_col)[col].tolist()
    x = np.array([np.asarray(v, dtype=np.float64) for v in rows])
    return kmeans_lite(x, n_cells, iters)


def _centroid_sim_cols(cents: np.ndarray, col: str) -> list[F.Column]:
    sims = []
    for ci, cvec in enumerate(cents):
        plane = F.array(*[F.lit(float(v)) for v in cvec])
        d = F.aggregate(
            F.zip_with(F.col(col), plane, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sims.append(d.alias(f"c{ci}"))
    return sims


def ivf_assign_pandas(df: DataFrame, cents: np.ndarray, col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid cell — vectorized Pandas
    UDF path (one numpy matmul per Arrow batch, centroids broadcast to the
    workers).

    This is the scale path for LARGE codebooks: the native-expression
    variant (:func:`ivf_assign`) compiles n_cells aggregate expressions,
    which is ideal for tens of cells but blows up codegen at hundreds+;
    a (batch x dim) @ (dim x n_cells) matmul is flat in n_cells. Computes
    the same raw-dot argmax as the native variant (same doubles, same
    first-wins tie behavior), so assignments are identical.
    """
    from pyspark.sql.functions import pandas_udf

    bc = df.sparkSession.sparkContext.broadcast(np.asarray(cents, dtype=np.float64))

    @pandas_udf("int")
    def assign(emb: pd.Series) -> pd.Series:
        # null embeddings -> null cell (the native variant's behavior);
        # np.array over a batch mixing vectors and None would raise
        out = pd.array([None] * len(emb), dtype="Int32")
        valid = [i for i, v in enumerate(emb) if v is not None]
        if valid:
            x = np.array([np.asarray(emb.iloc[i], dtype=np.float64) for i in valid])
            cells = (x @ bc.value.T).argmax(axis=1)
            for j, i in enumerate(valid):
                out[i] = int(cells[j])
        return pd.Series(out, dtype="Int32")

    return df.withColumn("cell", assign(F.col(col)))


def ivf_assign_arrow(df: DataFrame, cents: np.ndarray, col: str = "embedding") -> DataFrame:
    """Corpus-side cell assignment through one Arrow kernel with the
    oracle's left-to-right dot accumulation — bit-identical dots to the
    relational :func:`ivf_assign` fold (modulo its ``0.0 +`` seed, which
    can only flip a signed zero) and first-wins argmax, so assignments are
    identical structurally, not just empirically (pinned by
    test_similarity.py::test_ivf_assign_arrow_matches_native).

    Why: the higher-order ``aggregate(zip_with(...))`` sims are interpreted
    PER ELEMENT (r14 measured 2.3 s warm vs 0.6 s for the Arrow kernel on
    the sf0.1 corpus at 8 cells — and that gap is per-row work, so it
    scales with the corpus). Unlike :func:`ivf_assign_pandas` (the
    matmul path for 100+-cell codebooks, where a 6400-op fold would drag),
    this keeps the small-codebook fold exact."""
    dim = int(np.asarray(cents).shape[1])
    books = [np.asarray(cents, dtype=np.float64)]  # one "subspace" = full dim

    @pandas_udf("int")
    def assign(col_s: pd.Series) -> pd.Series:
        out = pd.array([None] * len(col_s), dtype="Int32")
        valid = [i for i, v in enumerate(col_s) if v is not None and len(v) == dim]
        if valid:
            x = np.stack([np.asarray(col_s.iloc[i], dtype=np.float64) for i in valid])
            cells = _pq_dot_tables_np(x, books)[:, 0, :].argmax(axis=1)
            for j, i in enumerate(valid):
                out[i] = int(cells[j])
        return pd.Series(out, dtype="Int32")

    return df.withColumn("cell", assign(F.col(col)))


def ivf_assign(df: DataFrame, cents: np.ndarray, col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid cell (argmax dot).
    Native expressions; centroids are broadcast literals."""
    sims = _centroid_sim_cols(cents, col)
    with_sims = df.select("*", *sims)
    cell = F.expr(
        f"array_position(array({','.join(f'c{i}' for i in range(len(cents)))}), "
        f"array_max(array({','.join(f'c{i}' for i in range(len(cents)))}))) - 1"
    )
    return with_sims.withColumn("cell", cell.cast("int")).drop(
        *[f"c{i}" for i in range(len(cents))]
    )


def ivf_topk(
    queries: DataFrame,
    candidates_assigned: DataFrame,
    cents: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    col: str = "embedding",
) -> DataFrame:
    """Probe the n_probe best cells per query, exact cosine within them."""
    n_cells = len(cents)
    # r14: candidate norms once per corpus ROW, query norms once per query
    # — not once per probed PAIR (same doubles: the division association
    # is unchanged; 3x less interpreted per-candidate fold work)
    candidates_assigned = candidates_assigned.withColumn("_n", l2_norm(col))
    q = queries.select(F.col(id_col).alias("qid"), F.col(col).alias("qe"))
    q = q.withColumn("_qn", l2_norm("qe"))
    q = q.select("*", *_centroid_sim_cols(cents, "qe"))
    sim_arr = F.array(*[F.col(f"c{i}") for i in range(n_cells)])
    # indices of top n_probe centroid sims
    probe = F.slice(
        F.expr(
            "transform(array_sort(zip_with(sequence(0,{n}),array({cols}),(i,s)->struct(s as s,i as i)),"
            "(l,r) -> case when l.s > r.s then -1 when l.s < r.s then 1 "
            "when l.i < r.i then -1 else 1 end), x -> x.i)".format(
                n=n_cells - 1, cols=",".join(f"c{i}" for i in range(n_cells))
            )
        ),
        1,
        n_probe,
    )
    q = q.withColumn("probe_cells", probe).drop(*[f"c{i}" for i in range(n_cells)])
    qx = q.select("qid", "qe", "_qn", F.explode("probe_cells").alias("cell"))
    cand = qx.join(candidates_assigned, "cell").filter(F.col("qid") != F.col(id_col))
    scored = cand.withColumn(
        "cosine", dot(F.col("qe"), F.col(col)) / (F.col("_qn") * F.col("_n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", F.col(id_col).alias("nid"), "cosine", "rank")
    )


# -- product quantization (PQ) ------------------------------------------------
#
# The memory-bound ANN scale path: vectors compress to n_sub small codes
# (here 8 x 4 bits = one 32-bit word instead of 256 float bytes), and query
# scans score candidates by table lookup (ADC — asymmetric distance
# computation) instead of touching raw vectors. Combined with IVF cells this
# is the standard IVF-PQ index; both halves are now first-class here.
# Codebooks are deterministic seeded artifacts (the query-time contract, as
# with ivf_static_codebook), so both catalog entries carry FULL SQL oracles.


def pq_codebooks(dim: int, n_sub: int = 8, k: int = 16, seed: str = "pq") -> list[np.ndarray]:
    """Per-subspace codebooks (k x dim/n_sub each) from the seeded md5
    generator, unit-norm rows: with unit centroids, nearest-by-L2 equals
    argmax-dot, so encoding is a pure dot-product argmax."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    ds = dim // n_sub
    books = []
    for m in range(n_sub):
        c = _srp_planes(ds, k, table=m, seed=seed)
        books.append(c / (np.linalg.norm(c, axis=1, keepdims=True) + 1e-12))
    return books


def pq_sub_dot(accessor: str, m: int, ds: int, cent: np.ndarray) -> str:
    """Dot of subvector m with one centroid as a POSITIONAL sum expression.
    ``accessor`` is an engine-specific element template (``{i}`` = 1-based
    index). Two portability rules make the float results bit-equal across
    Spark and DuckDB: (1) identical left-to-right term order; (2) centroid
    literals are STRING-cast to double — a bare ``0.513...`` literal parses
    as DECIMAL(19,18) in DuckDB and the decimal->double conversion
    double-rounds the last bit for ~20% of full-precision doubles (the
    dyadic md5-generator centroids of the SRP/IVF oracles never hit this;
    unit-normalized PQ centroids do)."""
    return (
        "("
        + " + ".join(
            f"CAST({accessor.format(i=m * ds + j + 1)} AS DOUBLE)"
            f" * CAST('{float(cent[j])!r}' AS DOUBLE)"
            for j in range(ds)
        )
        + ")"
    )


def _pq_dots_array_spark(col: str, m: int, book: np.ndarray) -> str:
    acc = f"element_at({col}, {{i}})"
    ds = book.shape[1]
    return "array(" + ",".join(pq_sub_dot(acc, m, ds, c) for c in book) + ")"


def _pq_dot_tables_np(x: np.ndarray, books: list[np.ndarray]) -> np.ndarray:
    """(n, dim) -> (n, n_sub, k) per-subspace dot tables, accumulated
    vectorized over ROWS but strictly left-to-right over DIMENSIONS — the
    same ``(t0 + t1 + ...)`` association the relational unroll and the
    DuckDB oracles use, so every double is bit-identical (the
    :func:`_srp_sigs_udf` rule). No matmul/np.sum: BLAS pairwise
    summation would reassociate the adds."""
    n_sub = len(books)
    k, ds = books[0].shape
    out = np.empty((len(x), n_sub, k), dtype=np.float64)
    for m, book in enumerate(books):
        sub = x[:, m * ds : (m + 1) * ds]
        for c in range(k):
            acc = sub[:, 0] * book[c, 0]
            for j in range(1, ds):
                acc = acc + sub[:, j] * book[c, j]  # oracle addition order
            out[:, m, c] = acc
    return out


def _pq_codes_udf(books: list[np.ndarray], dim: int):
    """All n_sub PQ codes in one Arrow-batched numpy kernel.

    The relational encode is 1024 literal multiply terms in one projection;
    whole-stage codegen fuses the two-step select back into a single
    ``processNext()`` that FAILS janino's 64 KB method limit ("Code grows
    beyond 64 KB" — measured on every pq entry), so each execution paid a
    multi-second failed compile and then ran interpreted. Same cure as the
    SRP signatures: dense linear algebra belongs in a vectorized kernel.
    Argmax is first-wins on exact float ties — identical to
    ``array_position(d, array_max(d))``; dots use the oracle's addition
    order (see :func:`_pq_dot_tables_np`), so the codes are bit-identical
    to the relational path (pinned by test_similarity.py)."""
    n_sub = len(books)

    @pandas_udf("array<int>")
    def codes(col: pd.Series) -> pd.Series:
        out: list = [None] * len(col)
        valid = [i for i, v in enumerate(col) if v is not None and len(v) == dim]
        if valid:
            x = np.stack([np.asarray(col.iloc[i], dtype=np.float64) for i in valid])
            tables = _pq_dot_tables_np(x, books)
            cm = tables.argmax(axis=2).astype(np.int32)  # first-wins, like array_position
            for r, i in enumerate(valid):
                out[i] = [int(cm[r, m]) for m in range(n_sub)]
        return pd.Series(out)

    return codes


def _pq_qtables_udf(books: list[np.ndarray], dim: int):
    """Per-query ADC dot tables (n_sub x k doubles) in one Arrow kernel —
    the query-side twin of :func:`_pq_codes_udf` (the relational table
    projection hits the same 64 KB codegen failure). The doubles feed the
    returned ``adc_dot`` values, so the oracle addition order of
    :func:`_pq_dot_tables_np` is load-bearing here, not just tie-safety."""

    @pandas_udf("array<array<double>>")
    def qtables(col: pd.Series) -> pd.Series:
        out: list = [None] * len(col)
        valid = [i for i, v in enumerate(col) if v is not None and len(v) == dim]
        if valid:
            x = np.stack([np.asarray(col.iloc[i], dtype=np.float64) for i in valid])
            tables = _pq_dot_tables_np(x, books)
            for r, i in enumerate(valid):
                out[i] = [list(tables[r, m]) for m in range(len(books))]
        return pd.Series(out)

    return qtables


def pq_encode(
    df: DataFrame,
    books: list[np.ndarray],
    col: str = "embedding",
    id_col: str = "vec_id",
    keep: tuple = (),
) -> DataFrame:
    """Encode each vector to one code per subspace (argmax dot against the
    subspace codebook; first-wins on exact float ties, same in both
    engines) plus the packed single-long code. Pure projection — zero
    shuffle, scan-parallel at any corpus size. ``keep`` carries extra
    columns through (e.g. the IVF cell for a combined IVF-PQ index)."""
    k = len(books[0])
    # two-step select: the dots arrays materialize as named columns, then
    # the argmax references each TWICE — CollapseProject keeps the stages
    # separate for multiply-referenced non-cheap outputs, so the dot
    # arithmetic is computed once and neither projection outgrows janino's
    # 64 KB codegen method limit
    dots = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        *[
            F.expr(_pq_dots_array_spark(col, m, book)).alias(f"_d_{m}")
            for m, book in enumerate(books)
        ],
    )
    out = dots.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        *[
            F.expr(
                f"CAST(array_position(_d_{m}, array_max(_d_{m})) - 1 AS INT)"
            ).alias(f"code_{m}")
            for m in range(len(books))
        ],
    )
    packed = " + ".join(f"CAST(code_{m} AS BIGINT) * {k ** m}" for m in range(len(books)))
    return out.withColumn("pq_code", F.expr(f"({packed})"))


def pq_encode_arrow(
    df: DataFrame,
    books: list[np.ndarray],
    col: str = "embedding",
    id_col: str = "vec_id",
    keep: tuple = (),
) -> DataFrame:
    """:func:`pq_encode` computed through the Arrow kernel
    (:func:`_pq_codes_udf`) — bit-identical codes and packed code, without
    the relational form's guaranteed-failing 64 KB whole-stage compile.
    Same output schema; still zero-shuffle scan-parallel. The relational
    :func:`pq_encode` stays as the reference implementation the
    equivalence test pins this against."""
    n_sub = len(books)
    k = len(books[0])
    ds = books[0].shape[1]
    codes = _pq_codes_udf(books, n_sub * ds)
    enc = df.select(
        F.col(id_col), *[F.col(c) for c in keep], codes(F.col(col)).alias("_codes")
    )
    out = enc.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        *[F.element_at("_codes", m + 1).alias(f"code_{m}") for m in range(n_sub)],
    )
    packed = " + ".join(f"CAST(code_{m} AS BIGINT) * {k ** m}" for m in range(n_sub))
    return out.withColumn("pq_code", F.expr(f"({packed})"))


def pq_adc_topk(
    queries: DataFrame,
    encoded: DataFrame,
    books: list[np.ndarray],
    k: int = 10,
    id_col: str = "vec_id",
    col: str = "embedding",
) -> DataFrame:
    """ADC scan: each query precomputes one k-entry dot table per subspace
    (native expressions over broadcast literals); every candidate's
    approximate inner product is then n_sub table lookups on its codes —
    the raw vectors are never touched. Queries broadcast; the scan is
    embarrassingly parallel; top-k via one WindowGroupLimit-prunable
    window."""
    qt = _pq_qtables_udf(books, len(books) * books[0].shape[1])
    q = queries.select(F.col(id_col).alias("qid"), qt(F.col(col)).alias("_qt"))
    q = q.select(
        "qid",
        *[F.element_at("_qt", m + 1).alias(f"qd_{m}") for m in range(len(books))],
    )
    # materialize the (tiny) per-query dot tables: computed ONCE per query
    # (the whole point of ADC), and the checkpoint keeps the ArrowEvalPython
    # stage out of the corpus-scan plan entirely
    q = q.localCheckpoint(eager=True)
    joined = encoded.crossJoin(F.broadcast(q)).filter(F.col("qid") != F.col(id_col))
    approx = " + ".join(f"element_at(qd_{m}, code_{m} + 1)" for m in range(len(books)))
    scored = joined.withColumn("adc_dot", F.expr(f"({approx})"))
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("adc_dot").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", F.col(id_col).alias("nid"), "adc_dot", "rank")
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    cents: np.ndarray,
    books: list[np.ndarray],
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the full two-level ANN index — IVF cells prune the scan to
    n_probe cells per query, PQ/ADC scores the survivors by table lookup.
    The stored index is (cell, codes) only: 4 bytes + a cell id per vector,
    raw vectors touched ONLY at build time. At scale the index build (one
    assignment+encode scan) is a batch artifact; each query batch shuffles
    nothing but its probed cell ids (the index side is pre-partitioned by
    cell)."""
    index = pq_encode_arrow(
        ivf_assign_arrow(corpus, cents), books, col=col, id_col=id_col, keep=("cell",)
    )
    n_cells = len(cents)
    q = queries.select(F.col(id_col).alias("qid"), F.col(col).alias("qe"))
    q = q.select("qid", "qe", *_centroid_sim_cols(cents, "qe"))
    probe = F.slice(
        F.expr(
            "transform(array_sort(zip_with(sequence(0,{n}),array({cols}),(i,s)->struct(s as s,i as i)),"
            "(l,r) -> case when l.s > r.s then -1 when l.s < r.s then 1 "
            "when l.i < r.i then -1 else 1 end), x -> x.i)".format(
                n=n_cells - 1, cols=",".join(f"c{i}" for i in range(n_cells))
            )
        ),
        1,
        n_probe,
    )
    q = q.withColumn("probe_cells", probe).drop(*[f"c{i}" for i in range(n_cells)])
    qt = _pq_qtables_udf(books, len(books) * books[0].shape[1])
    q = q.select("qid", "probe_cells", qt(F.col("qe")).alias("_qt"))
    q = q.select(
        "qid",
        "probe_cells",
        *[F.element_at("_qt", m + 1).alias(f"qd_{m}") for m in range(len(books))],
    )
    # same rationale as pq_adc_topk: tiny per-query artifact, computed once
    q = q.localCheckpoint(eager=True)
    qx = q.select(
        "qid", *[f"qd_{m}" for m in range(len(books))], F.explode("probe_cells").alias("cell")
    )
    cand = qx.join(index, "cell").filter(F.col("qid") != F.col(id_col))
    approx = " + ".join(f"element_at(qd_{m}, code_{m} + 1)" for m in range(len(books)))
    scored = cand.withColumn("adc_dot", F.expr(f"({approx})"))
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("adc_dot").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", F.col(id_col).alias("nid"), "adc_dot", "rank")
    )
