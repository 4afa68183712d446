"""Realistic-churn soak for the maintained ANN index (streaming/ann_ivm.py).

Same invariant shape as the pair-IVM and SCD2 soaks: full-corpus ingest of
the embeddings table, then N batches of fixed-absolute churn (20% deletes,
20% inserts of perturbed copies of live vectors, 60% re-embeddings —
updates that move vectors between cells), recording per-batch wall time.
At checkpoints, top-k results from the MAINTAINED index must exactly equal
rebuilding the static IVF index over the live corpus.

Run at two corpus sizes with the SAME absolute churn:

    python scripts/soak_ann.py /root/testdata/sf0.1 out_sf01.json
    python scripts/soak_ann.py /root/repo/.scaledata/sf1 out_sf1.json

Defaults: 24 churn batches of 100 vectors, checkpoints every 8 batches
(``SOAK_BATCHES`` / ``SOAK_CHURN`` / ``SOAK_CHECK_EVERY``, see
``soak_harness``).
"""

from __future__ import annotations

import itertools
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import soak_harness as h  # noqa: E402  (puts the repo root on sys.path)

import numpy as np  # noqa: E402

from kafka_cdc_hudi_spark.operators.similarity import (  # noqa: E402
    ivf_assign,
    ivf_static_codebook,
    ivf_topk,
)
from kafka_cdc_hudi_spark.sources.tables import load_table  # noqa: E402
from kafka_cdc_hudi_spark.streaming.ann_ivm import AnnIndexMaintainer  # noqa: E402

CHURN_VECS = h.churn_size(100)
DIM, CELLS, K, PROBE, N_QUERIES = 64, 8, 10, 3, 16
SCHEMA = "op STRING, vec_id BIGINT, embedding ARRAY<FLOAT>, seq BIGINT"


def _perturb(rng: random.Random, v: list[float], scale: float) -> list[float]:
    r = np.random.RandomState(rng.randrange(2**31))
    out = np.asarray(v) + scale * r.randn(DIM)
    return [float(x) for x in (out / np.linalg.norm(out)).astype(np.float32)]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    run = h.start("soak_ann")
    spark = run.spark

    rng = random.Random(h.SEED)
    cents = ivf_static_codebook(DIM, CELLS)
    live = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    }
    n0 = len(live)
    qr = np.random.RandomState(h.SEED)
    queries = spark.createDataFrame(
        [
            (10_000_000 + j,
             [float(x) for x in (lambda v: v / np.linalg.norm(v))(qr.randn(DIM)).astype(np.float32)])
            for j in range(N_QUERIES)
        ],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    ).localCheckpoint()

    m = AnnIndexMaintainer(root=run.work, cents=cents)
    seq = itertools.count()
    ingest = spark.createDataFrame([("i", i, v, next(seq)) for i, v in sorted(live.items())], SCHEMA)

    def topk_set(df):
        return {(r["qid"], r["nid"], r["rank"]) for r in df.collect()}

    def check():
        got = topk_set(m.topk(spark, queries, k=K, n_probe=PROBE))
        corpus = spark.createDataFrame(sorted(live.items()), "vec_id BIGINT, embedding ARRAY<FLOAT>")
        want = topk_set(ivf_topk(queries, ivf_assign(corpus, cents), cents, k=K, n_probe=PROBE))
        return len(got), got == want

    summary = h.churn_loop(
        spark, [m.table], lambda df, bid: m.process(spark, df, batch_id=bid), ingest,
        h.mixed_churn(
            rng, live, CHURN_VECS, seq,
            update=lambda i, ids, s: _perturb(rng, live[rng.choice(ids)], scale=0.5),
            insert=lambda ids, s: _perturb(rng, live[rng.choice(ids)], scale=0.05),
        ),
        SCHEMA, check, "n_results",
    )
    artifact = {"sf_dir": sf_dir, "corpus_vectors": n0, "churn_vecs_per_batch": CHURN_VECS, **summary}
    h.finish(run, artifact, summary["all_checks_match"], out_path)


if __name__ == "__main__":
    main()
