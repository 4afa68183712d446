"""Realistic-churn soak for the maintained BM25 inverted index
(streaming/bm25_ivm.py).

Same invariant shape as the ANN / pair-IVM / SCD2 soaks: full-corpus
ingest of the documents table, then N batches of fixed-absolute churn
(20% deletes, 20% inserts cloning live texts, 60% rewrites that splice
two live documents' halves — postings retract AND re-insert, df/avgdl
move), recording per-batch wall time split by compaction. At checkpoints,
BM25 top-k from the MAINTAINED index must exactly equal a from-scratch
build over the live corpus.

Run at two corpus sizes with the SAME absolute churn:

    python scripts/soak_bm25.py /root/testdata/sf0.1 out_sf01.json
    python scripts/soak_bm25.py /root/repo/.scaledata/sf1 out_sf1.json

Defaults: 24 churn batches of 100 docs, checkpoints every 8 batches
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

from kafka_cdc_hudi_spark.streaming.bm25_ivm import Bm25IndexMaintainer  # noqa: E402

CHURN_DOCS = h.churn_size(100)
K, N_QUERIES = 10, 8
SCHEMA = "op STRING, doc_id BIGINT, text STRING, seq BIGINT"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    run = h.start("soak_bm25")
    spark = run.spark

    rng = random.Random(h.SEED)
    live = h.documents(spark, sf_dir)
    n0 = len(live)
    queries = h.bm25_queries(spark, live, N_QUERIES)
    m = Bm25IndexMaintainer(root=run.work)
    seq = itertools.count(1)
    ingest = spark.createDataFrame([("i", i, t, next(seq)) for i, t in sorted(live.items())], SCHEMA)

    summary = h.churn_loop(
        spark, [m.postings, m.doclens], lambda df, bid: m.process(spark, df, batch_id=bid), ingest,
        h.mixed_churn(
            rng, live, CHURN_DOCS, seq,
            update=lambda i, ids, s: h.splice(live[i], live[rng.choice(ids)]),
            insert=lambda ids, s: live[rng.choice(ids)],
        ),
        SCHEMA, lambda: h.bm25_check(spark, m, queries, live, K), "n_results",
    )
    artifact = {"sf_dir": sf_dir, "corpus_docs": n0, "churn_docs_per_batch": CHURN_DOCS, **summary}
    h.finish(run, artifact, summary["all_checks_match"], out_path)


if __name__ == "__main__":
    main()
