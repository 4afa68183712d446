"""Realistic-churn soak for the CDC pair-set IVM (VERDICT r8 item 4).

The registry entry's fixture feeds thirds-of-corpus batches; the 100-TB
claim is "per-batch cost tracks CHURN, not corpus size". This soak runs
``DedupPairMaintainer`` over a full-corpus ingest followed by N batches of
small mixed churn (inserts that copy live texts -> new near-dup pairs,
updates that either clone another doc or scramble -> pairs appear AND
retract, deletes -> retractions), recording per-batch wall time vs
changed-doc count, and asserts the IVM invariant (live_pairs == full LSH
recompute of the live corpus) at checkpoints. The maintainer keeps its
signature index and pair set as two MOR keyed tables under one temp root
(``index/`` and ``pairs/``), so the walls include their compactions
(every 8th commit).

Run it at two corpus sizes with the SAME absolute churn to read the
flat-in-corpus-size table:

    python scripts/soak_churn.py /root/testdata/sf0.1 out_sf01.json
    python scripts/soak_churn.py /root/repo/.scaledata/sf1 out_sf1.json

Defaults: 24 churn batches of ~250 docs (0.5% of the sf1 corpus), seeded
RNG, checkpoints at batches 8/16/24 (``SOAK_BATCHES`` / ``SOAK_CHURN`` /
``SOAK_CHECK_EVERY``, see ``soak_harness``).
"""

from __future__ import annotations

import itertools
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import soak_harness as h  # noqa: E402  (puts the repo root on sys.path)

from kafka_cdc_hudi_spark.plans.catalog_text import minhash_signatures_for  # noqa: E402
from kafka_cdc_hudi_spark.streaming.dedup_ivm import (  # noqa: E402
    DedupPairMaintainer,
    _pairs_between,
)

CHURN_DOCS = h.churn_size(250)
SCHEMA = "op STRING, doc_id BIGINT, text STRING, seq BIGINT"


def _truth_pairs(spark, live: dict[int, str]) -> set:
    docs = spark.createDataFrame(
        sorted(live.items()), "doc_id BIGINT, text STRING"
    ).repartition(spark.sparkContext.defaultParallelism)
    sig = minhash_signatures_for(docs).localCheckpoint(eager=False)
    return {(r.doc_a, r.doc_b) for r in _pairs_between(sig, sig).collect()}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scaledata/sf1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    run = h.start("soak_churn")
    spark = run.spark

    rng = random.Random(h.SEED)
    live = h.documents(spark, sf_dir)
    n0 = len(live)
    m = DedupPairMaintainer(spark, f"{run.work}/index", f"{run.work}/pairs")
    seq = itertools.count()
    # batch 0: full-corpus ingest (the one corpus-sized batch, by design)
    ingest = spark.createDataFrame([("i", d, t, next(seq)) for d, t in live.items()], SCHEMA)

    def rewrite(d: int, ids: list[int], s: int) -> str:
        if rng.random() < 0.5:
            # clone another live doc (+suffix) -> near-dup pair appears
            return live[rng.choice(ids)] + f" churn{s}"
        # scramble -> prior pairs retract
        words = (live[d] or "x").split()
        rng.shuffle(words)
        return " ".join(words[: max(3, len(words) // 2)]) + f" upd{s}"

    def check():
        got = {(r.doc_a, r.doc_b) for r in m.live_pairs().collect()}
        want = _truth_pairs(spark, live)
        if got != want:
            print(f"# MISMATCH: +{len(got - want)} -{len(want - got)}", file=sys.stderr)
        return len(got), got == want

    summary = h.churn_loop(
        spark, [m.index, m.pairs], m.process, ingest,
        h.mixed_churn(
            rng, live, CHURN_DOCS, seq,
            update=rewrite, insert=lambda ids, s: live[rng.choice(ids)] + f" ins{s}",
        ),
        SCHEMA, check, "n_pairs",
    )
    artifact = {"sf_dir": sf_dir, "corpus_docs": n0, "churn_docs_per_batch": CHURN_DOCS, **summary}
    h.finish(run, artifact, summary["all_checks_match"], out_path)


if __name__ == "__main__":
    main()
