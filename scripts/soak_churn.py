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
RNG, checkpoints at batches 8/16/24.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# calib_gate lives next to this script; the repo-root insert above doesn't
# cover `python -m scripts.foo`-style invocation (ADVICE r10)
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from kafka_cdc_hudi_spark.session import get_spark  # noqa: E402
from kafka_cdc_hudi_spark.sources.tables import load_table  # noqa: E402
from kafka_cdc_hudi_spark.streaming.dedup_ivm import DedupPairMaintainer  # noqa: E402
from calib_gate import end_calib, gated_calib  # noqa: E402

N_BATCHES = int(os.environ.get("SOAK_CHURN_BATCHES", "24"))
CHURN_DOCS = int(os.environ.get("SOAK_CHURN_DOCS", "250"))
CHECK_EVERY = int(os.environ.get("SOAK_CHURN_CHECK_EVERY", "8"))
SEED = 20260815


def _truth_pairs(spark, live: dict[int, str]) -> set:
    from kafka_cdc_hudi_spark.plans.catalog_text import minhash_signatures_for
    from kafka_cdc_hudi_spark.streaming.dedup_ivm import _pairs_between

    docs = spark.createDataFrame(
        sorted(live.items()), "doc_id BIGINT, text STRING"
    ).repartition(spark.sparkContext.defaultParallelism)
    sig = minhash_signatures_for(docs).localCheckpoint(eager=False)
    return {(r.doc_a, r.doc_b) for r in _pairs_between(sig, sig).collect()}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scaledata/sf1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    import tempfile

    spark = get_spark(app_name="soak_churn")
    spark.sparkContext.setLogLevel("ERROR")
    # ambient-load gate (VERDICT r9 item 5), same stamp as bench/sweep
    stamp = gated_calib(spark)

    rng = random.Random(SEED)

    live = {
        int(r.doc_id): r.text
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    n0 = len(live)
    next_id = max(live) + 1
    seq = 0
    root = tempfile.mkdtemp(prefix="soak_churn_")
    m = DedupPairMaintainer(spark, f"{root}/index", f"{root}/pairs")

    def run_batch(bid: int, rows: list) -> float:
        df = spark.createDataFrame(
            rows, "op STRING, doc_id BIGINT, text STRING, seq BIGINT"
        )
        t0 = time.perf_counter()
        m.process(df, bid)
        return round(time.perf_counter() - t0, 2)

    # batch 0: full-corpus ingest (the one corpus-sized batch, by design)
    rows0 = []
    for d, t in live.items():
        rows0.append(("i", d, t, seq))
        seq += 1
    t_ingest = run_batch(0, rows0)
    print(f"# ingest: {n0} docs in {t_ingest}s", file=sys.stderr)

    batches, checks = [], []
    for bid in range(1, N_BATCHES + 1):
        rows = []
        live_ids = sorted(live)
        n_del = max(1, CHURN_DOCS // 5)
        n_ins = max(1, CHURN_DOCS // 5)
        n_upd = CHURN_DOCS - n_del - n_ins
        for d in rng.sample(live_ids, n_del):
            rows.append(("d", d, None, seq)); seq += 1
            del live[d]
        live_ids = sorted(live)
        for d in rng.sample(live_ids, n_upd):
            if rng.random() < 0.5:
                # clone another live doc (+suffix) -> near-dup pair appears
                t = live[rng.choice(live_ids)] + f" churn{seq}"
            else:
                # scramble -> prior pairs retract
                words = (live[d] or "x").split()
                rng.shuffle(words)
                t = " ".join(words[: max(3, len(words) // 2)]) + f" upd{seq}"
            rows.append(("u", d, t, seq)); seq += 1
            live[d] = t
        for _ in range(n_ins):
            t = live[rng.choice(live_ids)] + f" ins{seq}"
            rows.append(("i", next_id, t, seq)); seq += 1
            live[next_id] = t
            next_id += 1
        wall = run_batch(bid, rows)
        batches.append({"bid": bid, "n_changed": len(rows), "wall_s": wall})
        print(f"# batch {bid}: {len(rows)} changed docs, {wall}s", file=sys.stderr)
        if bid % CHECK_EVERY == 0 or bid == N_BATCHES:
            t0 = time.perf_counter()
            got = {(r.doc_a, r.doc_b) for r in m.live_pairs().collect()}
            want = _truth_pairs(spark, live)
            ok = got == want
            checks.append(
                {"bid": bid, "n_pairs": len(got), "match": ok,
                 "check_s": round(time.perf_counter() - t0, 2)}
            )
            print(f"# checkpoint {bid}: {len(got)} pairs, match={ok}", file=sys.stderr)
            if not ok:
                extra, missing = got - want, want - got
                print(f"# MISMATCH: +{len(extra)} -{len(missing)}", file=sys.stderr)

    churn_walls = [b["wall_s"] for b in batches]
    result = {
        "sf_dir": sf_dir,
        "corpus_docs": n0,
        "churn_docs_per_batch": CHURN_DOCS,
        "n_batches": N_BATCHES,
        "ingest_s": t_ingest,
        "churn_wall_mean_s": round(sum(churn_walls) / len(churn_walls), 2),
        "churn_wall_max_s": max(churn_walls),
        "batches": batches,
        "checkpoints": checks,
        "all_checks_match": all(c["match"] for c in checks),
        **end_calib(spark, stamp),
    }
    line = json.dumps(result)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    spark.stop()
    sys.exit(0 if result["all_checks_match"] else 1)


if __name__ == "__main__":
    main()
