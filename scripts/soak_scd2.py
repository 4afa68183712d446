"""Realistic-churn soak for the incremental SCD2 maintainer (r9 scale
cadence for the round's born family, streaming/scd2.py).

The claim under test is the same one the pair-IVM soak pins: per-batch
cost tracks CHURN (affected keys' history rows), not corpus size. The history
table runs in MOR layout — churn spread uniformly across the key space
touches every bucket of a bucketed layout, so delta commits + read-time
fold is the honest scale shape for this access pattern; the affected-key
reads stay scan-pruned because ``read_where_keys`` pushes the key
predicate BELOW the MOR fold.

Script: full-corpus ingest of the events table as a user-profile change
log (every event is a version change for its user), then N batches of
fixed-absolute churn — each batch touches CHURN_USERS random users with
one new change event: 70% in-order updates, 15% LATE events (timestamp
strictly inside the user's existing range — exercises the interval-split
rebuild), 15% delete tombstones. At checkpoints the maintained history
must equal ``scd2_history`` recomputed over every event the soak fed
(count + row checksum, both engines Spark so the comparison is exact) —
an oracle that does not read the maintainer's storage.

Run at two corpus sizes with the SAME absolute churn:

    python scripts/soak_scd2.py /root/testdata/sf0.1 out_sf01.json
    python scripts/soak_scd2.py /root/repo/.scaledata/sf1 out_sf1.json

Defaults: 24 churn batches of 200 users, checkpoints every 8 batches
(``SOAK_BATCHES`` / ``SOAK_CHURN`` / ``SOAK_CHECK_EVERY``, see
``soak_harness``).
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import soak_harness as h  # noqa: E402  (puts the repo root on sys.path)

from pyspark.sql import functions as F  # noqa: E402

from kafka_cdc_hudi_spark.operators.temporal import scd2_history  # noqa: E402
from kafka_cdc_hudi_spark.sources.tables import load_table  # noqa: E402
from kafka_cdc_hudi_spark.streaming.scd2 import Scd2HistoryMaintainer  # noqa: E402

CHURN_USERS = h.churn_size(200)
SCHEMA = "user_id BIGINT, mtime BIGINT, event_id BIGINT, val STRING, _deleted BOOLEAN"
HASH_COLS = ["user_id", "mtime", "event_id", "val", "valid_from", "valid_to", "is_current"]


def _checksum(df):
    """(row count, order-independent checksum) over HASH_COLS."""
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.pmod(F.xxhash64(*[F.col(c) for c in HASH_COLS]), F.lit(1_000_000_007))
        ).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    run = h.start("soak_scd2")
    spark = run.spark

    rng = random.Random(h.SEED)
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            (F.unix_micros(F.col("ts"))).alias("mtime"),
            "event_id",
            F.col("event_type").alias("val"),
        )
        .withColumn("_deleted", F.lit(False))
    )
    n0 = ev.count()
    # per-user ts range for late-event synthesis: one row per USER
    # (bounded by key cardinality, not corpus rows — a soak-script-only
    # collect, the engine never does this)
    spans = {
        int(r["user_id"]): (int(r["lo"]), int(r["hi"]))
        for r in ev.groupBy("user_id")
        .agg(F.min("mtime").alias("lo"), F.max("mtime").alias("hi"))
        .collect()
    }
    live_users = sorted(spans)
    now = max(hi for _, hi in spans.values()) + 1_000_000
    next_eid = 10_000_000_000

    m = Scd2HistoryMaintainer(
        root=run.work,
        keys=["user_id"],
        ts_col="mtime",
        tiebreakers=["event_id"],
        history_mode="mor",
        history_compact_every=8,
    )
    fed = []  # every churn row so far: the recompute's input beside ``ev``

    def next_batch(bid: int) -> list[tuple]:
        nonlocal now, next_eid
        rows = []
        for u in rng.sample(live_users, min(CHURN_USERS, len(live_users))):
            lo, hi = spans[u]
            r = rng.random()
            now += 1000
            next_eid += 1
            if r < 0.70 or lo >= hi - 2:
                rows.append((u, now, next_eid, f"upd{next_eid}", False))
                spans[u] = (lo, max(hi, now))
            elif r < 0.85:
                # LATE event strictly inside the existing interval chain
                late = rng.randrange(lo + 1, hi)
                rows.append((u, late, next_eid, f"late{next_eid}", False))
            else:
                rows.append((u, now, next_eid, None, True))
                spans[u] = (lo, max(hi, now))
        fed.extend(rows)
        return rows

    def check():
        got = _checksum(m.read(spark))
        want = _checksum(
            scd2_history(
                ev.unionByName(spark.createDataFrame(fed, SCHEMA)),
                ["user_id"], "mtime", tiebreakers=["event_id"],
            )
        )
        if got != want:
            print(f"# MISMATCH: got={got} want={want}", file=sys.stderr)
        return got[0], got == want

    summary = h.churn_loop(
        spark, [m.history], lambda df, bid: m.apply_batch(spark, df, batch_id=bid), ev,
        next_batch, SCHEMA, check, "history_rows",
    )
    artifact = {
        "sf_dir": sf_dir,
        "corpus_events": n0,
        "n_users": len(live_users),
        "churn_users_per_batch": CHURN_USERS,
        "history_mode": "mor",
        **summary,
    }
    h.finish(run, artifact, summary["all_checks_match"], out_path)


if __name__ == "__main__":
    main()
