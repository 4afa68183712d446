"""Schema drift UNDER SCALE (VERDICT r12 item 4): 10M Debezium events
through the full driver with a producer shape change mid-stream.

The drift probe (`streaming/driver.py::_drifted`) and union-by-name schema
merge were only ever exercised at unit/streaming-test scale; every 10M
soak ran a drift-free envelope. This soak feeds 5 time-ordered ~2M-event
batches where, at the batch-3 boundary, the payload ADDS a `score` column
and DROPS `props` — the driver must (a) detect the new key with the
bounded probe, (b) re-infer + merge schemas exactly once, (c) null-fill
`props` for post-drift rows and `score` for pre-drift rows, and (d) stay
oracle-exact on the FINAL state including both drifted columns.

Artifact: per-batch wall split (the drift batch absorbs the one-time
re-inference), final-state oracle verdict over (user_id, event_id, score,
props-null), calib-stamped.

Usage: python scripts/soak_drift.py [out.json]
"""

from __future__ import annotations

import datetime
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import soak_harness as h  # noqa: E402  (puts the repo root on sys.path)

from pyspark.sql import functions as F  # noqa: E402

from kafka_cdc_hudi_spark.config import TableSpec  # noqa: E402
from kafka_cdc_hudi_spark.plans.cdc_fixtures import (  # noqa: E402
    drift_segmented_debezium_envelopes,
)
from kafka_cdc_hudi_spark.sources.tables import load_table  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scaledata/sf10"))
N_BATCHES = 5
#: drift lands exactly at the batch-3 boundary: batches are equal-count
#: time slices, so the cut is the 2/5 timestamp quantile
DRIFT_BATCH = 2  # 0-based index of the first drifted batch


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    run = h.start("soak_drift", shuffle_partitions=32)
    spark = run.spark

    events = load_table(spark, SF, "events")
    # equal-count time slices -> batch boundaries at ts quantiles
    epochs = events.selectExpr("unix_micros(ts) AS e")
    cuts = epochs.stat.approxQuantile("e", [i / N_BATCHES for i in range(1, N_BATCHES)], 0.0001)
    cuts_sql = [int(c) for c in cuts]
    ts_cut_micros = cuts_sql[DRIFT_BATCH - 1]  # boundary entering batch DRIFT_BATCH
    # fromtimestamp(tz=utc) — utcfromtimestamp is deprecated since 3.12
    ts_cut = datetime.datetime.fromtimestamp(
        ts_cut_micros / 1e6, tz=datetime.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S.%f")
    print(f"# drift cut at {ts_cut} (batch {DRIFT_BATCH})", file=sys.stderr)

    env = drift_segmented_debezium_envelopes(events, ts_cut)
    n_events = env.count()
    # stage the N time-ordered batch files
    bounds = [None, *cuts_sql, None]
    seg_files = []
    for i in range(N_BATCHES):
        seg = env
        if bounds[i] is not None:
            seg = seg.filter(F.unix_micros("ts") >= bounds[i])
        if bounds[i + 1] is not None:
            seg = seg.filter(F.unix_micros("ts") < bounds[i + 1])
        d = os.path.join(run.work, f"seg{i}")
        seg.select("value").repartition(1).write.mode("overwrite").text(d)
        seg_files += h.part_files(d)

    spec = TableSpec(db="test_db", table="events", primary_keys=("user_id",))
    driver, timing = h.drive(spark, os.path.join(run.work, "drive"), [spec], seg_files)
    state = driver.sink_for(spec).read(spark)
    cols = state.columns
    got = set()
    if {"score", "props"} <= set(cols):
        got = {
            (r["user_id"], r["event_id"], r["score"], r["props"] is None)
            for r in state.select("user_id", "event_id", "score", "props").collect()
        }
    else:
        print(f"# merged schema missing drift columns: {cols}", file=sys.stderr)
    drifted = f"ts >= TIMESTAMP '{ts_cut}'"
    want = h.events_oracle(
        SF, f"user_id, event_id, CASE WHEN {drifted} THEN user_id + 1000 END, {drifted}"
    )
    oracle = "exact" if got == want else "MISMATCH"
    print(f"# state {len(got)} rows vs oracle {len(want)}: {oracle}"
          f" ({len(got - want)} extra / {len(want - got)} missing)", file=sys.stderr)

    wall = timing["total_wall_sec"]
    artifact = {
        "what": "schema drift at production batch size: 10M events, drift at batch boundary "
        f"{DRIFT_BATCH} (score added, props dropped), bounded probe + union-by-name merge",
        "sf_dir": SF,
        "n_events": n_events,
        "n_batches": N_BATCHES,
        "drift_batch": DRIFT_BATCH,
        "ts_cut": ts_cut,
        "batch_wall_sec": timing["batch_wall_sec"],
        "total_wall_sec": wall,
        "ev_per_sec": round(n_events / wall, 1),
        "n_state_rows": len(got),
        "oracle": oracle,
        "final_columns": cols,
    }
    h.finish(run, artifact, oracle == "exact", out_path)


if __name__ == "__main__":
    main()
