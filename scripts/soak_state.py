"""Cross-batch streaming-STATE soak for the windows stack (VERDICT r7
item 6): drive the stateful operators — sliding event-time windows,
the applyInPandasWithState running-stats operator, stream-stream interval
join, and dropDuplicatesWithinWatermark — through 24 micro-batches of
advancing event time and track per-batch state-store rows via
BatchMetricsListener.

The claim under test is BOUNDED state growth: with watermarks advancing,
each operator's state must PLATEAU at its horizon (windows-in-horizon x
keys; one row per key; join buffer = watermark + interval span) instead of
accumulating one entry per window/event ever seen. The soak asserts
  max(state over last 5 batches) <= max(state over warm middle) * tolerance
and that the plateau is far below the unbounded worst case (cumulative
distinct windows x keys).

Usage: python scripts/soak_state.py [out.json]
Writes one JSON line; numbers are recorded in PLANS.md per round.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import soak_harness as h  # noqa: E402  (puts the repo root on sys.path)

from kafka_cdc_hudi_spark.streaming.metrics import attach_metrics  # noqa: E402
from kafka_cdc_hudi_spark.streaming.windows import (  # noqa: E402
    interval_join_streams,
    running_user_stats,
    sliding_counts,
    streaming_dedup,
)

N_BATCHES = 24
USERS = 200
EVENTS_PER_BATCH = 5_000
BASE = "2024-01-01 00:00:00"


def _write_hour_files(spark, src: str) -> None:
    """One JSON file per event-time hour; maxFilesPerTrigger=1 makes each
    file one micro-batch, so event time (and the watermark) advances one
    hour per batch. Deterministic id arithmetic, no RNG."""
    from pyspark.sql import functions as F

    for hour in range(N_BATCHES):
        df = (
            spark.range(EVENTS_PER_BATCH)
            .select(
                (F.col("id") % USERS).alias("user_id"),
                F.to_timestamp(F.lit(BASE)).alias("t0"),
                F.col("id").alias("i"),
            )
            .select(
                "user_id",
                # spread events across the hour, seconds granularity
                (
                    F.col("t0")
                    + F.make_interval(secs=F.lit(hour * 3600) + F.col("i") % 3600)
                ).alias("ts"),
                ((F.col("i") % 97).cast("double") / 10.0).alias("value"),
                F.concat(F.lit("type_"), (F.col("i") % 7).cast("string")).alias(
                    "event_type"
                ),
            )
        )
        df.coalesce(1).write.mode("overwrite").json(os.path.join(src, f"h{hour:02d}"))
    # flatten: the file source wants one directory of files. It takes them
    # in modification-time order, and copies made in one loop can share a
    # timestamp, so stamp them one second apart in hour order
    flat = os.path.join(src, "flat")
    os.makedirs(flat, exist_ok=True)
    n, t0 = 0, time.time()
    for hour in range(N_BATCHES):
        d = os.path.join(src, f"h{hour:02d}")
        for f in sorted(os.listdir(d)):
            if f.endswith(".json"):
                dst = os.path.join(flat, f"b{hour:02d}_{n}.json")
                shutil.copy(os.path.join(d, f), dst)
                os.utime(dst, (t0 + n, t0 + n))
                n += 1


def _stream(spark, flat: str):
    return (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP, value DOUBLE, event_type STRING")
        .option("maxFilesPerTrigger", 1)
        .json(flat)
    )


def _drain(spark, out_df, mode: str, ckpt: str) -> list[dict]:
    listener = attach_metrics(spark)
    q = (
        out_df.writeStream.outputMode(mode)
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(listener)
    return [r for r in listener.progress if r["batch_id"] is not None]


def _summarize(name: str, prog: list[dict], worst_case: int) -> dict:
    series = [r["state_rows"] for r in prog if r["num_input_rows"]]
    warm = series[8:18] or series
    tail = series[-5:]
    rec = {
        "query": name,
        "n_batches": len(series),
        "state_rows_series": series,
        "state_max_warm": max(warm),
        "state_max_tail": max(tail),
        "unbounded_worst_case": worst_case,
        "bounded": max(tail) <= max(warm) * 1.3 and max(tail) < worst_case * 0.6,
    }
    print(
        f"# {name}: {len(series)} batches, warm max {max(warm)}, tail max "
        f"{max(tail)}, worst-case {worst_case}, bounded={rec['bounded']}",
        file=sys.stderr,
    )
    return rec


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    run = h.start("soak_state")
    spark = run.spark
    src = os.path.join(run.work, "src")
    _write_hour_files(spark, src)
    flat = os.path.join(src, "flat")

    results = []
    t0 = time.perf_counter()

    # 1. sliding windows: 30m window / 10m slide, 1h watermark ->
    #    horizon ~ (1h wm + 30m window) / 10m ~ 9-12 live windows x 7 types;
    #    unbounded would be all 24h x 6 slides x 7 types
    ev = _stream(spark, flat)
    sl = sliding_counts(ev, window="30 minutes", slide="10 minutes", watermark="1 hour")
    prog = _drain(spark, sl, "append", os.path.join(run.work, "sliding"))
    results.append(_summarize("sliding_counts", prog, worst_case=24 * 6 * 7))

    # 2. custom stateful operator: one state row per user, forever-flat
    ev = _stream(spark, flat)
    rs = running_user_stats(ev)
    prog = _drain(spark, rs, "update", os.path.join(run.work, "running_stats"))
    rec = _summarize("running_user_stats", prog, worst_case=USERS * N_BATCHES)
    rec["bounded"] = rec["state_max_tail"] <= USERS  # exact bound: keys
    results.append(rec)

    # 3. stream-stream interval join: both sides buffer only the
    #    watermark + interval horizon
    clicks = _stream(spark, flat).filter("value < 5.0")
    buys = _stream(spark, flat).filter("value >= 5.0")
    ij = interval_join_streams(
        clicks, buys, on=["user_id"], within="30 minutes", watermark="1 hour"
    )
    prog = _drain(spark, ij, "append", os.path.join(run.work, "interval_join"))
    results.append(
        _summarize(
            "interval_join_streams",
            prog,
            worst_case=EVENTS_PER_BATCH * N_BATCHES,
        )
    )

    # 4. dropDuplicatesWithinWatermark: state is keys seen within the
    #    watermark horizon, not keys ever seen
    ev = _stream(spark, flat)
    dd = streaming_dedup(ev, ["user_id", "event_type"], watermark="1 hour")
    prog = _drain(spark, dd, "append", os.path.join(run.work, "dedup"))
    results.append(
        _summarize("streaming_dedup", prog, worst_case=USERS * 7 * N_BATCHES)
    )

    wall = round(time.perf_counter() - t0, 1)
    summary = {
        "n_batches": N_BATCHES,
        "events_per_batch": EVENTS_PER_BATCH,
        "wall_sec": wall,
        "all_bounded": all(r["bounded"] for r in results),
        "queries": results,
        "loadavg": list(os.getloadavg()),
    }
    h.finish(run, summary, summary["all_bounded"], out_path)


if __name__ == "__main__":
    main()
