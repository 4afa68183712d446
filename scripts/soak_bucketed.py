"""Write-amplification soak: the three sink layouts under bucket-local
churn at 10M-key state (r12; exercises the bucketed pointer's new
commit_meta auditing at scale).

State = the sf10 events table keyed by event_id (10M distinct keys, the
100-TB-shaped case where full-table rewrites are the enemy). After a full
ingest into each mode, N churn batches of ~CHURN_KEYS keys drawn from TWO
buckets each (bucket-local updates — the CDC hot-partition shape) are
merged, and the artifact records per batch what each layout REWROTE
(files + bytes from the pointer's commit_meta) next to its wall:

- plain COW rewrites the full state every batch (write amp ~ state/batch),
- bucketed COW rewrites only the touched buckets (~2/64 of state),
- MOR appends a delta (~the batch itself).

Final states are cross-checked equal across all three modes (count + an
order-insensitive hash aggregate over all 10M rows).

Usage: python scripts/soak_bucketed.py [sf_dir] [out.json]
Needs SPARK_GRAFT_DRIVER_MEM=32g at the sf10 default.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import soak_harness as h  # noqa: E402  (puts the repo root on sys.path)

from pyspark.sql import functions as F  # noqa: E402

from kafka_cdc_hudi_spark.functions.timefns import epoch_millis  # noqa: E402
from kafka_cdc_hudi_spark.sinks.keyed_table import KeyedParquetTable  # noqa: E402
from kafka_cdc_hudi_spark.sources.tables import load_table  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scaledata/sf10"
OUT = sys.argv[2] if len(sys.argv) > 2 else None

N_BUCKETS = 64
N_BATCHES = 6
CHURN_KEYS = 200  # per batch, split over 2 target buckets
MODES = ["cow", "cow-bucketed", "mor"]


def main() -> None:
    run = h.start("soak_bucketed", shuffle_partitions=32)
    spark, work = run.spark, run.work

    state0 = (
        load_table(spark, SF, "events")
        .select(
            F.col("event_id").alias("id"),
            epoch_millis("ts").alias("mtime"),
            F.lit(False).alias("_deleted"),
            "user_id",
            F.col("event_type").alias("val"),
        )
        .localCheckpoint()  # one materialization feeds all three ingests
    )
    n_keys = state0.count()
    bucket = F.pmod(F.xxhash64("id"), F.lit(N_BUCKETS)).cast("int")

    # churn scripts: batch b updates CHURN_KEYS keys from buckets {2b, 2b+1}
    churn = []
    for b in range(N_BATCHES):
        targets = [(2 * b) % N_BUCKETS, (2 * b + 1) % N_BUCKETS]
        keys = [
            r["id"]
            for r in state0.select("id")
            .withColumn("b", bucket)
            .filter(F.col("b").isin(targets))
            .limit(CHURN_KEYS)
            .collect()
        ]
        rows = [(k, 20_000_000_000_000 + b, False, 0, f"churn{b}") for k in keys]
        churn.append(
            (
                targets,
                spark.createDataFrame(
                    rows, "id long, mtime long, _deleted boolean, user_id long, val string"
                ).localCheckpoint(),
            )
        )

    results = {}
    committed = True  # every merge below reported a commit
    for mode in MODES:
        t = KeyedParquetTable(
            os.path.join(work, mode.replace("-", "_")),
            keys=["id"],
            order_col="mtime",
            mode=mode,
            n_buckets=N_BUCKETS,
        )
        t0 = time.perf_counter()
        committed &= t.merge_batch(spark, state0, batch_id=0)
        ingest = round(time.perf_counter() - t0, 2)
        v0 = t.versions()[-1]
        m0 = t.commit_meta().get(v0, {})
        state_bytes = m0.get("bytes")
        print(f"# {mode}: ingest {n_keys} keys in {ingest}s "
              f"({m0.get('files')} files, {state_bytes} B)", file=sys.stderr)
        batches = []
        for b, (targets, cdf) in enumerate(churn, start=1):
            t0 = time.perf_counter()
            committed &= t.merge_batch(spark, cdf, batch_id=b)
            wall = round(time.perf_counter() - t0, 2)
            v = t.versions()[-1]
            m = t.commit_meta().get(v, {})
            batches.append(
                {
                    "batch": b,
                    "buckets_touched": targets,
                    "wall_sec": wall,
                    "files_written": m.get("files"),
                    "bytes_written": m.get("bytes"),
                    "rewrite_frac": round(m["bytes"] / state_bytes, 6)
                    if m.get("bytes") is not None and state_bytes
                    else None,
                }
            )
            print(f"#   {mode} b{b}: {wall}s, {m.get('bytes')} B "
                  f"({batches[-1]['rewrite_frac']} of state)", file=sys.stderr)
        results[mode] = {
            "ingest_sec": ingest,
            "state_files": m0.get("files"),
            "state_bytes": state_bytes,
            "churn_batches": batches,
            "mean_rewrite_frac": round(
                sum(x["rewrite_frac"] for x in fr) / len(fr), 6
            )
            if (fr := [b for b in batches if b["rewrite_frac"] is not None])
            else None,
        }

    # cross-mode equivalence over all 10M rows: count + order-insensitive hash
    def fingerprint(mode):
        t = KeyedParquetTable(
            os.path.join(work, mode.replace("-", "_")), keys=["id"],
            order_col="mtime", mode=mode, n_buckets=N_BUCKETS,
        )
        row = (
            t.read(spark)
            .select(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(id, mtime, val))").alias("h"),
            )
            .collect()[0]
        )
        return (row["n"], row["h"])

    fps = {m: fingerprint(m) for m in MODES}
    states_equal = len(set(fps.values())) == 1
    print(f"# mode states equal={states_equal}: {fps}", file=sys.stderr)

    artifact = {
        "what": "write amplification per commit under bucket-local churn at "
                "10M-key state (scripts/soak_bucketed.py)",
        "sf_dir": SF,
        "n_keys": n_keys,
        "n_buckets": N_BUCKETS,
        "churn_keys_per_batch": CHURN_KEYS,
        "modes": results,
        "all_committed": committed,
        "states_equal": states_equal,
    }
    h.finish(run, artifact, committed and states_equal, OUT)


if __name__ == "__main__":
    main()
