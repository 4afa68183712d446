"""Streaming soak: 100k Debezium events (sf0.1) through the full driver.

Measures end-to-end micro-batch throughput (parse + route + merge + commit
x 5 batches) for MOR and COW sinks and oracle-checks the final MOR state.
This is the round-over-round throughput signal standing in for the
reference's production workload (PLANS.md "Streaming throughput").

Writes a calib-stamped JSON artifact (VERDICT r10 item 3 — the one soak
that only printed): ev/s + wall + per-batch durations by sink mode, the
MOR oracle verdict, and the throughput-band check vs the r10 idle-box
reference (MOR ~80-93k ev/s at sf1; ±20% band).

Usage: python scripts/soak.py [mor|cow|both] [out.json]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import soak_harness as h  # noqa: E402  (puts the repo root on sys.path)

from kafka_cdc_hudi_spark.config import TableSpec  # noqa: E402
from kafka_cdc_hudi_spark.plans.cdc_fixtures import debezium_envelopes  # noqa: E402
from kafka_cdc_hudi_spark.sources.tables import load_table  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_FILES = 5
SPEC = TableSpec(db="test_db", table="events", primary_keys=("user_id",))


#: idle-box MOR throughput reference at sf1 (SOAK r10: 80.4k in-band
#: against the r9 85.8k reading; ±20% band) — a reading outside the band
#: on an UNcontaminated run is a real regression signal
MOR_EVS_REF_K = 85.8
EVS_BAND_FRAC = 0.20


def run_mode(spark, work: str, mode: str, files: list[str], n_events: int, check: bool = True) -> dict:
    driver, timing = h.drive(spark, work, [SPEC], files, mode=mode)
    dt = timing["total_wall_sec"]
    state = driver.sink_for(SPEC).read(spark)
    n_state = state.count()
    print(f"{mode}: {dt:.1f} s  ({n_events / dt / 1000:.1f}k ev/s)  final state {n_state} rows",
          file=sys.stderr)
    result = {
        "mode": mode,
        "wall_sec": dt,
        "ev_per_sec": round(n_events / dt, 1),
        "n_events": n_events,
        "n_state_rows": n_state,
        "batch_duration_ms": timing["batch_duration_ms"],
        "oracle": None,
    }
    if check and mode == "mor":  # oracle-exact check on the fold path
        got = {(r["user_id"], r["event_id"]) for r in state.collect()}
        result["oracle"] = "exact" if got == h.events_oracle(SF) else "MISMATCH"
        print(f"mor: state oracle {result['oracle']}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    return result


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "both"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    run = h.start("soak", shuffle_partitions=32)
    spark = run.spark
    modes_run = ("mor", "cow") if which == "both" else (which,)

    env = debezium_envelopes(load_table(spark, SF, "events"))
    n_events = env.count()
    src, warm_src = os.path.join(run.work, "src"), os.path.join(run.work, "warm_src")
    # .write.text, NOT .write.json (which double-encodes into {"value": ...})
    env.select("value").repartition(N_FILES).write.mode("overwrite").text(src)

    # warmup: tiny end-to-end pass so the FIRST measured mode doesn't absorb
    # ~10 s of one-time codegen (PLANS.md measurement trap #1)
    debezium_envelopes(load_table(spark, "/root/testdata/sf0.001", "events")).select(
        "value"
    ).coalesce(1).write.mode("overwrite").text(warm_src)
    files, warm = h.part_files(src), h.part_files(warm_src)
    for m in modes_run:
        run_mode(spark, os.path.join(run.work, f"warm_{m}"), m, warm, 1, check=False)
    print(f"-- warmed; soaking {n_events} events from {N_FILES} files --", file=sys.stderr)

    modes = {m: run_mode(spark, os.path.join(run.work, m), m, files, n_events) for m in modes_run}

    def artifact() -> dict:
        # band verdict: only meaningful on an uncontaminated run at sf1
        band = None
        if "mor" in modes:
            evs_k = modes["mor"]["ev_per_sec"] / 1000.0
            band = {
                "mor_ev_per_sec_k": round(evs_k, 1),
                "ref_k": MOR_EVS_REF_K,
                "band_frac": EVS_BAND_FRAC,
                "in_band": evs_k >= MOR_EVS_REF_K * (1 - EVS_BAND_FRAC),
                "applicable": not run.stamp["contaminated"] and SF.rstrip("/").endswith("sf1"),
            }
        return {"sf_dir": SF, "n_files": N_FILES, "modes": modes, "band": band}

    ok = all(r["oracle"] != "MISMATCH" for r in modes.values())
    h.finish(run, artifact, ok, out_path)


if __name__ == "__main__":
    main()
