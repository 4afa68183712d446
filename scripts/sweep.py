"""Full-registry oracle sweep + per-entry timing tier (VERDICT r6 items 3/6).

Runs EVERY FULL_REGISTRY entry at $SPARK_GRAFT_SF_DIR (default: the
driver's own sf0.01) against its DuckDB value oracle with the same
strict comparison the local test suite uses, timing each entry's Spark
side, and writes a committed JSON artifact:

    {"sf": 0.01, "entries": {name: {"ok": bool, "rows": int,
     "spark_sec": float, "msg": str}}, "n_ok": N, "n_fail": N,
     "loadavg": [...], "calib_sec": float}

Usage:  python scripts/sweep.py [out.json]

This is the auditable second gate for registry entries outside the
driver's ~50-row CORRECTNESS window: the artifact (SWEEP_r{N}.json) is
committed next to CORRECTNESS_r{N}.json each round, and the per-entry
spark_sec column doubles as the full-registry bench tier (regressions in
entry cost are visible round-over-round by diffing artifacts).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# calib_gate lives next to this script; the repo-root insert above doesn't
# cover `python -m scripts.foo`-style invocation (ADVICE r10)
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

from kafka_cdc_hudi_spark.plans.catalog import FULL_REGISTRY  # noqa: E402
from kafka_cdc_hudi_spark.session import get_spark  # noqa: E402


from calib_gate import end_calib, gated_calib  # noqa: E402


def main() -> None:
    from tests.oracle_harness import compare, duckdb_con

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_con(sf_dir)

    # shared retry-gated probe (scripts/calib_gate.py): cold reading for
    # r1-r8 artifact continuity, warm reading retried into the idle band,
    # explicit contamination stamp when retries exhaust (VERDICT r9 item 5)
    stamp = gated_calib(spark)

    # r14-opt: the bench's Spark-path reference probe at both ends too —
    # the Aug-18 epoch probe showed a host slowdown class that inflates
    # 32-wide Spark stages ~2-5x while the single-threaded CPU calib stays
    # in band (AMBIENT.md epoch-probe row); the sweep previously certified
    # such runs clean (SWEEP_r14_EPOCH_PROBE_buildcode.json: 221s total vs
    # 125s same-code, stamped clean)
    from bench import _REF_PROBE_BAND_S, _ref_probe

    ref_before = _ref_probe(spark)

    # some oracles bake per-SF literals (trained artifacts); rebuild for
    # the swept SF when it differs from the registry's committed build
    from kafka_cdc_hudi_spark.plans.catalog import sf_dependent_sql_builders

    builders = sf_dependent_sql_builders()
    entries: dict[str, dict] = {}
    n_ok = n_fail = n_unoracled = 0
    for name, (fn, sql) in FULL_REGISTRY.items():
        if name in builders:
            sql = builders[name](sf_dir) or sql
        oracled = sql is not None
        cold_sec = spark_sec = None
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            pdf = df.toPandas()
            cold_sec = round(time.perf_counter() - t0, 3)
            # the timing tier reports the MIN of two warm executions
            # (r11; r10 reported the single second execution): first-run
            # cold-JIT spikes of 3-13x land on different entries per
            # sweep, and even single warm runs of sub-1.5s entries bounce
            # up to 3x between back-to-back in-band sweeps on identical
            # code (r11: two consecutive sweeps totalled 165.2s vs 185.2s
            # with disjoint mover sets) — min-of-two bounds that
            # scheduler/GC tail. Correctness still compares the FIRST
            # run's rows.
            try:
                warms = []
                for _ in range(2):
                    t1 = time.perf_counter()
                    fn(spark, sf_dir).toPandas()
                    warms.append(round(time.perf_counter() - t1, 3))
                spark_sec = min(warms)
            except Exception:  # noqa: BLE001 - fall back to the cold number
                spark_sec = min(warms) if warms else cold_sec
            if sql is None:
                # NOT a pass: counted separately so a degraded sweep (an
                # sf-dependent oracle builder silently returning None) is
                # distinguishable from a fully-oracled one (ADVICE r7).
                # An EMPTY rows-only result gets a distinct msg (ADVICE
                # r8): an sf-dependent entry legitimately empty at a small
                # SF is distinguishable from a real failure in the artifact.
                if len(pdf) > 0:
                    ok, msg = True, "rows-only (no SQL oracle)"
                else:
                    ok, msg = False, "rows-only, EMPTY (no SQL oracle; may be sf-dependent)"
            else:
                # re-wrap so compare() sees a Spark DF only once — reuse
                # the collected pandas via a tiny adapter
                class _Wrap:
                    def toPandas(self, _p=pdf):
                        return _p

                try:
                    ok, msg = True, compare(_Wrap(), con, sql)
                except AssertionError as exc:  # the oracle mismatch, recorded
                    ok, msg = False, str(exc)
            rows = len(pdf)
        except Exception as exc:  # noqa: BLE001 — sweep must finish
            # only stamp elapsed-since-t0 when the FIRST execution itself
            # failed; a late failure (oracle compare, warm rerun) must not
            # overwrite already-measured timings with total elapsed
            # including DuckDB time (ADVICE r10)
            if cold_sec is None:
                cold_sec = round(time.perf_counter() - t0, 3)
            if spark_sec is None:
                spark_sec = cold_sec
            ok, msg, rows = False, f"EXC: {exc}"[:300], -1
        entries[name] = {
            "ok": bool(ok),
            "oracled": oracled,
            "rows": rows,
            "spark_sec": spark_sec,
            "cold_sec": cold_sec,
            "msg": str(msg)[:300],
        }
        n_ok += ok
        n_fail += not ok
        n_unoracled += not oracled
        print(f"# {'OK ' if ok else 'FAIL'} {name}: {spark_sec}s {rows} rows {'' if ok else msg}", file=sys.stderr)

    end_calib(spark, stamp)
    ref_after = _ref_probe(spark)
    stamp["ref_probe_before_sec"] = ref_before
    stamp["ref_probe_after_sec"] = ref_after
    stamp["ref_probe_band_sec"] = _REF_PROBE_BAND_S
    stamp["contaminated"] = bool(
        stamp["contaminated"]
        or ref_before > _REF_PROBE_BAND_S
        or ref_after > _REF_PROBE_BAND_S
    )
    result = {
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_entries": len(entries),
        "n_ok": n_ok,
        "n_fail": n_fail,
        "n_unoracled": n_unoracled,
        # spark_sec = warm second execution; cold_sec = first execution
        "timing_tier": (
            "warm-min-of-2 (r11+; r10 timed the single second run, "
            "r1-r9 the cold first run)"
        ),
        **stamp,
        "entries": entries,
    }
    line = json.dumps(result)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
