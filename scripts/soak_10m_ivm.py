"""10M-event streaming drive WITH a maintained BM25 index attached
(VERDICT r11 item 4).

SOAK_10M_r11 drove parse -> route -> dedup -> merge alone; the maintained-
structure soaks ran at fixed small churn with no co-load. This soak does
both in ONE driver: 5 micro-batches of 1M/1.5M/2M/2.5M/3M events (10M
total, .scaledata/sf10) interleaved with a `documents` CDC stream whose
churn is PROPORTIONAL to the batch's event count (0.1%), with
`Bm25IndexMaintainer` attached as a side_processor of the same driver.
Batch 0 additionally bootstraps the full 500k-doc corpus through the
maintainer (ingest under co-load).

Recorded per batch: the engine's batchDuration (driver wall: parse + route
+ both tables' merges + the side processor) AND the maintainer's own wall
(timed inside the side processor) — the driver-vs-maintainer split the
artifact exists to show. At 3 checkpoints the maintained index's top-k
must EXACTLY equal a from-scratch BM25 build over the live corpus; the
final events MOR state is oracle-checked against DuckDB over all 10M rows.

Usage: python scripts/soak_10m_ivm.py [sf_dir] [out.json]
Needs SPARK_GRAFT_DRIVER_MEM=32g for the sf10 default.
"""

from __future__ import annotations

import glob
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import soak_harness as h  # noqa: E402  (puts the repo root on sys.path)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_cdc_hudi_spark.config import TableSpec  # noqa: E402
from kafka_cdc_hudi_spark.plans.cdc_fixtures import debezium_envelopes  # noqa: E402
from kafka_cdc_hudi_spark.sources.tables import load_table  # noqa: E402
from kafka_cdc_hudi_spark.streaming.bm25_ivm import Bm25IndexMaintainer  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scaledata/sf10"
OUT = sys.argv[2] if len(sys.argv) > 2 else None

#: event slots per batch out of 20 equal hash slices — 1M/1.5M/2M/2.5M/3M
#: at sf10, so the churn-proportionality of the maintainer is visible
BATCH_SLOTS = [2, 3, 4, 5, 6]
CHURN_FRAC = 0.001  # docs churned per batch = frac * batch's event count
K, N_QUERIES = 10, 8
SEED = 20260816

DOC_PAYLOAD = StructType(
    [StructField("doc_id", LongType(), True), StructField("text", StringType(), True)]
)


def main() -> None:
    run = h.start("soak_10m_ivm", shuffle_partitions=32)
    spark, work = run.spark, run.work

    rng = random.Random(SEED)
    events = load_table(spark, SF, "events")
    n_events_total = events.count()
    live = h.documents(spark, SF)
    n_docs0 = len(live)
    next_id = max(live) + 1
    queries = h.bm25_queries(spark, live, N_QUERIES)

    ev_spec = TableSpec(db="test_db", table="events", primary_keys=("user_id",))
    doc_spec = TableSpec(db="test_db", table="documents", primary_keys=("doc_id",))
    mb = Bm25IndexMaintainer(root=os.path.join(work, "bm25"), compact_every=4)
    maint_walls: dict[int, float] = {}

    def bm25_side(spark_, routed, batch_id):
        t0 = time.perf_counter()
        mb.process(
            spark_,
            routed.select(
                F.when(F.col("_deleted"), F.lit("d")).otherwise(F.lit("u")).alias("op"),
                "doc_id",
                "text",
                F.col("mtime").alias("seq"),
            ),
            batch_id,
        )
        maint_walls[batch_id] = round(time.perf_counter() - t0, 2)

    # ---- pre-materialize the event envelope slices (untimed prep) --------
    env = debezium_envelopes(events).select(
        "value", F.pmod(F.xxhash64("value"), F.lit(20)).alias("slot")
    )
    ev_dir = os.path.join(work, "ev_slices")
    env.write.partitionBy("slot").mode("overwrite").text(ev_dir)

    def _dbz_doc(op, did, text, ts):
        before = {"doc_id": did, "text": None} if op == "d" else None
        after = None if op == "d" else {"doc_id": did, "text": text}
        return json.dumps(
            {"before": before, "after": after, "op": op, "ts_ms": ts,
             "db": "test_db", "table": "documents"}
        )

    seq = 1_000_000_000
    lo = 0
    # planning mutates plan_live; effects are applied to the checkpoint
    # corpus `live` only as batches are PUBLISHED, so checkpoint rebuilds
    # see the batch-prefix corpus, not the final one
    plan_live = dict(live)
    batch_plan = []  # (slots, doc_lines, boot_dir, effects)
    for bi, slots in enumerate(BATCH_SLOTS):
        my_slots = list(range(lo, lo + slots))
        lo += slots
        doc_lines: list[str] = []
        effects: list[tuple] = []
        if bi == 0:
            # corpus bootstrap: all docs as inserts, ts = 1_000_000 + doc_id
            boot = os.path.join(work, "boot_docs")
            spark.createDataFrame(
                sorted(live.items()), "doc_id BIGINT, text STRING"
            ).select(
                F.to_json(
                    F.struct(
                        F.lit(None).cast(DOC_PAYLOAD).alias("before"),
                        F.struct("doc_id", "text").alias("after"),
                        F.lit("c").alias("op"),
                        (F.lit(1_000_000) + F.col("doc_id")).alias("ts_ms"),
                        F.lit("test_db").alias("db"),
                        F.lit("documents").alias("table"),
                    )
                ).alias("value")
            ).coalesce(4).write.mode("overwrite").text(boot)
            batch_plan.append((my_slots, None, boot, []))
            continue
        n_ev = slots * (n_events_total // 20)
        n_churn = max(1, int(n_ev * CHURN_FRAC))
        n_del = n_churn // 5
        n_ins = n_churn // 5
        n_upd = n_churn - n_del - n_ins
        ids = sorted(plan_live)
        for i in rng.sample(ids, n_del):
            seq += 1
            doc_lines.append(_dbz_doc("d", i, None, seq))
            effects.append((i, None))
            del plan_live[i]
        ids = sorted(plan_live)
        donors = rng.sample(ids, n_upd)
        for i, donor in zip(rng.sample(ids, n_upd), donors):
            t = h.splice(plan_live[i], plan_live[donor])
            seq += 1
            doc_lines.append(_dbz_doc("u", i, t, seq))
            effects.append((i, t))
            plan_live[i] = t
        for _ in range(n_ins):
            t = plan_live[rng.choice(sorted(plan_live))]
            seq += 1
            doc_lines.append(_dbz_doc("c", next_id, t, seq))
            effects.append((next_id, t))
            plan_live[next_id] = t
            next_id += 1
        batch_plan.append((my_slots, doc_lines, None, effects))

    n_events: list[int] = []

    def staged():
        """Each batch's event slices + doc lines concatenated into ONE file
        (one micro-batch), its doc effects then applied to ``live``."""
        for bi, (my_slots, doc_lines, boot_dir, effects) in enumerate(batch_plan):
            path = os.path.join(work, f"stage_b{bi}.txt")
            n_ev = 0
            with open(path, "wb") as out:
                for s in my_slots:
                    for part in sorted(glob.glob(os.path.join(ev_dir, f"slot={s}", "part-*"))):
                        with open(part, "rb") as f:
                            data = f.read()
                            n_ev += data.count(b"\n")
                            out.write(data)
                if boot_dir is not None:
                    for part in sorted(glob.glob(os.path.join(boot_dir, "part-*"))):
                        with open(part, "rb") as f:
                            out.write(f.read())
                if doc_lines:
                    out.write(("\n".join(doc_lines) + "\n").encode())
            for k, v in effects:
                if v is None:
                    live.pop(k, None)
                else:
                    live[k] = v
            n_events.append(n_ev)
            yield path

    checks = []

    def checkpoint(bi: int) -> None:
        if bi >= 2:  # checkpoints after b2, b3, b4 — 3/3
            t0 = time.perf_counter()
            _, ok = h.bm25_check(spark, mb, queries, live, K)
            checks.append({"after_batch": bi, "exact": ok,
                           "check_sec": round(time.perf_counter() - t0, 2)})
            print(f"# checkpoint b{bi}: exact={ok}", file=sys.stderr)

    driver, timing = h.drive(
        spark, os.path.join(work, "drive"), [ev_spec, doc_spec], staged(), after_batch=checkpoint,
        payload_schemas={"documents": DOC_PAYLOAD}, side_processors={"documents": bm25_side},
    )
    batches = []
    for bi, (n_ev, wall) in enumerate(zip(n_events, timing["batch_wall_sec"])):
        batches.append(
            {
                "batch": bi,
                "events": n_ev,
                "docs_churned": len(batch_plan[bi][1]) if bi else n_docs0,
                "wall_sec": wall,
                "maintainer_sec": maint_walls.get(bi),
                "driver_sec": round(wall - (maint_walls.get(bi) or 0.0), 2),
            }
        )

    # final events MOR state oracle vs DuckDB over all 10M rows
    state = driver.sink_for(ev_spec).read(spark)
    got = {(r["user_id"], r["event_id"]) for r in state.collect()}
    events_ok = got == h.events_oracle(SF)
    print(f"# events MOR state: {'oracle-exact' if events_ok else 'MISMATCH'} "
          f"({len(got)} rows)", file=sys.stderr)

    driven = sum(n_events)
    artifact = {
        "what": "10M-event streaming drive with Bm25IndexMaintainer attached "
                "(scripts/soak_10m_ivm.py, VERDICT r11 item 4)",
        "sf_dir": SF,
        "n_events": driven,
        "n_docs_corpus": n_docs0,
        "churn_frac": CHURN_FRAC,
        "batches": batches,
        "ev_per_sec": round(driven / sum(b["wall_sec"] for b in batches), 1),
        "total_wall_sec": timing["total_wall_sec"],
        "checkpoints": checks,
        "events_mor_oracle": "exact" if events_ok else "MISMATCH",
    }
    h.finish(run, artifact, events_ok and all(c["exact"] for c in checks), OUT)


if __name__ == "__main__":
    main()
