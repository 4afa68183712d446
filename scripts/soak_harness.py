"""Shared harness for the ``scripts/soak*.py`` soaks.

Each soak is one process: a calib-gated Spark session, a run of batches, an
invariant checked against a recompute that does not read the engine's
storage, and one JSON line. The parts every soak shares live here:

- :func:`start` / :func:`finish`: session, ambient-load stamp
  (``calib_gate.gated_calib`` before the timed region, ``end_calib`` after
  it), a temp work directory, the one-line artifact (stdout and an optional
  file) and an exit code taken from the computed verdict;
- :func:`churn_loop` (with :func:`mixed_churn`): ingest batch, then
  ``SOAK_BATCHES`` churn batches timed one by one, each flagged
  ``compacted`` from the maintainer tables' ``commit_meta``, with a
  checkpoint every ``SOAK_CHECK_EVERY`` batches and at the last one;
- :func:`drive`: the Debezium ``CdcStreamDriver`` over a file source fed
  one file per micro-batch;
- :func:`events_oracle` and :func:`bm25_check`: the DuckDB latest-per-user
  state of the events table and the from-scratch BM25 top-k.

Knobs (environment): ``SOAK_BATCHES`` (default 24), ``SOAK_CHURN``
(changes per batch; each churn soak has its own default) and
``SOAK_CHECK_EVERY`` (default 8).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from calib_gate import end_calib, gated_calib  # noqa: E402
from kafka_cdc_hudi_spark.config import DIALECT_DEBEZIUM, JobConfig  # noqa: E402
from kafka_cdc_hudi_spark.functions.textfns import tokens  # noqa: E402
from kafka_cdc_hudi_spark.session import get_spark  # noqa: E402
from kafka_cdc_hudi_spark.sources.kafka import json_file_value_stream  # noqa: E402
from kafka_cdc_hudi_spark.sources.tables import load_table  # noqa: E402
from kafka_cdc_hudi_spark.streaming.bm25_ivm import bm25_topk  # noqa: E402
from kafka_cdc_hudi_spark.streaming.driver import CdcStreamDriver  # noqa: E402

SEED = 20260815
N_BATCHES = int(os.environ.get("SOAK_BATCHES", "24"))
CHECK_EVERY = int(os.environ.get("SOAK_CHECK_EVERY", "8"))


def churn_size(default: int) -> int:
    """Changes per churn batch: ``SOAK_CHURN``, else the soak's default."""
    return int(os.environ.get("SOAK_CHURN", default))


@dataclass
class Run:
    spark: SparkSession
    stamp: dict
    work: str


def start(name: str, **spark_kw) -> Run:
    """Start the session and stamp the ambient load before any timed work."""
    spark = get_spark(app_name=name, **spark_kw)
    spark.sparkContext.setLogLevel("ERROR")
    stamp = gated_calib(spark)
    print(f"# calib: {stamp}", file=sys.stderr)
    return Run(spark, stamp, tempfile.mkdtemp(prefix=f"{name}_"))


def finish(run: Run, artifact, ok: bool, out_path: str | None) -> None:
    """Probe the load again, write the artifact whatever the verdict and
    exit 1 unless ``ok``. ``artifact`` is a dict, or a function building
    it once the stamp holds both probes."""
    end_calib(run.spark, run.stamp)
    if callable(artifact):
        artifact = artifact()
    if run.stamp["contaminated"]:
        print("# WARNING: contaminated run — walls untrustworthy", file=sys.stderr)
    shutil.rmtree(run.work, ignore_errors=True)
    line = json.dumps({**artifact, **run.stamp})
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    run.spark.stop()
    sys.exit(0 if ok else 1)


def _mean(xs: list[float]) -> float | None:
    return round(sum(xs) / len(xs), 2) if xs else None


def mixed_churn(rng, live: dict, n: int, seq, update, insert):
    """``next_batch`` for :func:`churn_loop` over a corpus ``live`` ({id:
    value}): each batch deletes max(1, n // 5) random live ids, rewrites
    the value of n - 2 * max(1, n // 5) others to ``update(id, ids, s)`` and
    inserts max(1, n // 5) new ids valued ``insert(ids, s)``, where ``ids``
    is the live ids after the deletes and ``s`` the row's number from the
    iterator ``seq``. Rows are ``(op, id, value, s)``; ``live`` follows."""
    next_id = max(live) + 1

    def next_batch(bid: int) -> list[tuple]:
        nonlocal next_id
        rows = []
        n_del = n_ins = max(1, n // 5)
        for i in rng.sample(sorted(live), n_del):
            rows.append(("d", i, None, next(seq)))
            del live[i]
        ids = sorted(live)
        for i in rng.sample(ids, n - n_del - n_ins):
            s = next(seq)
            live[i] = update(i, ids, s)
            rows.append(("u", i, live[i], s))
        for _ in range(n_ins):
            s = next(seq)
            live[next_id] = insert(ids, s)
            rows.append(("i", next_id, live[next_id], s))
            next_id += 1
        return rows

    return next_batch


def churn_loop(spark, tables, apply, ingest, next_batch, schema: str, check, count_key: str) -> dict:
    """Apply the ``ingest`` frame as batch 0, then ``N_BATCHES`` churn
    batches of ``next_batch(bid)`` rows (``schema``) through ``apply(df,
    bid)``. A batch is ``compacted`` when one of the maintainer's
    ``tables`` committed a ``compact`` version during it. ``check()``
    returns ``(count, match)`` and runs every ``CHECK_EVERY`` batches and
    after the last. Returns the artifact fields every churn soak shares."""

    def timed(df, bid: int) -> tuple[float, bool]:
        seen = [set(t.commit_meta()) for t in tables]
        t0 = time.perf_counter()
        apply(df, bid)
        wall = round(time.perf_counter() - t0, 2)
        compacted = any(
            m.get("op") == "compact"
            for t, old in zip(tables, seen)
            for v, m in t.commit_meta().items()
            if v not in old
        )
        return wall, compacted

    t_ingest, _ = timed(ingest, 0)
    print(f"# ingest: {t_ingest}s", file=sys.stderr)
    batches, checks = [], []
    for bid in range(1, N_BATCHES + 1):
        rows = next_batch(bid)
        wall, compacted = timed(spark.createDataFrame(rows, schema), bid)
        batches.append({"bid": bid, "n_changed": len(rows), "wall_s": wall, "compacted": compacted})
        print(f"# batch {bid}: {len(rows)} changed, {wall}s, compacted={compacted}", file=sys.stderr)
        if bid % CHECK_EVERY == 0 or bid == N_BATCHES:
            t0 = time.perf_counter()
            count, ok = check()
            checks.append(
                {"bid": bid, count_key: count, "match": ok, "check_s": round(time.perf_counter() - t0, 2)}
            )
            print(f"# checkpoint {bid}: {count} {count_key}, match={ok}", file=sys.stderr)

    walls = [b["wall_s"] for b in batches]
    cw = [b["wall_s"] for b in batches if b["compacted"]]
    ncw = [b["wall_s"] for b in batches if not b["compacted"]]
    return {
        "n_batches": N_BATCHES,
        "ingest_s": t_ingest,
        "churn_wall_mean_s": _mean(walls),
        "churn_wall_max_s": max(walls),
        # the compaction batches carry the amortized fold cost; report apart
        "compaction_batches": len(cw),
        "compact_wall_mean_s": _mean(cw),
        "compact_wall_max_s": max(cw, default=None),
        "noncompact_wall_mean_s": _mean(ncw),
        "noncompact_wall_max_s": max(ncw, default=None),
        "batches": batches,
        "checkpoints": checks,
        "all_checks_match": all(c["match"] for c in checks),
    }


def drive(spark, work: str, specs, files, after_batch=None, mode: str = "mor", **driver_kw):
    """Run a Debezium ``CdcStreamDriver`` for the table ``specs`` (sinks,
    checkpoint and source under ``work``) with each of ``files`` as one
    micro-batch. A file enters the source directory only after the
    previous batch drained: with several files present the file source
    orders them by modification time, not by the order they were written
    (the BATCH-ORDER TRAP). ``after_batch(i)`` runs after batch ``i``,
    outside its wall; ``driver_kw`` (``payload_schemas``,
    ``side_processors``) go to the driver. Returns the driver and the
    timing fields: per-batch walls, the engine's progress
    ``batchDuration`` (addBatch + commit) and the total wall."""
    cfg = JobConfig(
        dialect=DIALECT_DEBEZIUM,
        tables=list(specs),
        sink_root=os.path.join(work, "sink"),
        checkpoint_location=os.path.join(work, "ckpt"),
        sink_mode=mode,
        trigger_interval="0 seconds",  # drain-the-source; 30s would serialize
        max_workers=2,
    )
    driver = CdcStreamDriver(spark, cfg, **driver_kw)
    src = os.path.join(work, "src")
    os.makedirs(src)
    walls = []
    t_all = time.perf_counter()
    q = driver.start(json_file_value_stream(spark, src, max_files_per_trigger=1))
    for i, f in enumerate(files):
        os.link(f, os.path.join(src, f"b{i}.txt"))
        t0 = time.perf_counter()
        q.processAllAvailable()
        walls.append(round(time.perf_counter() - t0, 2))
        print(f"# batch {i}: {walls[-1]}s", file=sys.stderr)
        if after_batch is not None:
            after_batch(i)
    total = round(time.perf_counter() - t_all, 2)
    batch_ms = [p["batchDuration"] for p in q.recentProgress or [] if p.get("numInputRows", 0) > 0]
    q.stop()
    return driver, {"batch_wall_sec": walls, "batch_duration_ms": batch_ms, "total_wall_sec": total}


def part_files(path: str) -> list[str]:
    """The data files Spark wrote under ``path``, by name."""
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-"))


def events_oracle(sf_dir: str, cols: str = "user_id, event_id") -> set[tuple]:
    """DuckDB state the CDC fixture's envelopes of ``sf_dir``'s events
    leave: the latest event per ``user_id`` (by ts, then event_id) unless
    it is a delete (``event_id % 10 == 0``), as ``cols`` tuples."""
    path = f"{sf_dir}/events.parquet"
    # driver testdata is one parquet file; Spark-written scale data
    # (scripts/make_scale_data.py) is a directory of part files
    if os.path.isdir(path):
        path = f"{path}/*.parquet"
    rows = duckdb.sql(f"""
        SELECT {cols} FROM read_parquet('{path}')
        QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
            AND event_id % 10 <> 0
    """).fetchall()
    return {tuple(r) for r in rows}


def documents(spark, sf_dir: str) -> dict[int, str]:
    """The documents table as {doc_id: text}."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return {int(r["doc_id"]): r["text"] for r in docs.collect()}


def splice(a: str, b: str) -> str:
    """First half of ``a``'s words, then the second half of ``b``'s."""
    wa, wb = a.split(), b.split()
    return " ".join(wa[: len(wa) // 2] + wb[len(wb) // 2 :])


def bm25_queries(spark, live: dict[int, str], n: int):
    """Fixed query set: the texts of the first ``n`` doc ids."""
    return spark.createDataFrame(
        [(1_000_000 + i, live[k]) for i, k in enumerate(sorted(live)[:n])],
        "query_id BIGINT, text STRING",
    ).localCheckpoint()


def bm25_check(spark, m, queries, live: dict[int, str], k: int) -> tuple[int, bool]:
    """(results, match) of the maintained index ``m``'s top-k against a
    BM25 index built from scratch over the live corpus."""
    docs = spark.createDataFrame(sorted(live.items()), "doc_id BIGINT, text STRING").repartition(
        spark.sparkContext.defaultParallelism
    )
    posts = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = docs.select("doc_id", F.size(tokens("text")).cast("long").alias("dl"))

    def topk_set(df):
        return {(r["query_id"], r["doc_id"], r["rank"]) for r in df.collect()}

    got = topk_set(m.topk(spark, queries, k=k))
    return len(got), got == topk_set(bm25_topk(queries, posts, dl, k=k))
