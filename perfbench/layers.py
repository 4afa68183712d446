"""Per-layer metrics of a traced run (``--trace 1``).

Sources: the streaming progress reports (``durationMs``), the span
recorder and job counter of spans.py, the sink's ``commit_meta()`` read
after every batch, the benchmark's own read timings, and isolated probes
that replay one recorded input file through the lazy layers (prefilter,
parse + route, dedupe) into a ``noop`` write. A layer that does no work on
a workload reports 0.
"""

from __future__ import annotations

import os
import statistics
import time

from spans import span_cost_ms, union_ms

STREAMING_KEYS = {
    "latestOffset": "streaming.latest_offset_ms",
    "getBatch": "streaming.get_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "addBatch": "streaming.add_batch_ms",
}
PROBE_REPS = 3


def _med(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def _noop_ms(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return (time.perf_counter() - t0) * 1000.0


def probes(run) -> dict:
    """Time prefilter, parse + route and dedupe on the file of batch 1, per
    table, each a median of PROBE_REPS noop writes. Only MOR sinks call
    ``dedupe_batch`` (COW folds the batch inside ``merge_upsert``), so
    dedupe reports 0 on other sinks."""
    from kafka_cdc_hudi_spark.config import DIALECT_DEBEZIUM, DIALECT_DMS
    from kafka_cdc_hudi_spark.operators.cdc import (
        infer_payload_schema, parse_stream, raw_route_prefilter, route)
    from kafka_cdc_hudi_spark.operators.merge import dedupe_batch

    spark = run.spark
    dialect = DIALECT_DMS if run.w["gen"]["dialect"] == "dms" else DIALECT_DEBEZIUM
    path = os.path.join(run.work, "src", os.path.basename(run.stage_path(1)))
    raw = spark.read.text(path).selectExpr("CAST(value AS STRING) AS value").persist()
    n_raw = raw.count()
    t = {"prefilter": 0.0, "parse": 0.0, "dedupe": 0.0}
    kept = parsed_rows = deduped_rows = 0
    dedupes = run.w["sink_mode"] == "mor"
    cached = [raw]
    for table in run.w["gen"]["tables"]:
        pre = raw_route_prefilter(raw, "benchdb", table, dialect)
        t["prefilter"] += _med([_noop_ms(pre) for _ in range(PROBE_REPS)])
        pre = pre.persist()
        cached.append(pre)
        kept += pre.count()
        schema = run.payload_schema() if run.w["declared"] else infer_payload_schema(spark, pre, dialect)
        parsed = route(parse_stream(pre, dialect, schema, keep_routing=True), "benchdb", table)
        t["parse"] += _med([_noop_ms(parsed) for _ in range(PROBE_REPS)])
        parsed = parsed.persist()
        cached.append(parsed)
        parsed_rows += parsed.count()
        if dedupes:
            deduped = dedupe_batch(parsed, ["id"], order_col="mtime")
            t["dedupe"] += _med([_noop_ms(deduped) for _ in range(PROBE_REPS)])
            deduped_rows += deduped.count()
    for df in cached:
        df.unpersist()
    n_tables = len(run.w["gen"]["tables"])
    return {
        "cdc.prefilter_ms": (t["prefilter"], "ms", PROBE_REPS),
        "cdc.parse_ms": (t["parse"], "ms", PROBE_REPS),
        "cdc.prefilter_keep_ratio": (kept / max(1, n_raw * n_tables), "ratio", 1),
        "cdc.rows_parsed_ratio": (parsed_rows / max(1, kept), "ratio", 1),
        "merge.dedupe_ms": (t["dedupe"], "ms", PROBE_REPS),
        "merge.dedupe_ratio": (deduped_rows / max(1, parsed_rows) if dedupes else 0.0, "ratio", 1),
    }


def per_layer_metrics(run) -> dict:
    rec = run.rec
    warm = run.warm()
    tables = run.w["gen"]["tables"]
    main_roots = {run.sink_root(t): t for t in tables}
    m: dict[str, tuple] = {}

    for key, name in STREAMING_KEYS.items():
        m[name] = (_med([b["duration"].get(key, 0) for b in warm]), "ms", len(warm))

    pb, self_ms, skew, coverage, sink_ms, scd2_ms = [], [], [], [], [], []
    n_spans = []
    for b in warm:
        spans = rec.for_batch(b["batch"])
        n_spans.append(len(spans))
        batch = [s for s in spans if s.name == "batch"]
        if not batch:
            continue
        top = batch[0]
        pb.append(top.ms)
        children = [s for s in spans if s.name in ("scd2", "infer")
                    or (s.name == "merge_batch" and s.attr in main_roots)]
        self_ms.append(top.ms - union_ms([(s.start, s.end) for s in children], top.start, top.end))
        per_table = {t: 0.0 for t in tables}
        for s in spans:
            if s.name == "merge_batch" and s.attr in main_roots:
                per_table[main_roots[s.attr]] += s.ms
            elif s.name == "scd2":
                per_table[os.path.basename(s.attr).removesuffix("__scd2")] += s.ms
        mean = statistics.mean(per_table.values())
        skew.append(max(per_table.values()) / mean if mean else 0.0)
        other = sum(v for k, v in b["duration"].items() if k not in ("addBatch", "triggerExecution"))
        coverage.append((top.ms + other) / b["ms"])
        sink_ms.append(sum(s.ms for s in spans if s.name == "merge_batch" and s.attr in main_roots))
        scd2_ms.append(sum(s.ms for s in spans if s.name == "scd2"))
    m["driver.process_batch_ms"] = (_med(pb), "ms", len(pb))
    m["driver.self_ms"] = (_med(self_ms), "ms", len(self_ms))
    m["driver.table_ms_max_over_mean"] = (_med(skew), "ratio", len(skew))
    m["trace.batch_coverage"] = (_med(coverage), "ratio", len(coverage))

    jobs = [b["jobs"] for b in warm]
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}_per_batch"] = (_med([j[k] for j in jobs]), "count", len(jobs))
    m["spark.failed_tasks"] = (sum(j["failed_tasks"] for j in jobs), "count", len(jobs))

    infer = [s for s in rec.spans if s.name == "infer"]
    m["cdc.infer_calls"] = (len(infer), "count", 1)
    m["cdc.infer_ms"] = (sum(s.ms for s in infer), "ms", len(infer))
    m.update(probes(run))

    commits = [c for b in warm for c in b["commits"]]
    by_op = {op: [c for c in commits if c["op"] == op] for op in ("delta", "upsert", "compact")}
    events = sum(b["events"] for b in warm) or 1
    written = by_op["delta"] + by_op["upsert"]
    m["sink.merge_batch_ms"] = (_med(sink_ms), "ms", len(sink_ms))
    m["sink.delta_commit_ms"] = (_med([c["wall_ms"] for c in by_op["delta"]]), "ms", len(by_op["delta"]))
    m["sink.upsert_commit_ms"] = (_med([c["wall_ms"] for c in by_op["upsert"]]), "ms", len(by_op["upsert"]))
    m["sink.compact_ms"] = (_med([c["wall_ms"] for c in by_op["compact"]]), "ms", len(by_op["compact"]))
    m["sink.compactions"] = (len(by_op["compact"]), "count", 1)
    m["sink.files_per_commit"] = (_med([c["files"] for c in written]), "count", len(written))
    m["sink.bytes_per_event"] = (
        sum(c["bytes"] for c in written + by_op["compact"]) / events, "B/ev", len(warm))
    m["sink.rows_written_per_event"] = (sum(c.get("rows") or 0 for c in written) / events, "ratio", len(warm))
    pending = [statistics.mean(c["n"] for c in b["commits"] if c["op"] == "pending") for b in warm]
    m["sink.pending_deltas"] = (_med(pending), "count", len(pending))

    m["scd2.apply_ms"] = (_med(scd2_ms), "ms", len(scd2_ms))
    m["scd2.commits"] = (sum(1 for s in rec.spans if s.name == "merge_batch"
                             and s.attr.endswith("__scd2/history")), "count", 1)

    for kind in ("lookup", "key_range", "snapshot", "ro_scan"):
        v = run.reads[kind]
        m[f"read.{kind}_ms"] = (_med(v), "ms", len(v))
    m["read.files_scanned"] = (_med(run.files_scanned), "count", len(run.files_scanned))

    # CPU seconds, the split of the gated setup_s
    m["setup.session_s"] = (run.setup["session_cpu_s"], "s", 1)
    m["setup.generate_s"] = (run.setup["generate_cpu_s"], "s", 1)

    # Spans are the only tracing work inside a batch (job counting runs
    # between batches). An A/B of traced and untraced batches in one run
    # cannot resolve it: batches differ by ~20% and a cycle holds one
    # compaction, which always fell into one of the two groups.
    m["trace.overhead_frac"] = (_med(n_spans) * span_cost_ms() / _med([b["ms"] for b in warm]),
                                "ratio", len(warm))
    return m
