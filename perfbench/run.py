#!/usr/bin/env python3
"""CDC stream benchmark: ingest throughput, batch latency and read latency.

Run from the repository root:

    python3 perfbench/run.py --workload mor_ingest --seed 1 --seconds 10 --trace 0

Each run starts one local Spark session, generates its seeded input files,
drives them through ``CdcStreamDriver.start()`` one file per micro-batch
(the next file is released when the previous batch has committed), checks
every read and the final state against a Python replay of the events, and
prints one JSON object as its last line. ``--trace 1`` reports per-layer
metrics instead of end-to-end ones; see README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
from gen import DEBEZIUM, DMS, GenSpec, file_name, iter_files, spec_json  # noqa: E402

PACKAGE = "kafka_cdc_hudi_spark"
WORK = ".perfbench"  # under the checkout root; removed at the end of a run
DB = "benchdb"
N_LOOKUP_KEYS = 50
LOOKUPS_PER_ROUND = 2  # independent key sets per read round
SETUP_REPS = 3
POST_READS = 3
MAX_FILES = 60
CHECK_COLS = oracle.PAYLOAD_COLS + ("score",)  # score exists after schema drift only


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- workloads ---------------------------------------------------------------
#
# Why each workload is here: BENCHMARK.json.
#
# ``gen`` sizes one input file (= one micro-batch). A run processes a fixed
# number of files: ``warmup`` batches, the cold one included, that are not
# measured, then as many measured batches as fill ``--seconds`` at
# ``est_step_s`` per batch (and its reads) on a 4-vCPU machine, rounded to
# whole compaction cycles of ``compact_every`` batches on a MOR sink. So
# every run of a workload and ``--seconds`` does the same work, and a
# faster program finishes sooner. ``read_mix`` runs the full read mix after
# every measured commit (a cycle samples each pending-delta count once); other
# workloads run POST_READS rounds of point lookups and snapshot scans on
# their final state.

WORKLOADS = {
    "mor_ingest": dict(
        gen=dict(dialect=DEBEZIUM, tables=("orders",), n_keys=30_000,
                 events_per_file=10_000, zipf_s=1.1, delete_frac=0.1),
        est_step_s=3.6, sink_mode="mor", compact_every=5,
        warmup=5, declared=True, read_mix=True,
    ),
    "multi_table_fanout": dict(
        gen=dict(dialect=DMS, tables=("t0", "t1", "t2"), n_keys=20_000,
                 events_per_file=3_000, delete_frac=0.1, malformed_frac=0.002,
                 drift_file=1, drift_tables=("t0", "t1")),
        est_step_s=8.5, sink_mode="cow", declared=False, warmup=2,
        scd2_tables=("t0",), quarantine=True,
    ),
}


# -- helpers -------------------------------------------------------------------

def pct(values, p: float) -> float:
    """Nearest-rank percentile (p in 0..100)."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100.0 * len(v)) - 1)]


def tail_pct(n: int) -> int:
    """Highest whole percentile with at least 10 samples beyond it, kept
    within p90..p99: a run of under 100 samples reports p90."""
    return max(90, min(99, math.floor(100.0 * (1.0 - 10.0 / n)))) if n else 90


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def process_tree(pid: int) -> list[int]:
    """``pid`` and every descendant (the JVM is a child of the driver)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_rss_mb(pids: list[int], field: str = "VmHWM") -> float:
    """Sum of ``field`` (VmHWM: peak RSS, VmRSS: current) over ``pids``."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith(field + ":"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def columns(df, cols) -> dict[str, list]:
    """The ``cols`` of ``df`` that exist, as Python lists (through Arrow)."""
    if df is None:
        return {}
    pdf = df.select(*[c for c in cols if c in df.columns]).toPandas()
    return {c: pdf[c].tolist() for c in pdf.columns}


def _stat_fields(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name (field 3 on)."""
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its descendants, all
    threads, reaped children included (a worker that has exited counts
    through its parent). The kernel leaves out time the host stole from a
    virtual CPU, so on a shared machine this moves less than wall time."""
    total = 0
    for p in process_tree(os.getpid()):
        try:
            total += sum(int(x) for x in _stat_fields(f"/proc/{p}/stat")[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm: int | None) -> float:
    """CPU seconds of the JVM's JIT compiler threads (their set is fixed:
    the session turns off dynamic compiler threads)."""
    if jvm is None:
        return 0.0
    total = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm") as fh:
                if not fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            total += sum(int(x) for x in _stat_fields(f"/proc/{jvm}/task/{tid}/stat")[11:13])
        except (OSError, IndexError, ValueError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class CpuClock:
    """CPU time of the driver process and its JVM, split into the JIT
    compiler's share and the rest ("work"). JIT compilation is warm-up: it
    falls off as the run goes on and its amount varies from run to run, so
    the gated metrics leave it out; the detail record keeps it."""

    def __init__(self):
        self.jvm = next((p for p in process_tree(os.getpid())[1:] if _comm(p) == "java"), None)

    def read(self) -> tuple[float, float]:
        """(work, jit) CPU seconds so far."""
        jit = jit_cpu_s(self.jvm)
        return tree_cpu_s() - jit, jit


def stamp() -> dict:
    """Run stamp: a noisy run can be picked out afterwards. ``cpu_jiffies``
    is the machine's /proc/stat cpu line; its ``steal`` column counts time
    the host ran other machines on our CPUs."""
    with open("/proc/stat") as fh:
        jiffies = [int(x) for x in fh.readline().split()[1:]]
    return {"nproc": nproc(), "loadavg_1m": os.getloadavg()[0], "wall_clock": time.time(),
            "cpu_jiffies": {"total": sum(jiffies), "steal": jiffies[7]}}


def steal_frac(before: dict, after: dict) -> float:
    b, a = before["cpu_jiffies"], after["cpu_jiffies"]
    return (a["steal"] - b["steal"]) / max(1, a["total"] - b["total"])


class Run:
    """One workload run: set-up, the stream, reads, checks and metrics."""

    def __init__(self, name: str, seed: int, seconds: float, traced: bool):
        self.name, self.seed, self.seconds, self.traced = name, seed, seconds, traced
        self.w = WORKLOADS[name]
        self.work = os.path.abspath(os.path.join(WORK, name))
        self.attempted = 0
        self.mismatches: list[str] = []
        self.batches: list[dict] = []  # one record per processed file
        self.reads: dict[str, list[float]] = {"lookup": [], "key_range": [], "snapshot": [], "ro_scan": []}
        self.files_scanned: list[int] = []
        self.read_cpu: dict[str, list[float]] = {k: [] for k in self.reads}  # CPU ms per read
        self.setup: dict[str, float] = {}
        self.rec = self.jobs = None  # span recorder and job counter, traced runs only

    # -- set-up ------------------------------------------------------------
    def check(self, bad: list[str]) -> None:
        self.attempted += 1
        self.mismatches.extend(bad)

    def compact_every(self) -> int:
        return self.w.get("compact_every", 10)

    def cycle(self) -> int:
        """Batches per compaction cycle; a run measures whole cycles."""
        return self.compact_every() if self.w["sink_mode"] == "mor" else 1

    def gen_spec(self) -> GenSpec:
        # the warm-up plus whole cycles for the measured seconds
        cycle = self.cycle()
        n = self.w["warmup"] + cycle * max(1, round(self.seconds / self.w["est_step_s"] / cycle))
        return GenSpec(n_files=min(n, MAX_FILES), db=DB, **self.w["gen"])

    def start_session(self):
        c0, t0 = tree_cpu_s(), time.perf_counter()
        from kafka_cdc_hudi_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench", shuffle_partitions=nproc(),
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.ui.showConsoleProgress": "false",
                # JVM temp files inside the checkout, no /tmp/hsperfdata
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                    " -XX:-UseDynamicNumberOfCompilerThreads",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session_s"] = time.perf_counter() - t0
        self.setup["session_cpu_s"] = tree_cpu_s() - c0
        self.cpu = CpuClock()

    def prepare(self) -> None:
        """Write the input files SETUP_REPS times (the last set is kept) and
        report the median. A child process writes them, so generation never
        counts toward this process's peak RSS; the stream replays the same
        files from ``iter_files`` one at a time."""
        self.spec = self.gen_spec()
        stage = os.path.join(self.work, "stage")
        cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--spec", spec_json(self.spec),
               "--seed", str(self.seed), "--out", stage]
        times, cpu = [], []
        for _ in range(SETUP_REPS):
            shutil.rmtree(stage, ignore_errors=True)
            os.makedirs(stage)
            c0, t0 = tree_cpu_s(), time.perf_counter()
            subprocess.run(cmd, check=True)
            times.append(time.perf_counter() - t0)
            cpu.append(tree_cpu_s() - c0)  # the exited child counts through cutime
        os.makedirs(os.path.join(self.work, "src"))
        self.setup["generate_s"] = median(times)
        self.setup["generate_cpu_s"] = median(cpu)

    def stage_path(self, i: int) -> str:
        return os.path.join(self.work, "stage", file_name(i))

    def table_specs(self):
        from kafka_cdc_hudi_spark.config import TableSpec

        return [TableSpec(db=DB, table=t, primary_keys=("id",)) for t in self.w["gen"]["tables"]]

    def payload_schema(self):
        from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

        return StructType([
            StructField("id", LongType()), StructField("name", StringType()),
            StructField("amount", DoubleType()), StructField("qty", LongType()),
            StructField("status", StringType()),
        ])

    def sink_root(self, table: str) -> str:
        return os.path.join(self.work, "sink", DB, table)

    # -- the stream ----------------------------------------------------------
    def job_config(self):
        from kafka_cdc_hudi_spark.config import DIALECT_DEBEZIUM, DIALECT_DMS, JobConfig

        w = self.w
        return JobConfig(
            dialect=DIALECT_DMS if w["gen"]["dialect"] == DMS else DIALECT_DEBEZIUM,
            tables=self.table_specs(),
            sink_root=os.path.join(self.work, "sink"),
            checkpoint_location=os.path.join(self.work, "ckpt"),
            sink_mode=w["sink_mode"],
            compact_every=self.compact_every(),
            trigger_interval="0 seconds",
            max_workers=min(4, nproc()),
            quarantine_dir=os.path.join(self.work, "quarantine") if w.get("quarantine") else None,
            scd2_history=bool(w.get("scd2_tables")),
            scd2_history_mode="mor",
            scd2_tables=tuple(w.get("scd2_tables", ())),
        )

    def stream(self) -> None:
        from kafka_cdc_hudi_spark.sources.kafka import json_file_value_stream
        from kafka_cdc_hudi_spark.streaming.driver import CdcStreamDriver

        schemas = {t: self.payload_schema() for t in self.w["gen"]["tables"]} if self.w["declared"] else {}
        self.driver = CdcStreamDriver(self.spark, self.job_config(), payload_schemas=schemas)
        self.replay = oracle.Replay(self.w["gen"]["tables"])
        tables = self.w["gen"]["tables"]
        self.live_counts: list[int] = []  # live keys of the first table after each batch
        self.ro_batch = -1  # batch whose state the read-optimized base holds
        self.base_versions = {t: self.base_version(t) for t in tables}
        self.seen = {t: set(self.commit_meta(t)) for t in tables}
        src = os.path.join(self.work, "src")
        files = iter_files(self.spec, self.seed)
        q = self.driver.start(json_file_value_stream(self.spark, src, max_files_per_trigger=1))
        try:
            for i in range(self.spec.n_files):
                gf = next(files)
                os.replace(self.stage_path(i), os.path.join(src, file_name(i)))
                warm = i - self.w["warmup"]  # measured batches before this one
                if self.rec is not None:
                    self.rec.enabled = True
                    self.jobs.advance()  # the job window is this batch alone
                c0 = self.cpu.read()
                q.processAllAvailable()
                prog = self.wait_progress(q, i)
                cpu_ms, jit_ms = ((b - a) * 1000.0 for a, b in zip(c0, self.cpu.read()))
                self.check(oracle.compare_value(f"batch {i} input rows", prog["numInputRows"],
                                                len(gf.events) + gf.n_malformed))
                self.replay.apply(gf.events)
                rec = {"batch": i, "events": len(gf.events), "bytes": gf.n_bytes,
                       "malformed": gf.n_malformed, "ms": float(prog["batchDuration"]),
                       "cpu_ms": cpu_ms, "jit_ms": jit_ms, "duration": dict(prog["durationMs"])}
                if self.rec is not None:
                    self.rec.enabled = False
                    rec["jobs"] = self.jobs.delta()
                rec["commits"] = self.new_commits()
                self.batches.append(rec)
                self.live_counts.append(len(self.replay.state[tables[0]]))
                # reads after every measured commit; the round just before
                # the first measured batch warms the read path, unrecorded
                if self.w.get("read_mix") and warm >= -1:
                    self.read_round(i, record=warm >= 0)
            if q.exception() is not None:
                self.mismatches.append(f"query failed: {q.exception()}")
        finally:
            q.stop()

    def wait_progress(self, q, batch_id: int, timeout: float = 30.0):
        """The progress report of executed batch ``batch_id``. An idle
        trigger also reports (every 10 s by default), under the id of the
        batch still to come and without ``addBatch``; those are skipped."""
        t0 = time.perf_counter()
        while True:
            for r in q.recentProgress:
                if r["batchId"] == batch_id and "addBatch" in r["durationMs"]:
                    return r
            if time.perf_counter() - t0 > timeout:
                raise RuntimeError(f"no progress report for batch {batch_id}")
            time.sleep(0.01)

    # -- commit metadata -------------------------------------------------------
    def base_version(self, table: str):
        meta = self.commit_meta(table)
        bases = [v for v, m in meta.items() if m.get("op") in ("compact", "upsert")]
        return max(bases, default=None)

    def commit_meta(self, table: str) -> dict:
        from kafka_cdc_hudi_spark.sinks.keyed_table import KeyedParquetTable

        return KeyedParquetTable(self.sink_root(table), keys=["id"]).commit_meta()

    def new_commits(self) -> list[dict]:
        """Commits each main table made in the batch just run (the pointer
        keeps only recent versions, so this is read after every batch)."""
        out = []
        tables = self.w["gen"]["tables"]
        for t in tables:
            meta = self.commit_meta(t)
            for v in sorted(set(meta) - self.seen[t]):
                self.seen[t].add(v)
                out.append(dict(meta[v], table=t, version=v))
            base = max((v for v, m in meta.items() if m.get("op") in ("compact", "upsert")), default=None)
            if base != self.base_versions[t]:
                self.base_versions[t] = base
                if t == tables[0]:
                    self.ro_batch = len(self.batches)
            out.append({"op": "pending", "table": t,
                        "n": sum(1 for v, m in meta.items() if m.get("op") == "delta" and (base is None or v > base))})
        return out

    # -- reads -----------------------------------------------------------------
    def timed(self, kind: str, fn, record: bool):
        c0 = self.cpu.read()[0]
        t0 = time.perf_counter()
        out = fn()
        ms = (time.perf_counter() - t0) * 1000.0
        if record:
            self.reads[kind].append(ms)
            self.read_cpu[kind].append((self.cpu.read()[0] - c0) * 1000.0)
            if self.rec is not None:
                self.rec.add("read", kind, None, t0, t0 + ms / 1000.0)
        return out

    def files_in_read(self, table: str, read_optimized: bool) -> int:
        """Parquet files under the base and delta directories a read of
        ``table`` resolves, from the pointer's commit manifest."""
        root = self.sink_root(table)
        with open(os.path.join(root, "_VERSION")) as fh:
            commits = {int(v): k for v, k in json.load(fh)["commits"].items()}
        base = max((v for v, k in commits.items() if k == "base"), default=None)
        dirs = [] if base is None else [f"v_{base:08d}"]
        if not read_optimized:
            dirs += [f"d_{v:08d}" for v, k in commits.items() if k == "delta" and (base is None or v > base)]
        n = 0
        for d in dirs:
            for _r, _d, names in os.walk(os.path.join(root, d)):
                n += sum(1 for x in names if x.endswith(".parquet"))
        return n

    def read_round(self, r: int, full: bool = True, record: bool = True) -> None:
        """One closed-loop round of the read mix on the first table, each
        read checked against the replay at this point of the stream;
        ``record`` keeps its timings."""
        from pyspark.sql import functions as F

        table = self.w["gen"]["tables"][0]
        sink = self.driver.sink_for(next(s for s in self.table_specs() if s.table == table))
        live = self.replay.state[table]
        n_keys = self.w["gen"]["n_keys"]
        rng = random.Random(f"reads:{self.seed}:{r}:{table}")
        for j in range(LOOKUPS_PER_ROUND):
            # half live keys, half drawn from the whole key space
            keys = set(rng.sample(sorted(live), min(len(live), N_LOOKUP_KEYS // 2)))
            keys.update(rng.sample(range(n_keys), N_LOOKUP_KEYS - len(keys)))
            rows = self.timed("lookup", lambda: sink.read_keys(self.spark, [(k,) for k in keys]).collect(),
                              record)
            self.check(oracle.compare_rows(f"lookup r{r}.{j}", [x.asDict() for x in rows],
                                           {k: live[k] for k in keys if k in live}))
        counts = self.timed("snapshot", lambda: sink.read(self.spark).groupBy("status").count().collect(),
                            record)
        self.check(oracle.compare_value(f"snapshot r{r}", {x["status"]: x["count"] for x in counts},
                                        oracle.status_counts(live)))
        if not full:
            return
        if record:
            self.files_scanned.append(self.files_in_read(table, False))
        lo = rng.randrange(n_keys - n_keys // 100)
        hi = lo + n_keys // 100
        pred = (F.col("id") >= lo) & (F.col("id") < hi)
        rows = self.timed("key_range", lambda: sink.read_where_keys(self.spark, pred).collect(), record)
        self.check(oracle.compare_rows(f"key range r{r}", [x.asDict() for x in rows],
                                       {k: p for k, p in live.items() if lo <= k < hi}))
        if self.w["sink_mode"] == "mor":
            # no base before the first compaction: nothing to scan yet
            ro = sink.read(self.spark, read_optimized=True)
            self.check(oracle.compare_value(f"read-optimized base exists r{r}", ro is not None,
                                            self.ro_batch >= 0))
            if ro is not None and self.ro_batch >= 0:
                n_ro = self.timed("ro_scan", ro.count, record)
                self.check(oracle.compare_value(f"read-optimized count r{r}", n_ro,
                                                self.live_counts[self.ro_batch]))

    # -- final checks -----------------------------------------------------------
    def final_checks(self) -> None:
        live_tables = self.replay.state
        for spec in self.table_specs():
            df = self.driver.sink_for(spec).read(self.spark)
            self.check(oracle.compare_columns(f"final {spec.table}", columns(df, CHECK_COLS),
                                              live_tables[spec.table], CHECK_COLS))
        if self.w.get("quarantine"):
            qdir = os.path.join(self.work, "quarantine")
            n_q = 0
            for root, _d, names in os.walk(qdir):
                for x in names:
                    if not x.startswith((".", "_")):
                        with open(os.path.join(root, x)) as fh:
                            n_q += sum(1 for line in fh if line.strip())
            want = sum(b["malformed"] for b in self.batches)
            self.check(oracle.compare_value("quarantined lines", n_q, want))
        for t in self.w.get("scd2_tables", ()):
            spec = next(s for s in self.table_specs() if s.table == t)
            hist = self.driver.scd2_for(spec).read(self.spark)
            cur = columns(None if hist is None else hist.filter("is_current"), CHECK_COLS)
            self.check(oracle.compare_columns(f"scd2 open rows {t}", cur, live_tables[t], CHECK_COLS))

    # -- metrics -------------------------------------------------------------------
    def warm(self) -> list[dict]:
        return self.batches[self.w["warmup"]:]

    def e2e_metrics(self) -> dict:
        """The gated metrics: set-up time, CPU cost, bytes written and
        memory. Read CPU and every wall-clock figure go to the detail record
        only: they moved too much between runs of the same code (README.md)."""
        warm = self.warm()
        events = sum(b["events"] for b in warm)
        written = [c for b in warm for c in b["commits"] if c["op"] in ("delta", "upsert", "compact")]
        m = {
            "setup_s": (self.setup["session_cpu_s"] + self.setup["generate_cpu_s"], "s", SETUP_REPS),
            "cpu_ms_per_kevent": (sum(b["cpu_ms"] for b in warm) / (events / 1000.0), "ms/kev", len(warm)),
            "write_bytes_per_event": (sum(c["bytes"] for c in written) / events, "B/ev", len(written)),
            "peak_rss_mb": (self.peak_rss_mb, "MB", 1),
        }
        lk, sc = self.read_cpu["lookup"], self.read_cpu["snapshot"]
        self.detail["cpu"] = {
            "lookup_cpu_ms": {"value": statistics.mean(lk), "unit": "ms", "n": len(lk)},
            "scan_cpu_ms": {"value": statistics.mean(sc), "unit": "ms", "n": len(sc)},
            "first_batch_cpu_ms": {"value": self.batches[0]["cpu_ms"], "unit": "ms", "n": 1},
        }
        ms, wl = [b["ms"] for b in warm], self.reads["lookup"]
        tp, lp = tail_pct(len(ms)), tail_pct(len(wl))
        self.detail["wall"] = {
            "events_per_s": {"value": events / (sum(ms) / 1000.0), "unit": "ev/s", "n": len(ms)},
            "batch_ms_p50": {"value": median(ms), "unit": "ms", "n": len(ms)},
            "batch_ms_tail": {"value": pct(ms, tp), "unit": "ms", "pct": tp, "n": len(ms)},
            "first_batch_ms": {"value": self.batches[0]["ms"], "unit": "ms", "n": 1},
            "lookup_ms_p50": {"value": median(wl), "unit": "ms", "n": len(wl)},
            "lookup_ms_tail": {"value": pct(wl, lp), "unit": "ms", "pct": lp, "n": len(wl)},
            "scan_ms_p50": {"value": median(self.reads["snapshot"]), "unit": "ms",
                            "n": len(self.reads["snapshot"])},
        }
        return m

    def run(self) -> dict:
        self.detail = {"workload": self.name, "seed": self.seed, "trace": int(self.traced),
                       "stamp_before": stamp()}
        oracle.self_test()
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        phases, t0 = {}, time.perf_counter()

        def phase(name):
            nonlocal t0
            t1 = time.perf_counter()
            phases[name] = round(t1 - t0, 3)
            t0 = t1

        self.start_session()
        self.prepare()
        phase("setup")
        # what this process holds before the stream: interpreter, PySpark,
        # the session's Python side; the JVM's own footprint is separate
        self.detail["driver_rss_before_stream_mb"] = tree_rss_mb([os.getpid()], "VmRSS")
        if self.traced:
            import spans

            self.rec = spans.Recorder()
            spans.install(self.rec)
            self.jobs = spans.JobCounter(self.spark.sparkContext)
        self.stream()
        phase("stream")
        if not self.w.get("read_mix"):
            for r in range(POST_READS + 1):  # round 0 warms the read path
                self.read_round(r, full=False, record=r > 0)
        phase("post_reads")
        # before the final checks' bulk collects
        self.peak_rss_mb = tree_rss_mb(process_tree(os.getpid()))
        self.final_checks()
        phase("checks")
        self.detail["phases_s"] = phases
        self.detail["setup_s"] = self.setup
        if self.traced:
            import layers

            metrics = layers.per_layer_metrics(self)
        else:
            metrics = self.e2e_metrics()
        self.detail["stamp_after"] = stamp()
        self.detail["steal_frac"] = steal_frac(self.detail["stamp_before"], self.detail["stamp_after"])
        self.detail["input"] = {k: sum(b[k] for b in self.batches) for k in ("events", "bytes", "malformed")}
        self.detail["input"]["batches"] = len(self.batches)
        self.detail["batch_ms"] = [b["ms"] for b in self.batches]
        self.detail["batch_cpu_ms"] = [round(b["cpu_ms"]) for b in self.batches]
        self.detail["batch_jit_ms"] = [round(b["jit_ms"]) for b in self.batches]
        self.detail["read_ms"] = {k: [round(x) for x in v] for k, v in self.reads.items()}
        self.detail["read_cpu_ms"] = {k: [round(x) for x in v] for k, v in self.read_cpu.items()}
        self.detail["mismatches"] = self.mismatches[:20]
        self.detail["metrics"] = {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in metrics.items()}
        return {
            "correct": not self.mismatches,
            "attempted": max(1, self.attempted),
            "failed": len(self.mismatches),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u, _n) in metrics.items()},
        }

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit (it exits when its
        stdin closes)."""
        spark = getattr(self, "spark", None)
        if spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            spark.stop()
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isdir(PACKAGE) and os.path.isfile("BENCHMARK.json")):
        print(f"perfbench: ./{PACKAGE} or ./BENCHMARK.json not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    work = os.path.abspath(WORK)
    os.makedirs(work, exist_ok=True)
    # keep Spark and Python temp files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = run.run()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    with open("BENCHMARK.json") as fh:
        declared = {m["name"] for m in json.load(fh)["per_layer" if args.trace else "end_to_end"]}
    if set(result["metrics"]) != declared:
        print(f"perfbench: metrics {sorted(set(result['metrics']) ^ declared)} disagree with "
              "BENCHMARK.json", file=sys.stderr)
        return 3
    print(json.dumps(run.detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
