"""The soak scripts and their shared harness (``scripts/soak_harness.py``).

- No soak decides its verdict with ``assert``: under ``python -O`` a failed
  check would write a passing artifact, and without ``-O`` it writes none.
- The harness's churn loop flags a batch ``compacted`` exactly when one of
  the maintainer's tables committed a compaction during it.
- The four churn soaks run end to end at a tiny scale (``slow``).
"""

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = ROOT / "scripts"
sys.path.insert(0, str(SCRIPTS))

import soak_harness  # noqa: E402

from kafka_cdc_hudi_spark.sinks.keyed_table import KeyedParquetTable  # noqa: E402

from .conftest import SF_DIR  # noqa: E402


def test_no_soak_verdict_rides_on_assert():
    found = [
        f"{p.name}:{node.lineno}"
        for p in sorted(SCRIPTS.glob("soak*.py"))
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Assert)
    ]
    assert not found, f"assert in a soak (stripped by -O; record the verdict instead): {found}"


def test_churn_loop_flags_compaction_batches(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(soak_harness, "N_BATCHES", 4)
    monkeypatch.setattr(soak_harness, "CHECK_EVERY", 2)
    schema = "id BIGINT, seq BIGINT, val STRING"
    t = KeyedParquetTable(str(tmp_path / "t"), keys=["id"], order_col="seq", mode="mor", compact_every=2)
    # independent record of the compactions: which batch ran one that committed
    compactions, spied = [], []
    fold = t._compact_locked

    def counting_fold(spark_):
        v = fold(spark_)
        if v is not None:
            compactions.append(v)
        return v

    t._compact_locked = counting_fold

    def apply(df, bid):
        n = len(compactions)
        t.merge_batch(spark, df, batch_id=bid)
        if len(compactions) > n:
            spied.append(bid)

    ingest = spark.createDataFrame([(i, 0, "v0") for i in range(5)], schema)
    summary = soak_harness.churn_loop(
        spark, [t], apply, ingest,
        lambda bid: [(100 + bid, bid, f"v{bid}"), (200 + bid, bid, f"v{bid}")],
        schema, lambda: (t.read(spark).count(), True), "n_rows",
    )
    flagged = [b["bid"] for b in summary["batches"] if b["compacted"]]
    assert flagged == spied
    assert 0 < len(flagged) < 4
    assert summary["compaction_batches"] == len(flagged)
    assert [c["bid"] for c in summary["checkpoints"]] == [2, 4]
    assert summary["checkpoints"][-1]["n_rows"] == 5 + 4 + 4


CHURN_SOAKS = ["soak_ann", "soak_bm25", "soak_churn", "soak_scd2"]
STAMP_KEYS = {"calib_sec", "calib_warm_sec", "calib_end_sec", "contaminated", "loadavg_start", "loadavg_end"}


@pytest.mark.slow
@pytest.mark.parametrize("name", CHURN_SOAKS)
def test_churn_soak_runs(name, tmp_path):
    env = {
        **os.environ,
        "SOAK_BATCHES": "2",
        "SOAK_CHURN": "10",
        "SOAK_CHECK_EVERY": "1",
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_CALIB_RETRIES": "0",
    }
    out = tmp_path / "out.json"
    proc = subprocess.run(
        [sys.executable, str(SCRIPTS / f"{name}.py"), SF_DIR, str(out)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    art = json.loads(out.read_text())
    assert art["all_checks_match"]
    assert [b["bid"] for b in art["batches"]] == [1, 2]
    assert all(isinstance(b["compacted"], bool) for b in art["batches"])
    assert [c["bid"] for c in art["checkpoints"]] == [1, 2]
    assert STAMP_KEYS <= art.keys()
