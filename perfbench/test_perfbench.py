"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import gen  # noqa: E402
from gen import DEBEZIUM, DMS, GenSpec, iter_files, write_file  # noqa: E402
from run import WORKLOADS, Run, pct, tail_pct  # noqa: E402
from spans import union_ms  # noqa: E402

SPEC = GenSpec(DMS, ("a", "b"), n_keys=500, events_per_file=400, n_files=3, zipf_s=1.1,
               malformed_frac=0.05, drift_file=1, drift_tables=("a",))


def generate(spec, seed):
    return list(iter_files(spec, seed))


def _bytes(files, tmp_path, tag):
    out = []
    for i, gf in enumerate(files):
        p = tmp_path / f"{tag}-{i}.json"
        write_file(gf, str(p))
        out.append(p.read_bytes())
    return out


def test_same_seed_gives_identical_files(tmp_path):
    assert _bytes(generate(SPEC, 5), tmp_path, "x") == _bytes(generate(SPEC, 5), tmp_path, "y")
    assert _bytes(generate(SPEC, 5), tmp_path, "x") != _bytes(generate(SPEC, 6), tmp_path, "z")


def test_script_writes_the_iterated_files(tmp_path):
    gen.main(["--spec", gen.spec_json(SPEC), "--seed", "5", "--out", str(tmp_path)])
    written = [(tmp_path / gen.file_name(i)).read_bytes() for i in range(SPEC.n_files)]
    assert written == _bytes(generate(SPEC, 5), tmp_path, "x")
    assert gen.spec_from_json(gen.spec_json(SPEC)) == SPEC


def test_generator_shape():
    files = generate(SPEC, 1)
    lines = [line for f in files for line in f.lines]
    n_events = sum(len(f.events) for f in files)
    assert len(lines) == 3 * 400
    good = [json.loads(line) for line in lines if line.endswith("}")]
    assert len(good) == n_events
    assert sum(f.n_malformed for f in files) == len(lines) - n_events > 0
    # precombine values strictly increase, so they never tie
    ts = [d["metadata"]["timestamp"] for d in good]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    # drift: only table "a" from file 1 on carries the new column
    for f_idx, f in enumerate(files):
        for e in f.events:
            assert ("score" in e.payload) == (e.table == "a" and f_idx >= 1)
    deb = generate(GenSpec(DEBEZIUM, ("t",), 100, 50, 1, delete_frac=0.5), 2)
    ops = {json.loads(line)["op"] for line in deb[0].lines}
    assert ops == {"u", "d"}


def test_replay_latest_wins_and_deletes_drop():
    g = generate(GenSpec(DEBEZIUM, ("t",), 50, 300, 2, delete_frac=0.3), 3)
    r = oracle.Replay(("t",))
    events = [e for f in g for e in f.events]
    r.apply(events)
    last = {}
    for e in events:
        last[e.key] = e
    assert set(r.state["t"]) == {k for k, e in last.items() if not e.deleted}
    assert all(r.state["t"][k] == last[k].payload for k in r.state["t"])


def test_oracle_rejects_corrupted_state():
    oracle.self_test()
    live = {k: oracle.sample_row(k) for k in range(20)}
    rows = list(live.values())
    assert oracle.compare_rows("ok", rows, live) == []
    assert oracle.compare_rows("bad", oracle.corrupted(rows), live)
    cols = {c: [r[c] for r in oracle.corrupted(rows)] for c in oracle.PAYLOAD_COLS}
    assert oracle.compare_columns("bad", cols, live, oracle.PAYLOAD_COLS)
    assert oracle.compare_value("n", 1, 2)


def test_union_ms_counts_overlap_once():
    assert union_ms([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)], 0.0, 10.0) == 3000.0
    assert union_ms([(0.0, 5.0)], 1.0, 2.0) == 1000.0
    assert union_ms([], 0.0, 1.0) == 0.0


def test_tail_percentile_rule():
    assert tail_pct(20) == 90 and tail_pct(200) == 95 and tail_pct(10_000) == 99
    assert pct(list(range(1, 11)), 90) == 9 and pct([5], 90) == 5


def test_workloads_match_benchmark_json():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_runs_hold_whole_compaction_cycles():
    for name, w in WORKLOADS.items():
        run = Run(name, 1, 15, False)
        want = w.get("compact_every", 10) if w["sink_mode"] == "mor" else 1
        assert run.cycle() == want
        assert (run.gen_spec().n_files - w["warmup"]) % want == 0
