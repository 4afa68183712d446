"""Seeded CDC input generator for the benchmark.

Independent of the package under test: it writes Debezium or DMS JSON
envelopes from its own arguments, so a program change cannot change the
inputs. Every event also comes back as an ``Event`` tuple, which the oracle
replays; the wire lines are never parsed back.

Files come one at a time from :func:`iter_files`, so a caller can replay
them in step with the stream and hold one file in memory. Run as a script,
it writes every file of a spec into a directory:

    python3 perfbench/gen.py --spec '{"dialect": "debezium", ...}' --seed 1 --out DIR

Precombine values never tie: event ``i`` of a stream carries timestamp
``BASE_TS_MS + i`` (Debezium ``ts_ms``) or ``BASE_DT + i`` microseconds
(DMS ``metadata.timestamp``, fixed-width ISO text that orders like time).
"""

from __future__ import annotations

import argparse
import bisect
import datetime as dt
import json
import os
import random
from dataclasses import asdict, dataclass
from typing import Iterator, NamedTuple

DEBEZIUM = "debezium"
DMS = "dms"

BASE_TS_MS = 1_700_000_000_000
BASE_DT = dt.datetime(2024, 1, 1)
STATUSES = ("new", "paid", "shipped", "returned", "closed", "held", "lost")


class Event(NamedTuple):
    table: str
    key: int
    seq: int  # global position in the stream = precombine order
    deleted: bool
    payload: dict  # column -> value; deletes carry the row too


@dataclass(frozen=True)
class GenSpec:
    dialect: str
    tables: tuple[str, ...]
    n_keys: int  # key space per table
    events_per_file: int
    n_files: int
    zipf_s: float = 0.0  # 0 = uniform keys
    delete_frac: float = 0.1
    malformed_frac: float = 0.0
    drift_file: int | None = None  # first file whose drift tables carry `score`
    drift_tables: tuple[str, ...] = ()
    db: str = "benchdb"


@dataclass
class GenFile:
    lines: list[str]
    events: list[Event]
    n_malformed: int
    n_bytes: int = 0


def dms_timestamp(seq: int) -> str:
    return (BASE_DT + dt.timedelta(microseconds=seq)).strftime("%Y-%m-%d %H:%M:%S.%f")


class _KeyDraw:
    """Key sampler over ``[0, n)``: uniform, or Zipf(s) over ranks mapped
    through a seeded permutation so hot keys are scattered."""

    def __init__(self, rng: random.Random, n: int, s: float):
        self.rng, self.n = rng, n
        self.cdf = None
        if s > 0:
            acc, cdf = 0.0, []
            for r in range(1, n + 1):
                acc += r ** -s
                cdf.append(acc)
            self.cdf = [c / acc for c in cdf]
            self.perm = list(range(n))
            rng.shuffle(self.perm)

    def __call__(self) -> int:
        if self.cdf is None:
            return self.rng.randrange(self.n)
        return self.perm[min(bisect.bisect_left(self.cdf, self.rng.random()), self.n - 1)]


def _payload(rng: random.Random, key: int, drift: bool) -> dict:
    bits = rng.getrandbits(64)
    p = {
        "id": key,
        "name": f"n{bits & 0xFFFFF}",
        "amount": (bits >> 20) % 100_000 + 0.25,
        "qty": (bits >> 40) % 1000,
        "status": STATUSES[(bits >> 50) % len(STATUSES)],
    }
    if drift:
        p["score"] = (bits >> 53) % 1000 + 0.5
    return p


def _payload_json(p: dict) -> str:
    s = (
        f'{{"id":{p["id"]},"name":"{p["name"]}","amount":{p["amount"]!r},'
        f'"qty":{p["qty"]},"status":"{p["status"]}"'
    )
    return s + (f',"score":{p["score"]!r}}}' if "score" in p else "}")


def _debezium_line(db: str, e: Event) -> str:
    body = _payload_json(e.payload)
    before, after, op = (body, "null", "d") if e.deleted else ("null", body, "u")
    return (
        f'{{"before":{before},"after":{after},"op":"{op}",'
        f'"ts_ms":{BASE_TS_MS + e.seq},"db":"{db}","table":"{e.table}"}}'
    )


def _dms_line(db: str, e: Event) -> str:
    op = "delete" if e.deleted else "update"
    return (
        f'{{"data":{_payload_json(e.payload)},"metadata":{{"timestamp":"{dms_timestamp(e.seq)}",'
        f'"record-type":"data","operation":"{op}","partition-key-type":"primary-key",'
        f'"schema-name":"{db}","table-name":"{e.table}","transaction-id":{e.seq}}}}}'
    )


def iter_files(spec: GenSpec, seed: int) -> Iterator[GenFile]:
    """The files of one workload in order. Same ``(spec, seed)`` -> same bytes."""
    rng = random.Random(f"perfbench:{seed}")
    draw = _KeyDraw(rng, spec.n_keys, spec.zipf_s)
    line_of = _dms_line if spec.dialect == DMS else _debezium_line
    seq = 0
    for f in range(spec.n_files):
        lines: list[str] = []
        events: list[Event] = []
        n_bad = 0
        for _ in range(spec.events_per_file):
            seq += 1
            table = spec.tables[rng.randrange(len(spec.tables))]
            key = draw()
            drift = (
                spec.drift_file is not None
                and f >= spec.drift_file
                and table in spec.drift_tables
            )
            e = Event(table, key, seq, rng.random() < spec.delete_frac, _payload(rng, key, drift))
            line = line_of(spec.db, e)
            if spec.malformed_frac and rng.random() < spec.malformed_frac:
                # truncated inside the payload: the envelope's op field is
                # never reached, so this is not an event at all
                lines.append(line[: line.index('"amount"')])
                n_bad += 1
                continue
            lines.append(line)
            events.append(e)
        yield GenFile(lines, events, n_bad, sum(len(s) + 1 for s in lines))


def file_name(i: int) -> str:
    return f"part-{i:05d}.json"


def write_file(gf: GenFile, path: str) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(gf.lines) + "\n")


def spec_json(spec: GenSpec) -> str:
    return json.dumps(asdict(spec))


def spec_from_json(text: str) -> GenSpec:
    d = json.loads(text)
    for k in ("tables", "drift_tables"):
        d[k] = tuple(d[k])
    return GenSpec(**d)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description="Write the seeded input files of one spec.")
    ap.add_argument("--spec", required=True, help="GenSpec fields as JSON")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="existing directory")
    args = ap.parse_args(argv)
    for i, gf in enumerate(iter_files(spec_from_json(args.spec), args.seed)):
        write_file(gf, os.path.join(args.out, file_name(i)))


if __name__ == "__main__":
    main()
