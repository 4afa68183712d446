"""Independent oracle: replays generated events in plain Python.

Latest event per key wins (precombine values never tie, see gen.py),
deletes drop the key. Comparisons return a list of mismatch strings; an
empty list means the state matched. Each mismatch counts as one failed
operation in the benchmark's result.
"""

from __future__ import annotations

import math
from collections import Counter

from gen import STATUSES, Event

PAYLOAD_COLS = ("id", "name", "amount", "qty", "status")


class Replay:
    """Per-table live state: ``{table: {key: payload}}``."""

    def __init__(self, tables):
        self.state: dict[str, dict[int, dict]] = {t: {} for t in tables}

    def apply(self, events: list[Event]) -> None:
        for e in events:
            live = self.state[e.table]
            if e.deleted:
                live.pop(e.key, None)
            else:
                live[e.key] = e.payload


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=0, abs_tol=1e-9)
    return a == b


def compare_columns(what: str, got: dict[str, list], want: dict[int, dict], cols) -> list[str]:
    """Columnar form of :func:`compare_rows` for whole tables: ``got`` maps
    each column to its values (NaN or a missing column read as None). The
    fast path compares row tuples as multisets; only a mismatch builds
    per-row dicts for the report."""
    n = len(got.get("id", []))
    colvals = []
    for c in cols:
        vals = got.get(c, [None] * n)
        colvals.append([None if isinstance(v, float) and math.isnan(v) else v for v in vals])
    got_rows = list(zip(*colvals)) if n else []
    want_rows = [tuple(p.get(c) for c in cols) for p in want.values()]
    if len(got_rows) == len(want_rows) and Counter(got_rows) == Counter(want_rows):
        return []
    return compare_rows(what, [dict(zip(cols, r)) for r in got_rows], want, cols)


def compare_rows(what: str, got: list[dict], want: dict[int, dict], cols=None) -> list[str]:
    """``got``: rows read from the sink (dicts with at least ``id``);
    ``want``: ``{key: payload}``. Columns default to the union of the
    expected payload keys; a column missing from a row reads as None."""
    bad: list[str] = []
    seen: dict[int, dict] = {}
    for r in got:
        k = r["id"]
        if k in seen:
            bad.append(f"{what}: key {k} appears twice")
        seen[k] = r
    for k in sorted(set(want) - set(seen))[:5]:
        bad.append(f"{what}: key {k} missing")
    for k in sorted(set(seen) - set(want))[:5]:
        bad.append(f"{what}: key {k} should not exist")
    n_diff = 0
    for k in set(seen) & set(want):
        exp, row = want[k], seen[k]
        for c in cols or exp.keys():
            if not _same(row.get(c), exp.get(c)):
                n_diff += 1
                if n_diff <= 5:
                    bad.append(f"{what}: key {k} column {c}: got {row.get(c)!r}, want {exp.get(c)!r}")
    if n_diff > 5:
        bad.append(f"{what}: {n_diff - 5} more differing values")
    return bad


def compare_value(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


def status_counts(live: dict[int, dict]) -> dict[str, int]:
    return dict(Counter(p["status"] for p in live.values()))


def corrupted(rows: list[dict]) -> list[dict]:
    """A copy of ``rows`` with one value changed, one row dropped and one
    row duplicated — the self-test's input, which every compare must
    reject."""
    out = [dict(r) for r in rows]
    out[0]["amount"] = (out[0].get("amount") or 0) + 1.0
    out.pop()
    out.append(dict(out[1]))
    return out


def sample_row(key: int) -> dict:
    return {"id": key, "name": f"n{key}", "amount": key + 0.25, "qty": key % 13,
            "status": STATUSES[key % len(STATUSES)]}


def self_test() -> None:
    """Fail loudly if the comparison could pass on a wrong state (explicit
    raises, so the check survives ``python -O``)."""
    live = {k: sample_row(k) for k in range(10)}
    rows = list(live.values())
    columns = {c: [r[c] for r in rows] for c in PAYLOAD_COLS}
    bad_columns = {c: [r[c] for r in corrupted(rows)] for c in PAYLOAD_COLS}
    checks = [
        (compare_rows("clean", rows, live) == [], "oracle rejects a correct state"),
        (len(compare_rows("corrupt", corrupted(rows), live)) >= 3, "oracle missed injected corruption"),
        (compare_columns("clean", columns, live, PAYLOAD_COLS) == [], "columnar oracle rejects a correct state"),
        (bool(compare_columns("corrupt", bad_columns, live, PAYLOAD_COLS)), "columnar oracle missed corruption"),
        (bool(compare_value("count", 9, 10)), "oracle missed a wrong count"),
    ]
    for ok, msg in checks:
        if not ok:
            raise RuntimeError(f"oracle self-test: {msg}")
