"""The driver-facing registry: its contract with ``__spark_entry__`` and
the rotation rule that derives it from the committed
``CORRECTNESS_r<N>.json`` rows (``catalog.driver_order``)."""

from __future__ import annotations

import json

import pytest

import __spark_entry__
from kafka_cdc_hudi_spark.plans import catalog
from kafka_cdc_hudi_spark.plans.catalog import DRIVER_CAP, driver_order

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def _artifact(d, n, rows):
    (d / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))


def test_driver_contract_matches_registry():
    qs = __spark_entry__.queries()
    assert set(qs) == set(catalog.REGISTRY)
    assert 0 < len(qs) <= DRIVER_CAP
    assert set(qs) <= set(__spark_entry__.oracle_sql())
    assert set(catalog.REGISTRY) <= set(catalog.FULL_REGISTRY)
    assert not set(catalog.REGISTRY) & set(catalog.DEMOTED)


def _committed_rows() -> dict[int, dict]:
    """The committed artifacts' rows by round number."""
    out = {}
    for p in catalog._ARTIFACT_DIR.iterdir():
        m = catalog._ARTIFACT_NAME.fullmatch(p.name)
        if m:
            out[int(m.group(1))] = json.loads(p.read_text())
    return out


def test_registry_leads_with_never_driver_tested_entries():
    rowed = set().union(*_committed_rows().values())
    unrowed = [n for n in catalog.FULL_REGISTRY if n not in rowed]
    assert list(catalog.REGISTRY)[: len(unrowed)] == unrowed[:DRIVER_CAP]


def test_registry_rotates_off_the_newest_artifact():
    """While at least a full driver set of entries sat out the newest
    round, none of that round's entries is due again."""
    rounds = _committed_rows()
    last = set(rounds[max(rounds)]) if rounds else set()
    if len(set(catalog.FULL_REGISTRY) - last) < DRIVER_CAP:
        pytest.skip(f"fewer than {DRIVER_CAP} entries sat out the newest round")
    assert not set(catalog.REGISTRY) & last


def test_never_rowed_then_red_then_oldest_green(tmp_path):
    names = ["g_old", "g_new", "red", "err", "new_a", "g_mid_late", "g_mid_early", "new_b"]
    _artifact(tmp_path, 1, {"g_old": GREEN, "red": GREEN, "g_new": GREEN})
    _artifact(tmp_path, 2, {"g_mid_early": GREEN, "g_mid_late": GREEN, "err": GREEN})
    _artifact(tmp_path, 3, {
        "g_new": GREEN,
        "red": {**GREEN, "hash_match": False},
        "err": {**GREEN, "err": "boom"},
    })
    assert driver_order(names, tmp_path) == [
        "new_a", "new_b",  # no row: registry order
        "red", "err",  # latest row not green
        "g_old", "g_mid_early", "g_mid_late", "g_new",  # oldest (round, position) first
    ]


def test_latest_row_decides_and_unknown_names_are_ignored(tmp_path):
    """A red row followed by a green one rests like any green; rows for
    names outside the registry (renamed or demoted) change nothing."""
    _artifact(tmp_path, 9, {"a": {**GREEN, "rows_match": False}, "gone": GREEN})
    _artifact(tmp_path, 10, {"gone": {**GREEN, "err": "x"}, "a": GREEN, "b": GREEN})
    assert driver_order(["b", "a", "c"], tmp_path) == ["c", "a", "b"]


def test_caps_at_driver_cap(tmp_path):
    names = [f"q{i:03d}" for i in range(DRIVER_CAP + 10)]
    _artifact(tmp_path, 1, {n: GREEN for n in names[:15]})
    assert driver_order(names, tmp_path) == names[15:] + names[:5]


@pytest.mark.parametrize(
    "text",
    [
        '{"a": {"rows_match": true',  # truncated
        '[{"rows_match": true, "schema_match": true, "hash_match": true}]',  # not an object
        '{"a": {"rows_match": true, "schema_match": true, "err": null}}',  # a field missing
        '{"a": "green"}',  # row not an object
    ],
)
def test_malformed_artifact_raises(tmp_path, text):
    (tmp_path / "CORRECTNESS_r04.json").write_text(text)
    with pytest.raises(ValueError, match="CORRECTNESS_r04.json"):
        driver_order(["a"], tmp_path)


def test_without_artifacts_keeps_registry_order(tmp_path):
    """Only ``CORRECTNESS_r<digits>.json`` files are artifacts."""
    (tmp_path / "CORRECTNESS_r04_local.json").write_text("not json")
    (tmp_path / "BENCH_r04.json").write_text("{}")
    assert driver_order(["b", "a", "c"], tmp_path) == ["b", "a", "c"]
