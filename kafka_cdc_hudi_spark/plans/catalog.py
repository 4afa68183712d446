"""Unified query registry: name -> (spark_fn, oracle_sql | None).

Two views of the same catalog:

- ``FULL_REGISTRY`` — every implemented query. tests/test_oracle.py and
  tests/test_plan_invariants.py run ALL of these against their DuckDB
  oracles / plan invariants locally, and the sweep times them, so nothing
  loses verification.
- ``REGISTRY`` — the driver-facing subset: the correctness driver evaluates
  at most ``DRIVER_CAP`` entries per round, in order, and commits one
  ``CORRECTNESS_r<N>.json`` row per entry. ``driver_order`` derives the
  order from those committed rows: entries never driver-tested first, then
  entries whose latest row failed, then green entries whose latest row is
  oldest. Each round's artifact therefore rotates the next round's set;
  nothing is kept by hand.

Consumed by __spark_entry__.py (driver contract) and bench.py.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterable
from pathlib import Path

from kafka_cdc_hudi_spark.plans.catalog_analytics import ANALYTICS_QUERIES
from kafka_cdc_hudi_spark.plans.catalog_cdc import CDC_QUERIES
from kafka_cdc_hudi_spark.plans.catalog_streaming import STREAMING_QUERIES
from kafka_cdc_hudi_spark.plans.catalog_text import TEXT_QUERIES

FULL_REGISTRY: dict[str, tuple] = {}
FULL_REGISTRY.update(CDC_QUERIES)
FULL_REGISTRY.update(ANALYTICS_QUERIES)
FULL_REGISTRY.update(TEXT_QUERIES)
FULL_REGISTRY.update(STREAMING_QUERIES)

#: DEMOTED (r10 registry hygiene, VERDICT r9 item 7): structurally
#: duplicative entries removed from FULL_REGISTRY so per-round gate
#: wall-time (full oracle suite + sweep, both of which run every
#: FULL_REGISTRY entry) stays roughly flat as the registry grows. Each
#: name stays implemented + exported in its catalog_* module, keeps its
#: oracle SQL, and is smoke-executed every session by
#: tests/test_demoted.py; its operator surface is fully exercised by the
#: named survivor — the same covered-by mapping that kept them out of the
#: driver set for 4+ rounds. Demotion is reversible by deleting the entry
#: here.
DEMOTED: dict[str, str] = {
    "global_counts": "events_sketches n / q1 count_order (count aggregate everywhere)",
    "events_rollup": "events_cube (same Expand/grouping-sets shape)",
    "events_user_cumsum": "topk_orders_per_customer + events_funnel_conversions (ordered windows)",
    "events_type_stats": "events_sketches (same per-type exact stats, plus sketch self-check)",
    "customers_per_region": "q5_local_supplier/q10 (broadcast-chain dim join + agg)",
    "embedding_norms": "ann_topk_bruteforce (computes the same norms)",
    "text_token_count": "text_bpe_pretokenize (same tokenizer-count shape) + text_tfidf_topk",
    # -- r12 scale hygiene (VERDICT r11 item 1): the two fixed-width SimHash
    #    pairing entries are subsumed by the corpus-scalable successor.
    #    Both keep their oracle SQL + smoke (test_demoted) and a loud
    #    corpus-size guard in catalog_text raises the banding law before
    #    the quadratic band join can materialize.
    "dedup_simhash_pairs": "dedup_simhash_band_scaled (same vote/band/verify algebra; the 32-bit signature's chance-collision term is quadratic — measured 7.05x wall per 10x rows at sf1, PLANS.md r11)",
    "dedup_simhash_wide_pairs": "dedup_simhash_band_scaled (same algebra, 16-bit bands; the 10-bit bands OOM at 500k docs — E[bucket]~N/1024 makes the candidate join quadratic, SCALE notes r11)",
}
for _n in DEMOTED:
    del FULL_REGISTRY[_n]

#: the correctness driver evaluates at most this many entries per round
DRIVER_CAP = 50

#: the repo root, where the driver's ``CORRECTNESS_r<N>.json`` rows are committed
_ARTIFACT_DIR = Path(__file__).parents[2]
_ARTIFACT_NAME = re.compile(r"CORRECTNESS_r(\d+)\.json")
_MATCH_FIELDS = ("rows_match", "schema_match", "hash_match")


def driver_order(names: Iterable[str], artifact_dir: Path = _ARTIFACT_DIR) -> list[str]:
    """The first ``DRIVER_CAP`` of ``names`` in driver evaluation order,
    derived from the committed ``CORRECTNESS_r<N>.json`` rows.

    An entry's latest row is its row in the highest-N file. Entries with
    no row come first, in ``names`` order; then entries whose latest row
    is not green; then green entries, oldest ``(N, row position)`` first.
    Green means all three match fields true and no ``err``. Rows for
    names outside ``names`` are ignored. A file that is not a JSON object
    of rows, or a row without the match fields, raises."""
    latest: dict[str, tuple[int, int, bool]] = {}
    for path in artifact_dir.iterdir():
        m = _ARTIFACT_NAME.fullmatch(path.name)
        if m is None:
            continue
        try:
            rows = json.loads(path.read_text())
        except ValueError as e:
            raise ValueError(f"{path}: {e}") from e
        if not isinstance(rows, dict):
            raise ValueError(f"{path}: expected an object of rows, got {type(rows).__name__}")
        n = int(m.group(1))
        for pos, (name, row) in enumerate(rows.items()):
            if not isinstance(row, dict) or not set(_MATCH_FIELDS) <= row.keys():
                raise ValueError(f"{path}: row {name!r} lacks one of {_MATCH_FIELDS}")
            green = all(row[f] is True for f in _MATCH_FIELDS) and row.get("err") is None
            if name not in latest or latest[name][0] < n:
                latest[name] = (n, pos, green)

    def rank(name: str) -> tuple[int, int, int]:
        if name not in latest:
            return (0, 0, 0)
        n, pos, green = latest[name]
        return (2 if green else 1, n, pos)

    return sorted(names, key=rank)[:DRIVER_CAP]


REGISTRY: dict[str, tuple] = {n: FULL_REGISTRY[n] for n in driver_order(FULL_REGISTRY)}


def sf_dependent_sql_builders() -> dict:
    """Entries whose oracle SQL bakes per-scale-factor literals (trained
    artifacts rerun at oracle-build time). The registry carries the
    driver's sf0.01 build; test_oracle.py and scripts/sweep.py rebuild
    for their own SF via these builders."""
    from kafka_cdc_hudi_spark.plans.catalog_streaming import ivf_trained_sql_for
    from kafka_cdc_hudi_spark.plans.catalog_text import (
        bpe_encode_sql_for,
        bpe_merges_sql_for,
    )

    from kafka_cdc_hudi_spark.plans.catalog_streaming import (
        recall_trained_vs_static_sql_for,
        semdedup_sql_for,
    )

    from kafka_cdc_hudi_spark.plans.catalog_streaming import pca_whiten_sql_for

    return {
        "embedding_pca_whiten": pca_whiten_sql_for,
        "ann_topk_ivf_trained": ivf_trained_sql_for,
        "ann_recall_trained_vs_static": recall_trained_vs_static_sql_for,
        "dedup_semantic_clusters": semdedup_sql_for,
        "text_bpe_train_merges": bpe_merges_sql_for,
        "text_bpe_encode": bpe_encode_sql_for,
    }


def queries():
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql():
    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None}
