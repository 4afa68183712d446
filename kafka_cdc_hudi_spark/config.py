"""Job + table configuration.

Mirrors the reference's config surface (``config/job.properties`` +
``sync_table_list`` JSON, parsed at /root/reference/glue/cdc_hudi.py:61-78)
as plain dataclasses. Composite primary keys are a list here instead of the
reference's comma-separated string (/root/reference/glue/cdc_hudi.py:148,157).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


def parse_properties_text(text: str) -> dict[str, str]:
    """Parse java-properties text (the reference's config format, read with
    the ``jproperties`` package from S3 at /root/reference/glue/cdc_hudi.py:42-49).

    Supports ``#``/``!`` comments, ``key=value`` / ``key: value`` /
    ``key value`` separators, backslash line continuations, and the common
    escapes — no third-party dependency, driver-side only (O20 is plain
    config I/O, not a dataflow op).
    """
    props: dict[str, str] = {}
    logical_lines: list[str] = []
    pending = ""
    for raw in text.splitlines():
        line = raw.lstrip()
        if pending:
            pending += line
        else:
            if not line or line[0] in "#!":
                continue
            pending = line
        # an odd number of trailing backslashes means continuation
        stripped = pending.rstrip()
        n_bs = len(stripped) - len(stripped.rstrip("\\"))
        if n_bs % 2 == 1:
            pending = stripped[:-1]
            continue
        logical_lines.append(pending)
        pending = ""
    if pending:
        logical_lines.append(pending)

    for line in logical_lines:
        key, sep_idx = "", None
        i = 0
        while i < len(line):
            c = line[i]
            if c == "\\" and i + 1 < len(line):
                key += line[i + 1]
                i += 2
                continue
            if c in "=:" or c.isspace():
                sep_idx = i
                break
            key += c
            i += 1
        if sep_idx is None:
            props[key] = ""
            continue
        rest = line[sep_idx:].lstrip()
        if rest[:1] in ("=", ":"):
            rest = rest[1:].lstrip()
        props[key] = _unescape(rest)
    return props


_ESCAPES = {"t": "\t", "n": "\n", "r": "\r", "f": "\f", "\\": "\\"}


def _unescape(v: str) -> str:
    """Single left-to-right pass — chained str.replace would corrupt an
    escaped backslash followed by t/n/r (``C:\\\\temp`` -> ``C:\\<TAB>emp``)."""
    out = []
    i = 0
    while i < len(v):
        c = v[i]
        if c == "\\" and i + 1 < len(v):
            nxt = v[i + 1]
            out.append(_ESCAPES.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)

def _normalize_interval(value: str) -> str:
    """The reference's job.properties passes ``checkpoint_interval`` verbatim
    to ``processingTime`` and ships it as ``'30 seconds'``
    (/root/reference/config/job.properties) — but bare numbers are also in
    the wild. Append a unit only when the value is a bare number; a value
    that already carries one (e.g. ``30 seconds``, ``1 minute``) passes
    through untouched."""
    v = value.strip().strip("'\"")
    return f"{v} seconds" if v.isdigit() else v


DIALECT_DMS = "DMS-CDC"
DIALECT_FLINK = "FLINK-CDC"
DIALECT_DEBEZIUM = "MSK-DEBEZIUM-CDC"
# Flink and Debezium share one envelope and are handled identically
# (/root/reference/glue/cdc_hudi.py:126-128,156-161).
DEBEZIUM_LIKE = (DIALECT_FLINK, DIALECT_DEBEZIUM)
ALL_DIALECTS = (DIALECT_DMS, DIALECT_FLINK, DIALECT_DEBEZIUM)
#: keyed-table layouts (sinks/keyed_table.py), for both the merge sink and
#: the SCD2 history table
SINK_MODES = ("cow", "cow-bucketed", "mor")


@dataclass(frozen=True)
class TableSpec:
    """One logical source table to sync (reference sync_table_list entry)."""

    db: str
    table: str
    primary_keys: tuple[str, ...]
    precombine_field: str = "mtime"

    @staticmethod
    def from_dict(d: dict) -> "TableSpec":
        pk = d.get("primary_key", d.get("primary_keys", ""))
        if isinstance(pk, str):
            pk = tuple(p.strip() for p in pk.split(",") if p.strip())
        else:
            pk = tuple(pk)
        return TableSpec(
            db=d.get("db_name", d.get("db", "")),
            table=d.get("table_name", d.get("table", "")),
            primary_keys=pk,
            precombine_field=d.get("precombine_field", "mtime"),
        )

    @property
    def qualified_name(self) -> str:
        return f"{self.db}.{self.table}"


@dataclass
class JobConfig:
    """Streaming-job configuration (reference job.properties surface)."""

    dialect: str = DIALECT_DEBEZIUM
    tables: list[TableSpec] = field(default_factory=list)
    sink_root: str = "/tmp/cdc_sink"
    #: "cow" rewrites the snapshot per commit (reference Hudi COPY_ON_WRITE);
    #: "mor" appends delta commits + compaction (the write-throughput scale path)
    sink_mode: str = "cow"
    #: mor only: auto-compact after this many delta commits (None = manual)
    compact_every: int | None = 10
    #: mor only: size-based compaction trigger — compact when pending delta
    #: bytes reach this fraction of the base (Hudi log-file-size strategy);
    #: composable with compact_every, whichever fires first
    compact_bytes_ratio: float | None = None
    #: cow-bucketed only: key-bucket count (rewrite granularity)
    sink_n_buckets: int = 16
    #: cow-bucketed only: sort-within-bucket clustering columns
    sink_cluster_cols: tuple[str, ...] = ()
    #: cow-bucketed only: Z-order the cluster columns (>=2, numeric)
    #: instead of sorting them linearly (functions/zorder.py)
    sink_cluster_zorder: bool = False
    #: plain layouts (cow / mor-compacted bases): RANGE-partition base
    #: writes on the cluster expression so files cover disjoint ranges and
    #: the pointer's per-file stats index prunes point lookups to ~1 file
    #: (sinks/keyed_table.py cluster_range_files); an int pins the file
    #: count per rewrite, true lets AQE size the files
    sink_cluster_range_files: bool | int = False
    #: write per-row-group parquet bloom filters on the key columns
    #: (point-lookup row-group skipping on hash layouts)
    sink_parquet_bloom_keys: bool = False
    checkpoint_location: str = "/tmp/cdc_checkpoint"
    #: dead-letter dir: raw records that fail envelope parsing are written
    #: under <quarantine_dir>/batch_<id>/ (overwrite per batch -> replay
    #: idempotent). None = malformed records are silently dropped by the
    #: PERMISSIVE parse, the reference's behavior.
    quarantine_dir: str | None = None
    trigger_interval: str = "30 seconds"
    max_workers: int = 4
    #: ALSO maintain an SCD Type-2 history table per synced table
    #: (streaming/scd2.py): every key version with its validity interval,
    #: updated incrementally per micro-batch at change-set cost — the
    #: warehouse history the reference's latest-row-only merge throws away
    scd2_history: bool = False
    #: deterministic orderers after the precombine field for the SCD2
    #: version chain (e.g. an event id); empty = ties resolve arbitrarily
    scd2_tiebreakers: tuple[str, ...] = ()
    #: restrict SCD2 maintenance to these tables (bare or db-qualified
    #: names); empty = every synced table (the pre-r10 behavior). A
    #: deployment rarely wants history on every table — fact streams dwarf
    #: the dimensions whose history matters
    scd2_tables: tuple[str, ...] = ()
    #: history-table layout: "cow" (snapshot rewrite), "cow-bucketed"
    #: (touched-bucket rewrites, buckets = sink_n_buckets) or "mor"
    #: (O(batch) delta commits — the scale shape when churn is spread
    #: across the key space; see streaming/scd2.py)
    scd2_history_mode: str = "cow"
    #: register each synced table in the Spark catalog after every commit
    #: (reference hive_sync parity: hoodie.datasource.hive_sync.*,
    #: /root/reference/glue/cdc_hudi.py:190-194). Tables appear as
    #: ``db.table`` (COW) / ``db.table_ro`` (MOR read-optimized).
    catalog_sync: bool = False
    # Kafka source options (/root/reference/glue/cdc_hudi.py:82-93)
    kafka_bootstrap_servers: str | None = None
    topic: str | None = None
    starting_offsets: str = "earliest"
    starting_timestamp: str | None = None
    max_offsets_per_trigger: int = 1_000_000
    consumer_group: str | None = None

    def __post_init__(self) -> None:
        # a properties typo fails at config parse, not at the first
        # micro-batch mid-flight
        for name, allowed in (
            ("dialect", ALL_DIALECTS),
            ("sink_mode", SINK_MODES),
            ("scd2_history_mode", SINK_MODES),
        ):
            value = getattr(self, name)
            if value not in allowed:
                raise ValueError(f"{name} must be one of {allowed}, got {value!r}")

    @staticmethod
    def from_properties(props: dict[str, str]) -> "JobConfig":
        """Build from a java-properties-style dict (reference parity:
        /root/reference/config/job.properties)."""
        tables = [TableSpec.from_dict(t) for t in json.loads(props.get("sync_table_list", "[]"))]
        # Reference overloads startingOffsets: anything that isn't
        # earliest/latest is a starting timestamp
        # (/root/reference/glue/cdc_hudi.py:89-92).
        raw_offsets = props.get("startingOffsets", "earliest")
        if raw_offsets in ("earliest", "latest"):
            offsets, ts = raw_offsets, props.get("consumer_starting_timestamp")
        else:
            offsets, ts = "earliest", raw_offsets
        return JobConfig(
            dialect=props.get("cdc_format", DIALECT_DEBEZIUM),
            tables=tables,
            sink_root=props.get("sink_root", "/tmp/cdc_sink"),
            sink_mode=props.get("sink_mode", "cow"),
            compact_every=(
                int(props["compact_every"]) if props.get("compact_every") else 10
            ),
            compact_bytes_ratio=(
                float(props["compact_bytes_ratio"])
                if props.get("compact_bytes_ratio")
                else None
            ),
            sink_n_buckets=int(props.get("sink_n_buckets", "16")),
            sink_cluster_cols=tuple(
                c.strip()
                for c in props.get("sink_cluster_cols", "").split(",")
                if c.strip()
            ),
            sink_cluster_zorder=props.get("sink_cluster_zorder", "false").lower()
            == "true",
            sink_cluster_range_files=(
                int(_rng)
                if (_rng := props.get("sink_cluster_range_files", "false"))
                .strip()
                .isdigit()
                else _rng.strip().lower() == "true"
            ),
            sink_parquet_bloom_keys=props.get(
                "sink_parquet_bloom_keys", "false"
            ).lower()
            == "true",
            checkpoint_location=props.get("checkpoint_location", "/tmp/cdc_checkpoint"),
            quarantine_dir=props.get("quarantine_dir"),
            trigger_interval=_normalize_interval(props.get("checkpoint_interval", "30")),
            max_workers=int(props.get("thread_max_workers", "4")),
            # reference enables hive sync unconditionally; here it is opt-in
            catalog_sync=props.get("hive_sync", "false").strip().lower()
            in ("true", "1", "yes"),
            kafka_bootstrap_servers=props.get("kafka_broker"),
            topic=props.get("topic"),
            starting_offsets=offsets,
            starting_timestamp=ts,
            max_offsets_per_trigger=int(props.get("max_offsets_per_trigger", "1000000")),
            # reference key is consumer_group (/root/reference/glue/cdc_hudi.py:74);
            # kafka_consumer_group kept for earlier configs of this package
            consumer_group=props.get("consumer_group", props.get("kafka_consumer_group")),
            scd2_history=props.get("scd2_history", "false").strip().lower()
            in ("true", "1", "yes"),
            scd2_tiebreakers=tuple(
                c.strip()
                for c in props.get("scd2_tiebreakers", "").split(",")
                if c.strip()
            ),
            scd2_history_mode=props.get("scd2_history_mode", "cow"),
            scd2_tables=tuple(
                c.strip()
                for c in props.get("scd2_tables", "").split(",")
                if c.strip()
            ),
        )

    @staticmethod
    def from_properties_text(text: str) -> "JobConfig":
        """Build straight from java-properties text (reference job.properties)."""
        return JobConfig.from_properties(parse_properties_text(text))
