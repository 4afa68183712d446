"""Structured Streaming driver: micro-batch fan-out to per-table keyed merges.

Re-expresses reference O4-O7 (/root/reference/glue/cdc_hudi.py:254-287):

- ``foreachBatch`` with processing-time trigger + checkpoint (O4)
- batch ``persist`` reused by N table pipelines, unpersisted at the end (O5)
- empty-batch gate (O6) — but ONE action, not the reference's repeated
  ``count()`` on uncached derived frames (SURVEY §4.3.1)
- per-table fan-out on driver threads with FAIR scheduling; any table
  failure stops the app (O7, fail-stop:
  /root/reference/glue/cdc_hudi.py:269-274)

Per table (:meth:`CdcStreamDriver._run_table`): a raw-string prefilter cuts
the persisted batch to the lines that can belong to the table, only that
slice is parsed with the table's own payload schema, and an exact typed
route follows the parse. Everything is native expressions — versus the
reference's per-table Python-UDF filter + per-table schema-inference job
+ per-table parse of the whole batch (N full passes with Python
round-trips).

Dynamic-schema mode: when a table has no declared payload schema, the driver
infers one from the first non-empty batch and caches it; later batches
re-infer ONLY when the batch carries payload keys the cached schema lacks —
schema drift support (FIXTURES §A3.8) without the reference's per-batch
inference job (SURVEY §4.3.3).

Batch probe: the drift check and the dead-letter check share ONE grouped
job over the persisted batch (:meth:`CdcStreamDriver._probe_batch`). It
returns every cached-schema table's payload key set (``json_object_keys``
on the exactly-routed rows) plus the malformed-line count, however many
tables the batch fans out to. It runs only when some table has a cached
inferred schema or a quarantine dir is set, so a declared-schema stream
without quarantine pays no probe at all.
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kafka_cdc_hudi_spark.config import DIALECT_DMS, JobConfig, TableSpec
from kafka_cdc_hudi_spark.operators.cdc import (
    infer_payload_schema,
    merge_payload_schemas,
    parse_stream,
    raw_route_prefilter,
    route,
)
from kafka_cdc_hudi_spark.sinks.keyed_table import KeyedParquetTable

log = logging.getLogger(__name__)


class BatchProbe(NamedTuple):
    """Answers of the per-batch probe job (:meth:`CdcStreamDriver._probe_batch`)."""

    #: payload key set per probed table (qualified name); a probed table
    #: with no exactly-routed rows in the batch maps to an empty set
    payload_keys: dict[str, set[str]]
    #: lines lacking the dialect's operation field (quarantine candidates)
    n_malformed: int


@dataclass
class CdcStreamDriver:
    spark: SparkSession
    config: JobConfig
    #: declared payload StructType per table name (fast path); missing ->
    #: dynamic inference per table (slow path, cached across batches)
    payload_schemas: dict[str, StructType] = field(default_factory=dict)
    #: optional per-table transforms applied post-route, pre-merge:
    #: {table or qualified name: fn(parsed_df, batch_id) -> df}. The hook
    #: runs inside the per-table FAIR pool and must stay lazy (return a
    #: transformed frame, no actions) — the merge triggers execution. Used
    #: for in-flight derivations and dimension enrichment (streaming.enrich
    #: .DimLookup is the canonical hook: broadcast lookup join against a
    #: dimension snapshot reloaded on a batch cadence)
    transform_hooks: dict = field(default_factory=dict)
    #: optional per-table SIDE PROCESSORS run after the merge sink commit:
    #: {table or qualified name: fn(spark, routed_df, batch_id)}. This is
    #: the attach point for incrementally-maintained side views (the SCD2
    #: history maintainer is the built-in case; streaming.dedup_ivm /
    #: streaming.ann_ivm maintainers plug in the same way). Processors are
    #: expected to be replay-idempotent on their own commit protocol (the
    #: keyed-table batch-id pointer), exactly like the merge sink — the
    #: driver runs them regardless of the merge's commit verdict so a
    #: crash between the two commits cannot strand them.
    side_processors: dict = field(default_factory=dict)
    _inferred: dict[str, StructType] = field(default_factory=dict, repr=False)
    _sinks: dict[str, KeyedParquetTable] = field(default_factory=dict, repr=False)
    _scd2: dict = field(default_factory=dict, repr=False)

    def scd2_for(self, spec: TableSpec):
        """Per-table SCD2 history maintainer (config.scd2_history), rooted
        next to the merge sink at ``<sink_root>/<db>/<table>__scd2``."""
        from kafka_cdc_hudi_spark.streaming.scd2 import Scd2HistoryMaintainer

        key = spec.qualified_name
        if key not in self._scd2:
            self._scd2[key] = Scd2HistoryMaintainer(
                root=f"{self.config.sink_root}/{spec.db}/{spec.table}__scd2",
                keys=list(spec.primary_keys),
                ts_col=spec.precombine_field,
                tiebreakers=tuple(self.config.scd2_tiebreakers),
                history_mode=self.config.scd2_history_mode,
                n_buckets=self.config.sink_n_buckets,
            )
        return self._scd2[key]

    def sink_for(self, spec: TableSpec) -> KeyedParquetTable:
        key = spec.qualified_name
        if key not in self._sinks:
            self._sinks[key] = KeyedParquetTable(
                root=f"{self.config.sink_root}/{spec.db}/{spec.table}",
                keys=list(spec.primary_keys),
                order_col=spec.precombine_field,
                mode=self.config.sink_mode,
                compact_every=self.config.compact_every,
                compact_bytes_ratio=self.config.compact_bytes_ratio,
                n_buckets=self.config.sink_n_buckets,
                cluster_cols=self.config.sink_cluster_cols,
                cluster_zorder=self.config.sink_cluster_zorder,
                cluster_range_files=self.config.sink_cluster_range_files,
                parquet_bloom_keys=self.config.sink_parquet_bloom_keys,
            )
        return self._sinks[key]

    # -- schema resolution ---------------------------------------------------
    def _declared_schema(self, spec: TableSpec) -> StructType | None:
        # qualified name first; bare table name kept for single-DB configs
        return self.payload_schemas.get(
            spec.qualified_name, self.payload_schemas.get(spec.table)
        )

    def _exact_route_raw(self, df: DataFrame, spec: TableSpec) -> DataFrame:
        """EXACT routing on raw JSON (``get_json_object`` on the dialect's
        routing fields). The contains-prefilter is a superset (it may keep
        foreign-table rows); anything feeding schema inference must be
        exactly this table's events, or the cached payload schema would
        permanently absorb other tables' columns as null-filled fields."""
        db, tbl = self._raw_routing()
        return df.filter((db == spec.db) & (tbl == spec.table))

    def _raw_routing(self):
        """The dialect's (db, table) routing fields read from raw JSON."""
        if self.config.dialect == DIALECT_DMS:
            db_path, tbl_path = "$['metadata']['schema-name']", "$['metadata']['table-name']"
        else:
            db_path, tbl_path = "$['db']", "$['table']"
        return F.get_json_object("value", db_path), F.get_json_object("value", tbl_path)

    def _schema_for(self, spec: TableSpec, table_slice: DataFrame) -> StructType | None:
        declared = self._declared_schema(spec)
        if declared is not None:
            return declared
        cached = self._inferred.get(spec.qualified_name)
        if cached is not None:
            return cached
        table_slice = self._exact_route_raw(table_slice, spec)
        if table_slice.isEmpty():
            return None
        payload = infer_payload_schema(
            self.spark, table_slice, self.config.dialect, what=spec.qualified_name
        )
        self._inferred[spec.qualified_name] = payload
        return payload

    def invalidate_schema(self, spec: TableSpec) -> None:
        """Drop the cached inferred schema (drift handling hook)."""
        self._inferred.pop(spec.qualified_name, None)

    def _payload_key_paths(self) -> tuple[str, ...]:
        if self.config.dialect == DIALECT_DMS:
            return ("$.data",)
        return ("$.after", "$.before")  # deletes carry the row in `before`

    def _malformed(self):
        """Raw lines that cannot carry this pipeline's envelope: unparseable
        JSON, or missing the dialect's operation field."""
        op_path = (
            "$['metadata']['operation']" if self.config.dialect == DIALECT_DMS else "$['op']"
        )
        return F.get_json_object("value", op_path).isNull()

    def _probe_batch(self, batch_df: DataFrame) -> BatchProbe | None:
        """One grouped job over the (persisted) batch answering every
        per-batch question the driver asks before it parses: each
        cached-schema table's payload key set, and the malformed-line
        count for the quarantine. Rows group by their EXACT routing fields
        (only the probed tables' rows keep a group key), so foreign-table
        payload keys can neither trigger a spurious re-infer nor leak into
        a merged schema, and the job's cost does not grow with the number
        of tables. Returns None — and runs nothing — when no table has a
        cached inferred schema and no quarantine dir is set."""
        probed = [
            s
            for s in self.config.tables
            if self._declared_schema(s) is None and s.qualified_name in self._inferred
        ]
        if not probed and self.config.quarantine_dir is None:
            return None
        db, tbl = self._raw_routing()
        raw = batch_df.select(
            "value", db.alias("db"), tbl.alias("tbl"), self._malformed().alias("bad")
        )
        hit = F.lit(False)
        for s in probed:
            hit = hit | ((F.col("db") == s.db) & (F.col("tbl") == s.table))
        arrs = ", ".join(
            f"coalesce(json_object_keys(get_json_object(value, '{p}')), "
            f"cast(array() as array<string>))"
            for p in self._payload_key_paths()
        )
        rows = (
            raw.groupBy(
                F.when(hit, F.col("db")).alias("db"), F.when(hit, F.col("tbl")).alias("tbl")
            )
            .agg(
                F.collect_set(F.when(hit, F.expr(f"concat({arrs})"))).alias("keys"),
                F.count_if("bad").alias("n_bad"),
            )
            .collect()
        )
        keys = {s.qualified_name: set() for s in probed}
        names = {(s.db, s.table): s.qualified_name for s in probed}
        for r in rows:
            name = names.get((r["db"], r["tbl"]))
            if name is not None:
                keys[name] = set().union(*r["keys"])
        return BatchProbe(keys, sum(r["n_bad"] for r in rows))

    def _drifted(self, spec: TableSpec, schema: StructType, probe: BatchProbe | None) -> bool:
        """True when the batch carries payload keys the cached schema lacks.

        The key set comes from the batch probe (:meth:`_probe_batch`), one
        job for all tables. New fields can't be detected from ``from_json``
        output (PERMISSIVE mode silently ignores extras), and re-running
        full inference per batch is the reference's big inefficiency
        (SURVEY §4.3.3) — this pays the full inference job only when drift
        actually happened. A table whose schema was inferred in this very
        batch is not in the probe: its fresh schema already covers it.
        """
        if probe is None:
            return False
        observed = probe.payload_keys.get(spec.qualified_name)
        return observed is not None and not observed <= set(schema.fieldNames())

    def _merge_schemas(self, old: StructType, new: StructType) -> StructType:
        """Union of fields; existing fields keep their established type so a
        drifting producer can add columns but not silently retype them."""
        return merge_payload_schemas(old, new)

    # -- per-batch processing --------------------------------------------------
    def _run_table(
        self, spec: TableSpec, raw_batch: DataFrame, batch_id: int, probe: BatchProbe | None
    ) -> bool:
        # per-table scheduler pool: FAIR mode arbitrates BETWEEN pools, so
        # each table needs its own or the per-table jobs queue FIFO in the
        # default pool and one huge table starves the rest (reference O7)
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", spec.qualified_name
        )
        # cheap raw prefilter = scan reduction only; exact routing is post-parse
        sliced = raw_route_prefilter(raw_batch, spec.db, spec.table, self.config.dialect)
        schema = self._schema_for(spec, sliced)
        if schema is None:
            return False  # empty slice, nothing to infer or write
        if self._drifted(spec, schema, probe):
            old = schema
            self.invalidate_schema(spec)
            schema = self._merge_schemas(old, self._schema_for(spec, sliced))
            self._inferred[spec.qualified_name] = schema
            log.info("schema drift on %s: re-inferred to %s", spec.qualified_name, schema.simpleString())
        parsed = parse_stream(sliced, self.config.dialect, schema, keep_routing=True)
        routed = route(parsed, spec.db, spec.table)
        hook = self.transform_hooks.get(
            spec.qualified_name, self.transform_hooks.get(spec.table)
        )
        if hook is not None:
            routed = hook(routed, batch_id)
        # no pre-merge dedup: merge_upsert's own latest_per_key_agg collapses
        # in-batch duplicates map-side over the union — a separate pass here
        # would pay a full extra shuffle per table per batch for nothing
        sink = self.sink_for(spec)
        side = self.side_processors.get(
            spec.qualified_name, self.side_processors.get(spec.table)
        )
        scd2_on = self.config.scd2_history and (
            not self.config.scd2_tables
            or spec.table in self.config.scd2_tables
            or spec.qualified_name in self.config.scd2_tables
        )
        # with a second consumer (SCD2 history and/or a side processor),
        # `routed` is consumed 2+ times and its lineage is the full
        # prefilter->parse->route chain — persist here so later consumers
        # re-read instead of re-parsing the batch (ADVICE r9)
        multi_consumer = scd2_on or side is not None
        if multi_consumer:
            routed = routed.persist()
        try:
            committed = sink.merge_batch(self.spark, routed, batch_id=batch_id)
            if scd2_on:
                # history maintenance is replay-idempotent on its own pointer
                # protocol, so it runs regardless of the merge sink's commit
                # verdict (a crash between the two commits must not strand it)
                self.scd2_for(spec).apply_batch(self.spark, routed, batch_id=batch_id)
            if side is not None:
                side(self.spark, routed, batch_id)
        finally:
            if multi_consumer:
                routed.unpersist()
        if committed and self.config.catalog_sync:
            # reference hive-syncs on every commit; metadata-only re-point
            sink.sync_catalog(self.spark, spec.qualified_name)
        return committed

    def _quarantine(self, batch_df: DataFrame, batch_id: int, probe: BatchProbe | None) -> None:
        """Dead-letter pass: raw records that cannot carry this pipeline's
        envelope (unparseable JSON, or missing the dialect's operation
        field) are preserved under ``<quarantine_dir>/batch_<id>/`` instead
        of silently vanishing in the PERMISSIVE parse — the operational gap
        the reference leaves open. Per-batch overwrite keeps replays
        idempotent. Detection is the batch probe's malformed count (the
        probe always runs when a quarantine dir is set); the happy path
        pays no job of its own."""
        if self.config.quarantine_dir is None or probe.n_malformed == 0:
            return
        out = f"{self.config.quarantine_dir}/batch_{batch_id}"
        batch_df.filter(self._malformed()).write.mode("overwrite").text(out)
        log.warning("quarantined malformed records from batch %s to %s", batch_id, out)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """The ``foreachBatch`` callback (reference ``process_batch``,
        /root/reference/glue/cdc_hudi.py:254-276)."""
        batch_df = batch_df.persist()
        try:
            if batch_df.isEmpty():  # single-action gate (vs reference double count)
                return
            probe = self._probe_batch(batch_df)
            self._quarantine(batch_df, batch_id, probe)
            specs = self.config.tables
            if self.config.max_workers > 1 and len(specs) > 1:
                # FAIR-scheduled concurrent per-table jobs (reference O7)
                with ThreadPoolExecutor(max_workers=self.config.max_workers) as ex:
                    futures = {
                        ex.submit(self._run_table, s, batch_df, batch_id, probe): s
                        for s in specs
                    }
                    for fut, spec in futures.items():
                        fut.result()  # fail-stop: first exception propagates
            else:
                for spec in specs:
                    self._run_table(spec, batch_df, batch_id, probe)
        finally:
            batch_df.unpersist()

    # -- stream lifecycle ------------------------------------------------------
    def start(self, value_stream: DataFrame):
        """Attach to a ``DataFrame[value: string]`` stream and start
        (reference O4, /root/reference/glue/cdc_hudi.py:279-287)."""
        return (
            value_stream.writeStream.outputMode("append")
            .trigger(processingTime=self.config.trigger_interval)
            .option("checkpointLocation", self.config.checkpoint_location)
            .foreachBatch(self.process_batch)
            .start()
        )
