"""Optional real-Hudi sink behind the ``KeyedParquetTable`` interface.

The reference writes through the Hudi Spark datasource
(/root/reference/glue/cdc_hudi.py:183-216). This adapter exposes the same
``merge_batch`` / ``read`` surface as :class:`sinks.keyed_table
.KeyedParquetTable` but delegates storage to ``format("hudi")`` with the
reference's write options (upsert operation, record key, ``mtime``
precombine, NonpartitionedKeyGenerator, cleaner retention) minus the
AWS-specific hive-sync block, which belongs to the deployment, not the
engine.

Availability: the Hudi Spark bundle is NOT part of a stock PySpark install —
it must be on the classpath (``spark.jars.packages`` =
``org.apache.hudi:hudi-spark3.5-bundle_2.12:<version>`` or a local jar).
This sandbox has neither the jar nor network access for Ivy resolution
(probe evidence in README "Hudi interop"), so the adapter is import-safe,
fails fast with a clear error when the datasource is missing, and is
covered by a skip-guarded integration test that runs wherever the bundle
exists. The pure-Spark ``KeyedParquetTable`` emulation remains the default
and is the oracle-verified path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


def hudi_available(spark: SparkSession) -> bool:
    """True when the Hudi datasource is loadable in this session's JVM."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.hudi.DefaultSource")
        return True
    except Exception:
        return False


class HudiKeyedTable:
    """Same contract as ``KeyedParquetTable`` (upsert merge + snapshot read),
    storage delegated to the Hudi datasource.

    Deletes: rows flagged in ``deleted_col`` are written in a second pass
    with ``hoodie.datasource.write.operation=delete`` — equivalent to the
    reference's payload-class delete handling but explicit, since the
    normalized batch carries the tombstone flag rather than a Debezium
    payload.
    """

    def __init__(
        self,
        root: str,
        keys: Sequence[str],
        order_col: str = "mtime",
        deleted_col: str = "_deleted",
        table_name: str = "cdc_table",
        database: str = "default",
        table_type: str = "COPY_ON_WRITE",
    ):
        self.root = root
        self.keys = list(keys)
        self.order_col = order_col
        self.deleted_col = deleted_col
        self.table_name = table_name
        self.database = database
        self.table_type = table_type

    def _options(self, operation: str) -> dict[str, str]:
        # reference option block (/root/reference/glue/cdc_hudi.py:183-207)
        # minus hive_sync (deployment concern) and with metadata left at
        # Hudi's default
        return {
            "hoodie.database.name": self.database,
            "hoodie.table.name": self.table_name,
            "hoodie.datasource.write.storage.type": self.table_type,
            "hoodie.datasource.write.operation": operation,
            "hoodie.datasource.write.recordkey.field": ",".join(self.keys),
            "hoodie.datasource.write.precombine.field": self.order_col,
            "hoodie.datasource.write.payload.class": (
                "org.apache.hudi.common.model.DefaultHoodieRecordPayload"
            ),
            "hoodie.datasource.write.keygenerator.class": (
                "org.apache.hudi.keygen.NonpartitionedKeyGenerator"
            ),
            "hoodie.write.markers.type": "DIRECT",
            "hoodie.cleaner.commits.retained": "2",
            "hoodie.keep.min.commits": "3",
            "hoodie.keep.max.commits": "4",
            "hoodie.datasource.write.schema.allow.auto.evolution.column.drop": "true",
            "path": self.root,
        }

    def _require_available(self, spark: SparkSession) -> None:
        if not hudi_available(spark):
            raise RuntimeError(
                "the Hudi datasource is not on the classpath; start Spark with "
                '.config("spark.jars.packages", '
                '"org.apache.hudi:hudi-spark3.5-bundle_2.12:<version>") '
                "(needs network/Ivy or a pre-fetched jar), or use the default "
                "KeyedParquetTable emulation (sinks/keyed_table.py)"
            )

    # -- replay guard --------------------------------------------------------
    # Same contract as KeyedParquetTable.merge_batch: an at-least-once
    # foreachBatch replay of an already-committed batch id is a no-op. The
    # marker lives NEXT TO the table as a directory of one-row text
    # datasets, one per batch id (written via Spark, so it works on any
    # Hadoop-compatible filesystem, not just local paths), and reads as the
    # max id. A new id lands BESIDE the old one, and the older ids are
    # deleted only after it has landed: a writer killed mid-write leaves an
    # uncommitted ``_temporary`` the reader skips, one killed before the
    # delete leaves both ids, so the marker never reads as "no marker". The
    # marker is written AFTER both Hudi writes — a crash in between replays
    # the batch, which is safe for precombine upserts; the Hudi timeline
    # itself remains the source of truth for data commits.
    @property
    def _batch_marker_dir(self) -> str:
        return f"{self.root}_last_batch_id"

    def last_batch_id(self, spark: SparkSession) -> int | None:
        """The last committed batch id; None only when no marker exists.
        An unreadable or garbled marker raises: reading it as "no marker"
        would re-apply committed batches, deletes included."""
        try:
            rows = (
                spark.read.option("recursiveFileLookup", "true")
                .text(self._batch_marker_dir)
                .collect()
            )
        except AnalysisException as e:
            if e.getCondition() == "PATH_NOT_FOUND":
                return None
            raise
        return max((int(r[0]) for r in rows), default=None)

    def _write_batch_marker(self, spark: SparkSession, batch_id: int) -> None:
        spark.createDataFrame([(str(batch_id),)], "value string").coalesce(
            1
        ).write.mode("overwrite").text(f"{self._batch_marker_dir}/{batch_id}")
        self._drop_older_markers(spark, str(batch_id))

    def _drop_older_markers(self, spark: SparkSession, keep: str) -> None:
        marker_dir = spark._jvm.org.apache.hadoop.fs.Path(self._batch_marker_dir)
        fs = marker_dir.getFileSystem(spark._jsc.hadoopConfiguration())
        for st in fs.listStatus(marker_dir):
            if st.getPath().getName() != keep:
                fs.delete(st.getPath(), True)

    def merge_batch(
        self, spark: SparkSession, batch: DataFrame, batch_id: int | None = None
    ) -> bool:
        self._require_available(spark)
        if batch_id is not None:
            last = self.last_batch_id(spark)
            if last is not None and batch_id <= last:
                return False  # replayed batch: already committed
        if batch.isEmpty():
            return False
        from pyspark.sql import functions as F

        flag = F.coalesce(F.col(self.deleted_col), F.lit(False)) if (
            self.deleted_col in batch.columns
        ) else F.lit(False)
        upserts = batch.filter(~flag).drop(self.deleted_col)
        deletes = batch.filter(flag).drop(self.deleted_col)
        if not upserts.isEmpty():
            upserts.write.format("hudi").options(**self._options("upsert")).mode(
                "append"
            ).save()
        if not deletes.isEmpty():
            deletes.write.format("hudi").options(**self._options("delete")).mode(
                "append"
            ).save()
        if batch_id is not None:
            self._write_batch_marker(spark, batch_id)
        return True

    def read(self, spark: SparkSession) -> DataFrame:
        self._require_available(spark)
        drop = [c for c in ("_hoodie_commit_time", "_hoodie_commit_seqno",
                            "_hoodie_record_key", "_hoodie_partition_path",
                            "_hoodie_file_name")]
        df = spark.read.format("hudi").load(self.root)
        return df.drop(*drop)
