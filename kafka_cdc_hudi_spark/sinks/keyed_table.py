"""Keyed, upsert-able parquet table — the pure-Spark stand-in for the
reference's Hudi sink (/root/reference/glue/cdc_hudi.py:179-216), in both
storage styles:

- ``mode="cow"`` (default; the reference's COPY_ON_WRITE,
  /root/reference/glue/cdc_hudi.py:186): every commit rewrites the full
  merged snapshot. Cheapest reads, O(table) write cost per batch.
- ``mode="mor"`` (Hudi MERGE_ON_READ, the scale path the reference lacks):
  every commit appends only the deduped batch as a *delta*; readers fold
  base + deltas on the fly; an explicit/automatic ``compact()`` folds the
  deltas into a new base snapshot. Write cost per batch is O(batch) — at
  100 TB with a 1M-event trigger this is the difference between rewriting
  the table every 60 s and appending ~a few MB, exactly Hudi's COW-vs-MOR
  trade (the per-batch COW rewrite dominates the measured streaming soak;
  see PLANS.md).
- ``mode="cow-bucketed"`` (Hudi file-group semantics on the COW read
  profile): the snapshot is hash-partitioned into ``n_buckets`` key
  buckets; a commit merges and rewrites ONLY the buckets the batch
  touches, and the pointer's per-version *bucket map* records, for every
  bucket, which version directory holds its latest file. Readers union the
  mapped bucket files directly — no read-time fold, COW read cost — while
  commit cost drops from O(table) to O(touched buckets). Honest bound:
  with hash bucketing a batch of k distinct keys rewrites
  ~min(1, k/n_buckets) of the table — the win is real for trickle-update
  tables and dimension-style CDC (few keys per trigger vs thousands of
  buckets) and degrades gracefully to plain-COW cost for large uniform
  batches, where MOR remains the high-throughput answer. Measured at
  sf0.1: a 5-key commit into a 100k-row table rewrites 5/64 of the data
  (1.07 s vs 1.46 s wall — job overhead dominates at this tiny scale; the
  rewritten-bytes ratio is what scales).

Layout::

    <root>/
      v_00000001/ ...   immutable parquet base snapshots (COW commit or compaction)
      d_00000002/ ...   immutable parquet delta commits (MOR appends)
      _VERSION          text file: latest committed version + batch id

Commit protocol: write the new snapshot/delta directory fully, then
atomically rewrite the ``_VERSION`` pointer (rename). The pointer carries a
manifest of committed versions (``commits: {version: "base"|"delta"}``) —
readers resolve ONLY manifested directories, so a crashed write leaves an
orphan directory that is never read and is swept at the next prune — a
miniature of Hudi's timeline/commit files. New versions are allocated past
``max(committed version, any directory on disk)`` so an orphan base from a
crashed compaction can never collide with (and shadow) the next delta
commit. Old versions are pruned keeping ``keep_versions`` bases (reference
cleaner retained=2..4 commits, /root/reference/glue/cdc_hudi.py:198-200);
deltas are pruned at compaction.

Read-time fold (MOR): base ∪ deltas → latest-per-key by
``(order_col, commit_seq)`` → drop tombstones. Precombine semantics match
the COW merge (newest ``mtime`` wins; ties go to the later commit) with one
documented divergence: a delete tombstone with a newer ``mtime`` keeps
suppressing an older insert that arrives in a LATER commit until compaction
drops the tombstone — Hudi's own MOR log-merge behavior
(ordering-value precombine against delete markers), whereas COW filters
deletes at each commit so the older insert would resurrect the row.

Exactly-once on top of at-least-once ``foreachBatch``: the pointer records
the last merged streaming batch id; replaying an already-committed batch is
a no-op (SURVEY §7 hard-part 5). The merge itself is also idempotent, so
this is belt and braces.

Concurrency contract: readers are always safe against a concurrent writer
(they resolve only manifested directories through the atomic pointer).
WRITERS serialize through a filesystem lock (``_table_lock`` — the Hudi
lock-provider role): every pointer transition (merge, compaction, restore,
savepoints) runs read-pointer -> write-pointer under the exclusive lock, so
two concurrent writers queue instead of silently dropping a commit; stale
locks from crashed writers are broken after a timeout. The streaming
driver still serializes per-table work onto one thread — the lock is the
belt-and-braces for multi-job or out-of-band table-service writers. On
storage without atomic ``O_EXCL`` create (some object stores), supply an
external lock instead.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time
import uuid
import warnings
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_cdc_hudi_spark.functions.zorder import zorder_key
from kafka_cdc_hudi_spark.operators.dedup import latest_per_key_agg
from kafka_cdc_hudi_spark.operators.merge import align_by_name, dedupe_batch, merge_upsert

#: commit-sequence column persisted in delta files; breaks cross-commit
#: precombine ties toward the later commit (Hudi: incoming record wins)
_SEQ_COL = "__commit_seq"

MODE_COW = "cow"
MODE_MOR = "mor"
#: COW with the base partitioned by key bucket: a commit rewrites ONLY the
#: buckets the batch touches (Hudi file-group semantics on the pointer
#: protocol) — commit cost O(touched fraction of table), not O(table)
MODE_COW_BUCKETED = "cow-bucketed"

#: hive-style partition column for the bucketed-COW layout
_BUCKET_COL = "__bucket"


def _dir_bytes(path: str) -> int:
    """Total parquet bytes under ``path`` (0 if absent). Metadata-only."""
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
    return total


class ConcurrentCommitError(RuntimeError):
    """A writer that stalled past ``_LOCK_STALE_S`` lost the table lock to
    a stale-break, and a newer writer committed underneath it. The stalled
    writer's commit is REJECTED (optimistic-concurrency conflict, the
    Hudi OCC resolution): its caller must re-read the pointer and retry -
    completing the write would regress the pointer over the newer commit
    or clobber its data files."""


class KeyedParquetTable:
    def __init__(
        self,
        root: str,
        keys: Sequence[str],
        order_col: str = "mtime",
        deleted_col: str = "_deleted",
        tiebreakers: Sequence[str] = (),
        keep_versions: int = 3,
        mode: str = MODE_COW,
        compact_every: int | None = None,
        compact_bytes_ratio: float | None = None,
        n_buckets: int = 16,
        cluster_cols: Sequence[str] = (),
        cluster_zorder: bool = False,
        cluster_range_files: bool | int = False,
        parquet_bloom_keys: bool = False,
    ):
        if mode not in (MODE_COW, MODE_MOR, MODE_COW_BUCKETED):
            raise ValueError(
                f"mode must be one of '{MODE_COW}', '{MODE_MOR}', "
                f"'{MODE_COW_BUCKETED}', got {mode!r}"
            )
        self.root = root
        self.keys = list(keys)
        #: per-thread record of the held lock token — created EAGERLY so
        #: two threads racing the first _table_lock on one table object
        #: can't each build their own threading.local (the loser's token
        #: would vanish and silently disable _assert_lock_owned fencing)
        self._held_tokens = threading.local()
        self.order_col = order_col
        self.deleted_col = deleted_col
        self.tiebreakers = list(tiebreakers)
        self.keep_versions = keep_versions
        self.mode = mode
        #: MOR only: auto-compact once this many deltas accumulate past the base
        self.compact_every = compact_every
        #: MOR only: size-based compaction trigger (Hudi log-file-size
        #: compaction strategy parity) — compact when pending delta bytes
        #: reach this fraction of the base snapshot's bytes. Unlike the
        #: count trigger, this adapts to batch size: many tiny deltas wait,
        #: one huge delta compacts promptly. Either/both triggers may be
        #: set; whichever fires first wins. Metadata-only check (file
        #: sizes), no data read.
        self.compact_bytes_ratio = compact_bytes_ratio
        #: bucketed COW only: number of key buckets. Size so one bucket is a
        #: comfortable rewrite unit (~1-10 GB at cluster scale); more buckets
        #: = finer rewrites but more files per snapshot
        self.n_buckets = n_buckets
        #: columns to sort by WITHIN output files at write time — within
        #: each bucket file (bucketed mode) or within each base-snapshot
        #: file (COW bases, MOR compacted bases, restores). Clustering
        #: gives parquet row-group min/max statistics real selectivity, so
        #: pushed-down range predicates (time slices, id ranges) skip row
        #: groups instead of scanning — the same lever as Hudi/Delta
        #: clustering, paid once per rewrite
        self.cluster_cols: list[str] = list(cluster_cols)
        #: when True, cluster by the Morton interleave of cluster_cols
        #: (>=2 numeric columns) instead of their linear sort — row-group
        #: stats become selective in EVERY clustered dimension at once
        #: (Delta/Hudi Z-ORDER parity; see functions/zorder.py)
        self.cluster_zorder = cluster_zorder
        if cluster_zorder and len(self.cluster_cols) < 2:
            raise ValueError("cluster_zorder needs >= 2 cluster_cols")
        #: truthy: plain-layout base writes (COW bases, MOR compacted
        #: bases, restores) are RANGE-partitioned on the cluster expression
        #: before the within-file sort, so files cover disjoint ranges and
        #: the per-file stats index (``file_stats`` in the pointer) gets
        #: real FILE-level selectivity — Delta OPTIMIZE / Hudi clustering
        #: parity. ``True`` lets AQE size the range partitions (~advisory
        #: bytes per file — the right default at cluster scale); an int
        #: pins the exact file count (AQE never coalesces an explicit
        #: count — useful when the table's file granularity is a contract).
        #: Off by default: it adds a range-exchange (plus its sampling
        #: pass) to every rewrite.
        self.cluster_range_files = cluster_range_files
        if cluster_range_files and not self.cluster_cols:
            raise ValueError("cluster_range_files needs cluster_cols")
        #: when True, every parquet write carries per-row-group BLOOM
        #: FILTERS on the key columns (parquet.bloom.filter.enabled#<key>)
        #: — the complement to the min/max stats index: on hash-laid-out
        #: tables key ranges span every file so range stats can't prune,
        #: but the reader's pushed equality predicates still skip row
        #: groups through the bloom. Costs ~1 MB/row-group/column of file
        #: size (parquet-mr default NDV); off by default.
        self.parquet_bloom_keys = parquet_bloom_keys

    # -- pointer management -------------------------------------------------
    @property
    def _pointer_path(self) -> str:
        return os.path.join(self.root, "_VERSION")

    def _read_pointer(self) -> dict | None:
        try:
            with open(self._pointer_path) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _savepoints(self, p: dict | None) -> dict[str, int]:
        """Named savepoints from the pointer: {name: version}."""
        return {n: int(v) for n, v in ((p or {}).get("savepoints") or {}).items()}

    def _write_pointer(
        self,
        version: int,
        batch_id: int | None,
        commits: dict[int, str],
        savepoints: dict[str, int] | None = None,
        file_stats: dict[str, dict] | None = None,
        commit_meta: dict[str, dict] | None = None,
    ) -> None:
        prev = self._read_pointer()
        if savepoints is None:  # preserve existing savepoints on every commit
            savepoints = self._savepoints(prev)
        # column-stats index + per-commit operational metadata: preserve
        # prior versions' entries, fold in the new commit's, and trim to
        # versions still in the commit map so retention pruning cleans
        # both maps too
        live = {str(v) for v in commits}
        stats = dict((prev or {}).get("file_stats") or {})
        stats.update(file_stats or {})
        stats = {v: s for v, s in stats.items() if v in live}
        meta = dict((prev or {}).get("commit_meta") or {})
        meta.update(commit_meta or {})
        meta = {v: m for v, m in meta.items() if v in live}
        self._assert_lock_owned("pointer write")
        self._assert_version_monotonic(version, "pointer write", prev)
        tmp = self._pointer_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": version,
                    "last_batch_id": batch_id,
                    "savepoints": savepoints,
                    "commits": {str(v): k for v, k in sorted(commits.items())},
                    "file_stats": stats,
                    "commit_meta": meta,
                },
                f,
            )
        os.replace(tmp, self._pointer_path)  # atomic on POSIX

    def _commit_meta_entry(self, path: str, op: str, t0: float) -> dict:
        """Per-commit operational metadata (the Hudi commit-metadata
        analog, kept in the pointer next to the commit it describes):
        operation kind, file count + bytes written (one metadata-only
        walk), and wall time from the commit operation's start. Powers
        round-over-round operational auditing (write amplification,
        commit latency) without scanning data.

        ``rows`` (footer num_rows sum) is recorded for the ops that read
        it: plain-COW base commits ("upsert"/"restore" — the write-
        amplification probe) and, since r15, "delta" commits — the MOR
        merge decides batch emptiness from this count instead of paying a
        second execution of the batch lineage for a pre-write isEmpty()
        (rebalanced deltas are typically one file, so the footer walk is
        O(1)). Bucketed/compact commits still skip the count: nothing
        reads it there (ADVICE r13)."""
        n_files = total = 0
        want_rows = op in ("upsert", "restore", "delta")
        rows: int | None = 0 if want_rows else None
        if want_rows:
            import pyarrow.parquet as pq
        for root, _dirs, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    fp = os.path.join(root, n)
                    n_files += 1
                    total += os.path.getsize(fp)
                    if rows is not None:
                        try:
                            rows += pq.ParquetFile(fp).metadata.num_rows
                        except Exception:
                            rows = None  # footer unreadable: no row count
        return {
            "op": op,
            "files": n_files,
            "bytes": total,
            "rows": rows,
            "wall_ms": int((time.monotonic() - t0) * 1000),
        }

    def commit_meta(self) -> dict[int, dict]:
        """Operational metadata per retained commit: {version: {op, files,
        bytes, wall_ms}} — all three pointer layouts record it (empty only
        for tables written before the field existed)."""
        p = self._read_pointer()
        return {
            int(v): m for v, m in ((p or {}).get("commit_meta") or {}).items()
        }

    def _stats_cols(self) -> list[str]:
        """Columns carried in the per-file stats index: primary keys first
        (point-lookup pruning), then cluster columns (range pruning),
        capped so the index stays metadata-sized."""
        return list(dict.fromkeys([*self.keys, *self.cluster_cols]))[:4]

    @staticmethod
    def _json_stat(v):
        """Footer statistic -> JSON-round-trippable value, or None when the
        type can't be compared faithfully after a JSON round trip."""
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, bool) or isinstance(v, (int, float, str)):
            return v
        return None  # timestamps / decimals: not indexed

    def _collect_file_stats(self, vdir: str) -> dict[str, dict] | None:
        """Per-file [min, max] for :meth:`_stats_cols`, harvested from the
        parquet FOOTERS the write just produced — metadata-only, no data
        read and no Spark job (the Hudi column-stats-index / Delta
        file-skipping analog, stored in the commit pointer). A column is
        only indexed for a file when EVERY row group carries min/max for
        it; anything unreadable degrades to ``None`` (no index — readers
        then scan every file, exactly the pre-index behavior)."""
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover - pyarrow is baked in
            return None
        want = self._stats_cols()
        out: dict[str, dict] = {}
        try:
            names = sorted(
                n for n in os.listdir(vdir) if n.endswith(".parquet")
            )
        except OSError:
            return None
        for name in names:
            try:
                md = pq.ParquetFile(os.path.join(vdir, name)).metadata
            except Exception:
                return None
            per: dict[str, list] = {}
            broken: set[str] = set()
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    cname = col.path_in_schema
                    if cname not in want or cname in broken:
                        continue
                    st = col.statistics
                    lo = self._json_stat(st.min) if st and st.has_min_max else None
                    hi = self._json_stat(st.max) if st and st.has_min_max else None
                    if lo is None or hi is None:
                        broken.add(cname)
                        per.pop(cname, None)
                        continue
                    if cname in per:
                        per[cname] = [min(per[cname][0], lo), max(per[cname][1], hi)]
                    else:
                        per[cname] = [lo, hi]
            out[name] = per
        return out or None

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.root, f"v_{version:08d}")

    def _delta_dir(self, version: int) -> str:
        return os.path.join(self.root, f"d_{version:08d}")

    def _commit_dirs(self) -> tuple[list[int], list[int]]:
        """(base_versions, delta_versions) present ON DISK, each sorted —
        includes orphans from crashed writes. Used only for version
        allocation and orphan sweeping; readers go through the manifest."""
        try:
            names = os.listdir(self.root)
        except FileNotFoundError:
            return [], []
        bases = sorted(int(n[2:]) for n in names if n.startswith("v_") and n[2:].isdigit())
        deltas = sorted(int(n[2:]) for n in names if n.startswith("d_") and n[2:].isdigit())
        return bases, deltas

    def _commits_map(self, p: dict | None) -> dict[int, str]:
        """Committed {version: "base"|"delta"} from the pointer manifest.
        Pre-manifest tables (pointer without ``commits``) fall back to the
        disk listing — the legacy behavior, adopted into the manifest on the
        next commit."""
        if p is not None and "commits" in p:
            return {int(v): k for v, k in p["commits"].items()}
        bases, deltas = self._commit_dirs()
        return {**{b: "base" for b in bases}, **{d: "delta" for d in deltas}}

    def _next_version(self, p: dict | None) -> int:
        """Allocate past both the committed version AND anything on disk, so
        an orphan directory from a crashed write (e.g. compaction that died
        between base write and pointer update) is never reused — reusing it
        would let a stale base shadow the delta committed under the same
        number, silently losing that batch."""
        bases, deltas = self._commit_dirs()
        committed = p["version"] if p is not None else 0
        return max([committed, *bases, *deltas]) + 1

    def _resolve(self, version: int, p: dict | None = None) -> tuple[int | None, list[int]]:
        """Base snapshot and ordered delta commits making up ``version`` —
        manifested commits only; torn/orphan directories are invisible."""
        commits = self._commits_map(self._read_pointer() if p is None else p)
        bases = sorted(v for v, k in commits.items() if k == "base")
        deltas = sorted(v for v, k in commits.items() if k == "delta")
        base = max((b for b in bases if b <= version), default=None)
        floor = base if base is not None else 0
        return base, [d for d in deltas if floor < d <= version]

    # -- bucketed-COW helpers -------------------------------------------------
    def _bucket_expr(self) -> F.Column:
        """Deterministic key -> bucket assignment. Primary keys are assumed
        non-null (CDC record keys), so the xxhash64 null-skip caveat (see
        operators/merge._with_det_tiebreak) cannot conflate DISTINCT keys
        here — and even a conflated bucket would only co-locate two keys,
        never corrupt a merge."""
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in self.keys]), F.lit(self.n_buckets)
        ).cast("int")

    def _bucket_maps(self, p: dict | None) -> dict[int, dict[int, int]]:
        """Retained {version: {bucket: holder_version}} maps from the
        pointer. The holder version says which ``v_*`` directory contains a
        bucket's latest file — the file-group index."""
        if p is None:
            return {}
        return {
            int(v): {int(b): hv for b, hv in m.items()}
            for v, m in p.get("bucket_maps", {}).items()
        }

    def _bucket_path(self, holder: int, bucket: int) -> str:
        return os.path.join(self._version_dir(holder), f"{_BUCKET_COL}={bucket}")

    def _write_bucketed_pointer(
        self,
        version: int,
        batch_id: int | None,
        commits: dict[int, str],
        maps: dict[int, dict[int, int]],
        savepoints: dict[str, int] | None = None,
        commit_meta: dict[str, dict] | None = None,
    ) -> None:
        prev = self._read_pointer()
        if savepoints is None:  # preserve existing savepoints on every commit
            savepoints = self._savepoints(prev)
        # per-commit operational metadata (write-amplification auditing
        # parity with the COW/MOR pointer): preserve prior entries, fold in
        # the new commit's, trim to versions still holding data
        live = {str(v) for v in commits} | {
            str(hv) for m in maps.values() for hv in m.values()
        }
        meta = dict((prev or {}).get("commit_meta") or {})
        meta.update(commit_meta or {})
        meta = {v: m for v, m in meta.items() if v in live}
        self._assert_lock_owned("bucketed pointer write")
        self._assert_version_monotonic(version, "bucketed pointer write", prev)
        tmp = self._pointer_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": version,
                    "last_batch_id": batch_id,
                    "savepoints": savepoints,
                    "commits": {str(v): k for v, k in sorted(commits.items())},
                    "bucket_maps": {
                        str(v): {str(b): hv for b, hv in sorted(m.items())}
                        for v, m in sorted(maps.items())
                    },
                    "commit_meta": meta,
                },
                f,
            )
        os.replace(tmp, self._pointer_path)

    def _read_bucketed(self, spark: SparkSession, p: dict, version: int) -> DataFrame:
        maps = self._bucket_maps(p)
        if version not in maps:
            raise FileNotFoundError(
                f"version {version} not available (bucket-map retention keeps "
                f"{self.keep_versions}; latest is {p['version']})"
            )
        bmap = maps[version]
        if not bmap:
            raise FileNotFoundError(
                f"version {version} has no data (all keys deleted)"
            )
        paths = [self._bucket_path(hv, b) for b, hv in sorted(bmap.items())]
        # leaf-dir reads drop the hive partition column — by design, the
        # bucket id is layout, not data; mergeSchema covers cross-version drift
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    def _stats_keep_files(self, vdir: str, stats_all: dict, col: str, overlaps):
        """Shared file-skipping core for point lookups and range slices:
        a file survives when the index has no entry for ``col``
        (conservative), its [lo, hi] satisfies ``overlaps``, or its
        bounds are incomparable after the JSON round trip. Returns
        (all_names, kept_names) or None when the directory is unreadable."""
        try:
            names = sorted(n for n in os.listdir(vdir) if n.endswith(".parquet"))
        except OSError:
            return None
        keep: list[str] = []
        for name in names:
            st = (stats_all.get(name) or {}).get(col)
            if not st:
                keep.append(name)  # unindexed file: include conservatively
                continue
            try:
                if overlaps(st[0], st[1]):
                    keep.append(name)
            except TypeError:
                keep.append(name)  # incomparable after JSON round trip
        return names, keep

    def read_range(self, spark: SparkSession, col: str, lo, hi) -> DataFrame:
        """Range slice ``lo <= col <= hi`` with file-level skipping: on a
        COW table whose pointer carries the column-stats index, only the
        base files whose [min, max] for ``col`` overlap the range are
        opened (with ``cluster_range_files`` layouts that is the touched
        slice of the table, not all of it); the predicate is then applied
        normally, so parquet row-group pruning still works inside the kept
        files. Falls back to a full snapshot read + filter wherever the
        index can't prune safely (MOR pending deltas, bucketed layout,
        missing stats) — same results, more I/O."""
        pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        if self.mode == MODE_COW:
            p = self._read_pointer()
            stats_all = (p or {}).get("file_stats", {}).get(str(p["version"])) if p else None
            if stats_all:
                vdir = self._version_dir(p["version"])
                kept = self._stats_keep_files(
                    vdir, stats_all, col, lambda flo, fhi: flo <= hi and lo <= fhi
                )
                if kept is not None:
                    names, keep = kept
                    if names and not keep:
                        return spark.read.parquet(vdir).filter(F.lit(False))
                    if names and len(keep) < len(names):
                        return spark.read.parquet(
                            *[os.path.join(vdir, n) for n in keep]
                        ).filter(pred)
        return self.read(spark).filter(pred)

    def read_keys(self, spark: SparkSession, key_values: Sequence[Sequence]) -> DataFrame:
        """Primary-key point lookups. On a bucketed table this reads ONLY
        the bucket files that can contain the requested keys (path-level
        pruning via the bucket map — O(requested buckets) I/O regardless
        of table size, the random-access path a 100 TB keyed table needs;
        full scans stay the :meth:`read` API). COW/MOR tables fall back to
        a filtered snapshot read: their single predicate still pushes to
        the parquet scan, but every file is consulted.

        ``key_values``: one tuple per lookup, positionally matching
        ``self.keys``. Bucket assignment for the literals runs through the
        SAME ``_bucket_expr`` column (a #keys-row local job — metadata-
        bounded, never data-bounded), so Python never re-implements
        xxhash64."""
        rows = [tuple(kv) for kv in key_values]
        if not rows:
            raise ValueError("read_keys: no keys given")

        def _match(df: DataFrame) -> DataFrame:
            # literals cast to the table's key types: an INT literal vs a
            # BIGINT column is a struct-IN type mismatch, not a coercion
            key_schema = df.select(*self.keys).schema
            lits = [
                F.struct(
                    *[
                        F.lit(v).cast(f.dataType).alias(f.name)
                        for v, f in zip(r, key_schema.fields)
                    ]
                )
                for r in rows
            ]
            return df.filter(
                F.struct(*[F.col(k).alias(k) for k in self.keys]).isin(lits)
            )

        if self.mode == MODE_COW:
            pruned = self._cow_stats_pruned(spark, rows)
            if pruned is not None:
                return _match(pruned)
        if self.mode != MODE_COW_BUCKETED:
            return _match(self.read(spark))
        p = self._read_pointer()
        if p is None:
            raise FileNotFoundError(f"no commits at {self.root}")
        bmap = self._bucket_maps(p).get(p["version"], {})
        snapshot = self._read_bucketed(spark, p, p["version"])
        key_schema = snapshot.select(*self.keys).schema
        # typed literals through the real bucket expression (type-faithful:
        # xxhash64(int) != xxhash64(bigint))
        probe = spark.createDataFrame(rows, key_schema)
        buckets = sorted(
            r["b"]
            for r in probe.select(self._bucket_expr().alias("b")).distinct().collect()
        )
        paths = [self._bucket_path(bmap[b], b) for b in buckets if b in bmap]
        if not paths:
            return _match(snapshot.filter(F.lit(False)))
        pruned = spark.read.option("mergeSchema", "true").parquet(*paths)
        return _match(pruned)

    def _cow_stats_pruned(self, spark: SparkSession, rows: list[tuple]) -> DataFrame | None:
        """COW point-lookup file pruning via the pointer's column-stats
        index: keep only base files whose [min, max] for the first key
        column can contain a requested value (plus any file the index
        doesn't cover — conservative). Returns None when the index can't
        prune safely (no pointer, no stats for the current version), in
        which case the caller scans the full snapshot. MOR is excluded by
        the caller: pending deltas must always be folded, so its lookups
        go through :meth:`read`. With ``cluster_range_files`` layouts the
        index reduces a point lookup to ~1 file regardless of table size;
        on hash-laid-out tables every file spans the key domain and the
        index degrades to the full-scan behavior."""
        p = self._read_pointer()
        if p is None:
            return None
        stats_all = (p.get("file_stats") or {}).get(str(p["version"]))
        if not stats_all:
            return None
        vdir = self._version_dir(p["version"])
        vals = {r[0] for r in rows}
        kept = self._stats_keep_files(
            vdir,
            stats_all,
            self.keys[0],
            lambda lo, hi: any(lo <= v <= hi for v in vals),
        )
        if kept is None:
            return None
        names, keep = kept
        if not keep:
            # schema-only read: no file can contain any requested key
            return spark.read.parquet(vdir).filter(F.lit(False))
        if len(keep) == len(names):
            return spark.read.parquet(vdir)
        return spark.read.parquet(*[os.path.join(vdir, n) for n in keep])

    def _merge_batch_bucketed(
        self, spark: SparkSession, batch: DataFrame, batch_id: int | None, p: dict | None
    ) -> bool:
        t0 = time.monotonic()
        new_version = self._next_version(p)
        maps = self._bucket_maps(p)
        old_map = maps.get(p["version"], {}) if p is not None else {}
        touched = sorted(
            r[_BUCKET_COL]
            for r in batch.select(self._bucket_expr().alias(_BUCKET_COL))
            .distinct()
            .collect()
        )
        exist_paths = [
            self._bucket_path(old_map[b], b) for b in touched if b in old_map
        ]
        existing = (
            spark.read.option("mergeSchema", "true").parquet(*exist_paths)
            if exist_paths
            else None
        )
        merged = merge_upsert(
            existing,
            batch,
            self.keys,
            order_col=self.order_col,
            deleted_col=self.deleted_col,
            tiebreakers=self.tiebreakers,
        )
        vdir = self._version_dir(new_version)
        out = merged.withColumn(_BUCKET_COL, self._bucket_expr()).repartition(
            max(1, len(touched)), F.col(_BUCKET_COL)
        )
        out = self._cluster_sort(out)
        self._write_parquet(out, vdir, partition_by=_BUCKET_COL)
        present = {
            int(n.split("=", 1)[1])
            for n in os.listdir(vdir)
            if n.startswith(f"{_BUCKET_COL}=")
        }
        new_map = dict(old_map)
        for b in touched:
            if b in present:
                new_map[b] = new_version
            else:
                new_map.pop(b, None)  # bucket fully deleted by this batch
        maps[new_version] = new_map
        protected = set(self._savepoints(p).values()) & set(maps)
        retained = sorted(set(sorted(maps)[-self.keep_versions :]) | protected)
        maps = {v: maps[v] for v in retained}
        commits = self._commits_map(p)
        commits[new_version] = "bucketed"
        commits = {v: k for v, k in commits.items() if v in maps or k != "bucketed"}
        self._write_bucketed_pointer(
            new_version,
            batch_id,
            commits,
            maps,
            commit_meta={
                str(new_version): self._commit_meta_entry(vdir, "bucketed", t0)
            },
        )
        self._prune_bucketed(new_version, maps)
        return True

    def _prune_bucketed(self, current: int, maps: dict[int, dict[int, int]]) -> None:
        """Drop version dirs no retained bucket map references. Safe against
        in-flight writers for the same reason as ``_prune``: live writes
        allocate above the committed pointer, and only dirs at-or-below it
        are swept."""
        referenced = {hv for m in maps.values() for hv in m.values()} | set(maps)
        disk_bases, _ = self._commit_dirs()
        for v in disk_bases:
            if v <= current and v not in referenced:
                shutil.rmtree(self._version_dir(v), ignore_errors=True)

    # -- public API ---------------------------------------------------------
    def exists(self) -> bool:
        return self._read_pointer() is not None

    def last_batch_id(self) -> int | None:
        p = self._read_pointer()
        return None if p is None else p.get("last_batch_id")

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        read_optimized: bool = False,
    ) -> DataFrame | None:
        """Current state, or a past snapshot via ``version`` (time travel —
        any version still within the ``keep_versions`` retention horizon;
        mirrors Hudi/Delta incremental-query capability on the COW layout).

        ``read_optimized=True`` (MOR only) reads the latest base snapshot
        and SKIPS the delta fold — Hudi's ``_ro`` query type: stale up to
        the last compaction but scan-only cost, the trade analytics readers
        take on write-heavy tables. This is exactly the state the
        catalog-synced ``<name>_ro`` table exposes. Returns None when no
        base exists yet (delta-only table). COW/bucketed reads are already
        fold-free, so the flag is a no-op there."""
        p = self._read_pointer()
        if p is None:
            return None
        v = p["version"] if version is None else version
        if self.mode == MODE_MOR and read_optimized and version is None:
            base, _deltas = self._resolve(p["version"], p)
            if base is None:
                return None
            return spark.read.parquet(self._version_dir(base))
        if self.mode == MODE_COW_BUCKETED:
            return self._read_bucketed(spark, p, v)
        if v > p["version"]:
            # never read past the committed pointer: a higher-numbered dir is
            # an in-flight or crashed write, not a committed snapshot
            raise FileNotFoundError(
                f"version {v} not committed (latest is {p['version']})"
            )
        base, deltas = self._resolve(v, p)
        if not deltas:
            if base != v or base is None:
                raise FileNotFoundError(
                    f"version {v} not available (retention keeps {self.keep_versions}; "
                    f"latest is {p['version']})"
                )
            return spark.read.parquet(self._version_dir(base))
        if deltas[-1] != v and base != v:
            raise FileNotFoundError(
                f"version {v} not available (retention keeps {self.keep_versions}; "
                f"latest is {p['version']})"
            )
        return self._fold(spark, base, deltas)

    def read_where_keys(self, spark: SparkSession, predicate) -> DataFrame | None:
        """Current state restricted to keys satisfying ``predicate`` — a
        Column expression over KEY columns only. Semantically identical to
        ``read(spark).filter(predicate)``, but on a MOR table the predicate
        is applied BELOW the delta fold (safe because the fold is strictly
        per-key: dropping whole keys before folding cannot change any
        surviving key's fold), so it reaches the parquet scans — row-group
        skipping instead of shuffling the full log to answer a point or
        changed-keys read. The per-batch incremental maintainers
        (streaming/scd2.py) live on this: their read cost becomes
        O(affected keys' rows), not O(log). COW/bucketed modes delegate to
        ``read().filter`` (already scan-pruned by normal pushdown)."""
        p = self._read_pointer()
        if p is None:
            return None
        if self.mode != MODE_MOR:
            return self.read(spark).filter(predicate)
        base, deltas = self._resolve(p["version"], p)
        if not deltas:
            if base is None:
                return None
            return spark.read.parquet(self._version_dir(base)).filter(predicate)
        return self._fold(spark, base, deltas, pre_filter=predicate)

    def _fold(
        self,
        spark: SparkSession,
        base: int | None,
        deltas: list[int],
        pre_filter=None,
    ) -> DataFrame:
        """Merge-on-read: base ∪ delta commits → latest per key by
        ``(order_col, commit_seq)`` → drop tombstones. One shuffle on the
        key; deltas were already collapsed to ≤1 row per key at commit time,
        so the commit sequence alone breaks cross-commit ties.

        ``pre_filter`` (key-column predicate, see :meth:`read_where_keys`)
        is applied to the base and delta scans BEFORE the fold."""
        delta_df = (
            spark.read.option("mergeSchema", "true")
            .parquet(*[self._delta_dir(d) for d in deltas])
        )
        if pre_filter is not None:
            delta_df = delta_df.filter(pre_filter)
        unioned = delta_df
        if base is not None:
            base_df = spark.read.parquet(self._version_dir(base))
            if pre_filter is not None:
                base_df = base_df.filter(pre_filter)
            base_df = base_df.withColumn(
                self.deleted_col, F.lit(False)
            ).withColumn(_SEQ_COL, F.lit(base))
            base_df, delta_df = align_by_name(base_df, delta_df)
            unioned = base_df.unionByName(delta_df)
        merged = latest_per_key_agg(
            unioned, self.keys, order_col=self.order_col,
            tiebreakers=[_SEQ_COL, *self.tiebreakers],
        )
        return merged.filter(
            ~F.coalesce(F.col(self.deleted_col), F.lit(False))
        ).drop(_SEQ_COL, self.deleted_col)

    def versions(self) -> list[int]:
        """Committed versions still on disk, oldest first (bases and, in
        merge-on-read mode, delta commits — any of them time-travel-readable;
        in bucketed mode, the versions with a retained bucket map)."""
        p = self._read_pointer()
        if self.mode == MODE_COW_BUCKETED:
            return sorted(self._bucket_maps(p))
        latest = p["version"] if p else 0
        return sorted(v for v in self._commits_map(p) if v <= latest)

    def diff(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        include_pre_image: bool = False,
    ) -> DataFrame:
        """Incremental read: per-key changes between two snapshots —
        the Hudi incremental-query capability on the COW layout.

        Returns the TO-snapshot columns plus ``_change_type`` in
        ('insert', 'update', 'delete'); delete rows carry the key with
        null payload. One full-outer shuffle join on the key; change
        detection is a 64-bit row hash, so unchanged keys drop out
        without column-by-column comparison.

        ``include_pre_image=True`` additionally carries the FROM-snapshot
        non-key columns as ``_pre_<col>`` (null on inserts) — the CDC
        before-image consumers like incremental aggregate maintenance need
        to retract old contributions (operators/incremental.py)."""
        from pyspark.sql import functions as F

        p = self._read_pointer()
        if p is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        resolved_to = p["version"] if to_version is None else to_version
        if from_version >= resolved_to:
            raise ValueError(
                f"from_version ({from_version}) must be < to_version ({resolved_to})"
            )
        old = self.read(spark, from_version)
        new = self.read(spark, resolved_to)
        cols = new.columns

        def row_hash(df: DataFrame) -> F.Column:
            # hash a canonical JSON serialization, NOT xxhash64(*cols):
            # xxhash64 skips null children, so ('x', null) and (null, 'x')
            # would hash identically and a column-swap update would vanish
            return F.xxhash64(
                F.to_json(
                    F.struct(*[F.col(c) for c in df.columns]),
                    {"ignoreNullFields": "false"},
                )
            )

        pre_cols = [c for c in old.columns if c not in self.keys]
        old_sel = [*self.keys, row_hash(old).alias("__h_old")]
        out_cols = [*cols, "_change_type"]
        if include_pre_image:
            old_sel += [F.col(c).alias(f"_pre_{c}") for c in pre_cols]
            out_cols += [f"_pre_{c}" for c in pre_cols]
        oldh = old.select(*old_sel)
        newh = new.withColumn("__h_new", row_hash(new))
        j = newh.join(oldh, self.keys, "full_outer")
        change = (
            F.when(F.col("__h_old").isNull(), "insert")
            .when(F.col("__h_new").isNull(), "delete")
            .otherwise("update")
        )
        return (
            j.withColumn("_change_type", change)
            .filter(
                F.col("__h_old").isNull()
                | F.col("__h_new").isNull()
                | (F.col("__h_old") != F.col("__h_new"))
            )
            .select(*out_cols)
        )

    def stream_changes(self, spark: SparkSession) -> DataFrame:
        """Tail this MOR table's delta commits as a structured stream — the
        Hudi incremental-streaming-read analog, so a downstream pipeline can
        chain off the sink without re-scanning snapshots. Each delta row
        carries the payload + tombstone flag + ``__commit_seq``.

        Semantics: at-least-once per commit. The file source discovers delta
        files at trigger time, so in the rare crashed-commit case a replayed
        batch appears under two commit seqs (same rows — any keyed consumer
        folding by (key, order_col) converges, exactly like the MOR read
        fold) and an orphan batch that never commits NOR replays may surface
        once; consumers needing exactly-once should gate on the pointer
        manifest via ``versions()``.

        Retention interaction: ``compact()``/``_prune`` DELETE folded and
        unmanifested ``d_*`` directories. A tail that discovered such a
        file but has not processed it yet fails its next micro-batch
        (FileNotFoundException) — same contract as tailing any file source
        with a retention sweeper. Keep ``compact_every`` comfortably above
        the tail's trigger cadence, or pause compaction while a tail runs.

        MOR only: COW commits rewrite full snapshots, which is a table scan
        per commit, not a change stream — use ``diff()`` for those."""
        if self.mode != MODE_MOR:
            raise ValueError("stream_changes requires mode='mor' (COW has no delta log; use diff())")
        p = self._read_pointer()
        if p is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        base, deltas = self._resolve(p["version"], p)
        if deltas:
            schema = spark.read.parquet(self._delta_dir(deltas[-1])).schema
        elif base is not None:
            # No manifested delta to sample. NEVER sample an unmanifested
            # d_* dir — it may be a torn write with an unreadable/mismatched
            # footer. The delta schema is the base schema + the tombstone
            # flag + the commit sequence (exactly what merge_batch writes).
            from pyspark.sql.types import (
                BooleanType,
                LongType,
                StructField,
                StructType,
            )

            schema = StructType(
                spark.read.parquet(self._version_dir(base)).schema.fields
                + [
                    StructField(self.deleted_col, BooleanType()),
                    StructField(_SEQ_COL, LongType()),
                ]
            )
        else:
            raise FileNotFoundError(
                "no committed delta or base to derive a schema from "
                "(commit at least one batch before tailing)"
            )
        return spark.readStream.schema(schema).parquet(os.path.join(self.root, "d_*"))

    def sync_catalog(self, spark: SparkSession, name: str) -> str | None:
        """Register this table in the Spark catalog (the metastore when Hive
        support is enabled) as an EXTERNAL parquet table over the current
        committed snapshot — the pure-Spark analog of the reference's
        per-commit Glue/Hive sync (``hoodie.datasource.hive_sync.*``,
        /root/reference/glue/cdc_hudi.py:190-194), so downstream SQL engines
        can ``SELECT ... FROM db.tbl`` with no knowledge of the sink's path
        layout or pointer protocol.

        COW: registers ``name`` over the latest base snapshot (always the
        current state). MOR: registers ``name_ro`` over the latest base —
        the read-optimized view, deltas excluded — the same contract as
        Hudi's hive-synced ``_ro`` table; the real-time fold needs the
        engine (``read()``), exactly as Hudi's ``_rt`` table needs the Hudi
        reader. Returns the registered name, or None when no base snapshot
        exists yet (MOR before first compaction).

        Re-pointing on a new commit is metadata-only (drop + re-create
        external + refresh) — no data is copied. The drop/create pair is
        not atomic for concurrent readers mid-query; at streaming cadence
        this mirrors hive-sync's own update window.

        Bucketed COW returns None: its snapshot spans multiple version
        dirs (one LOCATION cannot express the bucket map); run ``compact()``
        first if a single-location external table is required."""
        p = self._read_pointer()
        if p is None:
            return None
        base, _deltas = self._resolve(p["version"], p)
        if base is None:
            return None
        reg = name if self.mode == MODE_COW else f"{name}_ro"
        loc = self._version_dir(base)
        if "." in reg:
            db = reg.split(".", 1)[0]
            spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
        quoted = ".".join(f"`{part}`" for part in reg.split("."))
        spark.sql(f"DROP TABLE IF EXISTS {quoted}")
        spark.sql(f"CREATE TABLE {quoted} USING parquet LOCATION '{loc}'")
        spark.catalog.refreshTable(quoted)
        return reg

    #: lock-provider knobs (Hudi OCC parity): how long a writer waits for
    #: the table lock, and how old a lock file must be before it is
    #: considered abandoned by a crashed writer and broken
    _LOCK_TIMEOUT_S = 60.0
    _LOCK_STALE_S = 300.0

    @property
    def _held(self) -> threading.local:
        """Per-thread record of the lock token the CURRENT thread holds
        (concurrent writers on one table object each hold their own).
        The underlying threading.local is created eagerly in __init__ —
        lazy creation here could race and drop a thread's token."""
        return self._held_tokens

    def _assert_lock_owned(self, where: str) -> None:
        """Fencing check (zombie-writer protection): a writer stalled past
        ``_LOCK_STALE_S`` whose lock was stale-broken by a newer writer
        must NOT complete its data or pointer writes - re-verify, at each
        write site inside the critical section, that the lock file still
        holds this thread's token. Shrinks the stale-break exposure from
        the whole commit duration to the instants before each write; the
        pointer-monotonicity check in ``_write_pointer`` /
        ``_write_bucketed_pointer`` independently rejects any regression
        that slips through the residual window."""
        token = getattr(self._held, "token", None)
        if token is None:
            return  # not inside _table_lock (single-writer callers)
        try:
            with open(os.path.join(self.root, ".commit_lock"), "rb") as f:
                current = f.read().decode(errors="replace")
        except OSError:
            current = None
        if current != token:
            raise ConcurrentCommitError(
                f"{where}: table lock lost (stalled past "
                f"{self._LOCK_STALE_S}s and stale-broken by another "
                f"writer); re-read the pointer and retry the commit"
            )

    def _assert_version_monotonic(
        self, version: int, where: str, prev: dict | None
    ) -> None:
        """Second fencing layer: a pointer write may never move the
        committed version BACKWARD (a zombie writer's version was
        allocated before the newer writer's and is strictly lower).
        Metadata-only rewrites (savepoints) legitimately re-commit the
        SAME version, so equality passes. ``prev`` is the pointer the
        caller already read — re-read here would race the check."""
        if prev is not None and version < prev["version"]:
            raise ConcurrentCommitError(
                f"{where}: pointer regression rejected (attempted "
                f"v{version} over committed v{prev['version']} - a newer "
                f"writer committed while this one was stalled)"
            )

    def _claim_and_remove(self, lock: str, my_token: str | None = None) -> bool:
        """Atomically claim the lock file via ``os.rename`` to a unique
        path, then decide on the CLAIMED file — only the renamer proceeds,
        so two waiters can never both break the same stale lock, and the
        old stat-recheck-unlink TOCTOU (a fresh lock created between the
        re-check and the unlink getting unlinked) is gone.

        With ``my_token`` this is the RELEASE path: remove the lock only
        if the claimed file holds our token. Without it, the STALE-BREAK
        path: remove only if the claimed file's mtime is past
        ``_LOCK_STALE_S``. If the claimed file turns out to be someone
        else's LIVE lock (we yanked a fresh one), restore it with
        ``os.link`` — which atomically refuses (EEXIST) to clobber a lock
        a newer writer created in the meantime."""
        if my_token is not None:
            # Release path: peek at the lock IN PLACE first (ADVICE r8).
            # If it is not ours — we stalled past _LOCK_STALE_S, were
            # stale-broken, and another writer now holds a live lock —
            # never rename-claim it: the lock's transient absence during
            # the claim would let a third waiter O_EXCL-acquire, and the
            # os.link restore then fails EEXIST, silently dropping the
            # second writer's lock. The rename-claim below re-verifies
            # ownership, closing the peek-then-rename window on OUR lock.
            try:
                with open(lock, "rb") as f:
                    if f.read().decode(errors="replace") != my_token:
                        return False
            except OSError:
                return False  # already claimed/broken by someone else
        claim = f"{lock}.claim.{os.getpid()}.{uuid.uuid4().hex}"
        try:
            os.rename(lock, claim)
        except OSError:
            return False  # another waiter claimed it first, or it vanished
        try:
            if my_token is not None:
                with open(claim, "rb") as f:
                    ours = f.read().decode(errors="replace") == my_token
            else:
                ours = time.time() - os.path.getmtime(claim) > self._LOCK_STALE_S
        except OSError:
            ours = False
        if ours:
            with contextlib.suppress(OSError):
                os.unlink(claim)
            return True
        # live lock of another writer: put it back without clobbering a
        # newcomer (link is atomic and fails if lock reappeared)
        with contextlib.suppress(OSError):
            os.link(claim, lock)
        with contextlib.suppress(OSError):
            os.unlink(claim)
        return False

    @contextlib.contextmanager
    def _table_lock(self):
        """Multi-writer safety (Hudi optimistic-concurrency lock-provider
        parity): every pointer transition runs under an exclusive
        filesystem lock (O_CREAT|O_EXCL — atomic on POSIX and on the
        object-store adapters that emulate it), so two writers cannot
        interleave read-pointer -> write-pointer and silently drop one
        commit. Stale locks from crashed writers are broken after
        ``_LOCK_STALE_S``. Reads never take the lock (readers are
        snapshot-isolated by the atomic pointer swap)."""
        os.makedirs(self.root, exist_ok=True)
        lock = os.path.join(self.root, ".commit_lock")
        # ownership token: release must only unlink OUR lock file. Without
        # it, a writer stalled past _LOCK_STALE_S (long GC pause / slow
        # compaction) whose lock was stale-broken by writer B would, on
        # resume, unconditionally unlink B's LIVE lock — admitting writer C
        # concurrently with B, the exact dropped-commit race the lock
        # prevents.
        token = f"{os.getpid()}:{uuid.uuid4().hex}"
        deadline = time.monotonic() + self._LOCK_TIMEOUT_S
        while True:
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"could not acquire table lock {lock} within "
                    f"{self._LOCK_TIMEOUT_S}s"
                )
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, token.encode())
                os.close(fd)
                self._held.token = token
                break
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(lock)
                except OSError:
                    time.sleep(0.05)  # lock vanished between check and stat
                    continue
                if age > self._LOCK_STALE_S:
                    # rename-claim break: atomic, single-winner, re-verifies
                    # staleness on the claimed file itself (ADVICE r7)
                    self._claim_and_remove(lock)
                    continue
                time.sleep(0.05)
        try:
            yield
        finally:
            self._held.token = None
            # remove only if the claimed file holds OUR token (ownership
            # may have moved if we stalled past _LOCK_STALE_S and were
            # broken); rename-claim closes the read-then-unlink window
            self._claim_and_remove(lock, my_token=token)

    #: COW write-amplification advisory (sizing heuristic, VERDICT r12
    #: item 3). Measured at 10M keys / 142 MB state / 200-key commits
    #: (SOAK_BUCKETED_r12): plain COW rewrites ~100% of state per commit,
    #: cow-bucketed 3.1%, MOR ~0. When the previous base holds at least
    #: ``_WRITE_AMP_MIN_BYTES`` and its row count exceeds the incoming
    #: batch's by ``_WRITE_AMP_WARN_RATIO`` or more, the COW merge emits a
    #: RuntimeWarning steering at bucketed/MOR. The probe is SAMPLED:
    #: one micro-batch count on the first commit past the byte floor,
    #: per table object — small tables never pay it, large ones pay once.
    _WRITE_AMP_WARN_RATIO = 100
    _WRITE_AMP_MIN_BYTES = 64 * 1024 * 1024

    def _check_write_amplification(self, p: dict | None, batch: DataFrame) -> None:
        """Warn before a COW rewrite whose state/churn ratio sits on the
        measured write-amplification cliff. Uses the PREVIOUS commit's
        footer-derived row count (free pointer metadata) against the raw
        batch row count — an upper bound on churn keys, so the estimated
        amplification UNDERSTATES the true one and never false-positives.
        The batch count is a SAMPLED probe: it runs on the FIRST commit
        past the byte floor only (counting an uncached micro-batch
        lineage re-runs its transform — a per-commit count would tax
        every large COW table forever, warning or not)."""
        if getattr(self, "_write_amp_checked", False) or p is None:
            return
        pm = ((p.get("commit_meta") or {}).get(str(p["version"]))) or {}
        state_rows, state_bytes = pm.get("rows"), pm.get("bytes", 0)
        if not state_rows or state_bytes < self._WRITE_AMP_MIN_BYTES:
            return
        self._write_amp_checked = True
        batch_rows = batch.count()
        if batch_rows <= 0 or state_rows / batch_rows < self._WRITE_AMP_WARN_RATIO:
            return
        warnings.warn(
            f"COW table at {self.root}: this commit rewrites the full "
            f"{state_bytes / 1e6:.0f} MB / {state_rows}-row state for a "
            f"{batch_rows}-row batch (~{state_rows / batch_rows:.0f}x "
            "write amplification). Measured at 10M keys (SOAK_BUCKETED_"
            "r12): plain COW rewrites ~100% of state per commit, "
            "mode='cow-bucketed' 3.1%, mode='mor' ~0 — switch modes for "
            "high-frequency small-churn streams.",
            RuntimeWarning,
            # warn->_check->_merge_batch_locked->merge_batch->caller
            stacklevel=4,
        )

    def merge_batch(
        self,
        spark: SparkSession,
        batch: DataFrame,
        batch_id: int | None = None,
        retry_conflicts: int = 0,
    ) -> bool:
        """Upsert one normalized CDC batch; returns False if skipped
        (already-committed batch id replay, or empty batch). Runs under
        the table lock — see :meth:`_table_lock`.

        ``retry_conflicts`` is the OCC conflict-resolution loop for
        writers that can be fenced off (``ConcurrentCommitError``: this
        writer stalled past ``_LOCK_STALE_S`` and a newer writer committed
        underneath it). Each retry re-enters the lock and recomputes the
        merge from the FRESH pointer state, so the conflict resolution is
        exactly a re-read + re-merge — correct because the merge algebra
        is idempotent per batch id. The streaming driver leaves this at 0:
        its at-least-once replay IS the retry."""
        for attempt in range(retry_conflicts + 1):
            try:
                with self._table_lock():
                    return self._merge_batch_locked(spark, batch, batch_id)
            except ConcurrentCommitError:
                if attempt == retry_conflicts:
                    raise
        raise AssertionError("unreachable")

    def _merge_batch_locked(
        self, spark: SparkSession, batch: DataFrame, batch_id: int | None = None
    ) -> bool:
        t0 = time.monotonic()
        p = self._read_pointer()
        if (
            batch_id is not None
            and p is not None
            and p.get("last_batch_id") is not None
            and batch_id <= p["last_batch_id"]
        ):
            return False
        if self.mode != MODE_MOR and batch.isEmpty():
            # empty-slice gate (/root/reference/glue/cdc_hudi.py:231,246).
            # MOR decides emptiness from the written delta's footers below
            # — a pre-check here would execute the batch lineage twice.
            return False
        os.makedirs(self.root, exist_ok=True)
        if self.mode == MODE_COW_BUCKETED:
            return self._merge_batch_bucketed(spark, batch, batch_id, p)
        new_version = self._next_version(p)
        commits = self._commits_map(p)
        if self.mode == MODE_MOR:
            # O(batch) commit: collapse to ≤1 row per key (map-side combine),
            # keep tombstones, stamp the commit sequence, append as a delta.
            # REBALANCE before the write (guide §6): AQE sizes the delta
            # files by advisory bytes — a churn-bounded maintainer delta
            # lands in one file instead of one tiny file per shuffle
            # partition (the footer storm every later fold/read paid),
            # while a bulk delta still splits into advisory-sized files.
            delta = dedupe_batch(
                batch,
                self.keys,
                order_col=self.order_col,
                deleted_col=self.deleted_col,
                tiebreakers=self.tiebreakers,
            ).withColumn(_SEQ_COL, F.lit(new_version))
            ddir = self._delta_dir(new_version)
            self._write_parquet(delta.hint("rebalance"), ddir)
            # single-execution empty gate: the batch lineage ran exactly
            # once (the write above); emptiness comes from the written
            # footers (metadata-only). An empty delta is rolled back and
            # never manifested — same contract as the old pre-check,
            # without re-running the lineage for isEmpty.
            meta = self._commit_meta_entry(ddir, "delta", t0)
            if meta["rows"] is None:
                # an unreadable footer leaves emptiness unknown: never
                # commit a delta nobody can vouch for — fail stop
                shutil.rmtree(ddir, ignore_errors=True)
                raise RuntimeError(
                    f"{self.root}: delta {new_version} has an unreadable "
                    "parquet footer; rolled back, batch not committed"
                )
            if meta["rows"] == 0:
                shutil.rmtree(ddir, ignore_errors=True)
                return False
            commits[new_version] = "delta"
            self._write_pointer(
                new_version,
                batch_id,
                commits,
                commit_meta={str(new_version): meta},
            )
            base, pending = self._resolve(new_version)
            if (self.compact_every is not None and len(pending) >= self.compact_every) or (
                self.compact_bytes_ratio is not None
                and self._pending_bytes_reached(base, pending)
            ):
                self._compact_locked(spark)  # merge already holds the lock
            return True
        self._check_write_amplification(p, batch)
        existing = self.read(spark)
        merged = merge_upsert(
            existing,
            batch,
            self.keys,
            order_col=self.order_col,
            deleted_col=self.deleted_col,
            tiebreakers=self.tiebreakers,
        )
        self._write_parquet(
            self._cluster_sort(merged, bucketed=False), self._version_dir(new_version)
        )
        stats = self._collect_file_stats(self._version_dir(new_version))
        commits[new_version] = "base"
        self._write_pointer(
            new_version,
            batch_id,
            commits,
            file_stats={str(new_version): stats} if stats else None,
            commit_meta={
                str(new_version): self._commit_meta_entry(
                    self._version_dir(new_version), "upsert", t0
                )
            },
        )
        self._prune(new_version)
        return True

    def _write_parquet(
        self, df: DataFrame, path: str, partition_by: str | None = None
    ) -> None:
        """All sink parquet writes funnel here so table-level write
        options (key bloom filters) apply uniformly to every layout."""
        self._assert_lock_owned(f"data write {os.path.basename(path)}")
        w = df.write.mode("overwrite")
        if self.parquet_bloom_keys:
            for k in self.keys:
                w = w.option(f"parquet.bloom.filter.enabled#{k}", "true")
        if partition_by is not None:
            w = w.partitionBy(partition_by)
        w.parquet(path)

    def _cluster_sort(self, out: DataFrame, bucketed: bool = True) -> DataFrame:
        """Within-file ordering before a write: linear sort on
        cluster_cols, or their Morton interleave when cluster_zorder is set.
        ``bucketed=False`` is the plain-layout variant (COW bases, MOR
        compacted bases, restores) — same clustering, no bucket prefix.
        Z-order bounds come from one min/max agg over the frame being
        written (an extra pass over the commit's lineage — the
        sampling-free variant of Delta's range-id computation; acceptable
        because clustering already implies a rewrite of those rows)."""
        if not self.cluster_cols:
            return out
        prefix = [_BUCKET_COL] if bucketed else []
        if not self.cluster_zorder:
            if self.cluster_range_files and not bucketed:
                out = out.repartitionByRange(*self._range_args(self.cluster_cols))
            return out.sortWithinPartitions(*prefix, *self.cluster_cols)
        row = out.agg(
            *[
                f
                for c in self.cluster_cols
                for f in (
                    F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                    F.max(F.col(c).cast("double")).alias(f"_hi_{c}"),
                )
            ]
        ).first()
        bounds = [
            (c, row[f"_lo_{c}"] or 0.0, row[f"_hi_{c}"] or 0.0)
            for c in self.cluster_cols
        ]
        if self.cluster_range_files and not bucketed:
            out = out.repartitionByRange(*self._range_args([zorder_key(bounds)]))
        return out.sortWithinPartitions(*prefix, zorder_key(bounds))

    def _range_args(self, cols: Sequence) -> list:
        """repartitionByRange args: a pinned partition count when
        ``cluster_range_files`` is an int (AQE honors explicit counts),
        else just the columns (AQE sizes the partitions)."""
        exprs = [F.col(c) if isinstance(c, str) else c for c in cols]
        if isinstance(self.cluster_range_files, bool):
            return exprs
        return [int(self.cluster_range_files), *exprs]

    def _commit_bucketed_snapshot(
        self, state: DataFrame, p: dict, new_version: int, op: str = "snapshot"
    ) -> int:
        """Write ``state`` as a complete bucketed snapshot committed at
        ``new_version``: full bucket map collapsed to one holder version, so
        older version dirs become prunable. Shared by ``compact`` (file-count
        hygiene) and ``restore`` (roll-forward revert)."""
        t0 = time.monotonic()
        maps = self._bucket_maps(p)
        vdir = self._version_dir(new_version)
        out = state.withColumn(_BUCKET_COL, self._bucket_expr()).repartition(
            self.n_buckets, F.col(_BUCKET_COL)
        )
        out = self._cluster_sort(out)
        self._write_parquet(out, vdir, partition_by=_BUCKET_COL)
        present = {
            int(n.split("=", 1)[1])
            for n in os.listdir(vdir)
            if n.startswith(f"{_BUCKET_COL}=")
        }
        maps[new_version] = {b: new_version for b in present}
        protected = set(self._savepoints(p).values()) & set(maps)
        retained = sorted(set(sorted(maps)[-self.keep_versions :]) | protected)
        maps = {v: maps[v] for v in retained}
        commits = {v: "bucketed" for v in maps}
        self._write_bucketed_pointer(
            new_version,
            p.get("last_batch_id"),
            commits,
            maps,
            commit_meta={
                str(new_version): self._commit_meta_entry(vdir, op, t0)
            },
        )
        self._prune_bucketed(new_version, maps)
        return new_version

    def table_info(self) -> dict:
        """Operational snapshot (Hudi CLI ``commits show`` parity): every
        committed version with its kind, parquet file count, and bytes on
        disk, plus the current version, replay high-water mark, and
        savepoints. Metadata-only — walks the table directory, no Spark
        job; cost is O(files in retained commits)."""
        p = self._read_pointer()
        if p is None:
            return {"exists": False}
        detail = {}
        for v, kind in sorted(self._commits_map(p).items()):
            d = self._delta_dir(v) if kind == "delta" else self._version_dir(v)
            files = n_bytes = 0
            for root, _dirs, names in os.walk(d):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        n_bytes += os.path.getsize(os.path.join(root, n))
            detail[v] = {"kind": kind, "files": files, "bytes": n_bytes}
        return {
            "exists": True,
            "mode": self.mode,
            "version": p["version"],
            "last_batch_id": p.get("last_batch_id"),
            "savepoints": self._savepoints(p),
            "commits": detail,
        }

    def savepoints(self) -> dict[str, int]:
        """Named savepoints: {name: pinned version}."""
        return self._savepoints(self._read_pointer())

    def savepoint(self, spark: SparkSession, name: str) -> int:
        with self._table_lock():
            return self._savepoint_locked(spark, name)

    def _savepoint_locked(self, spark: SparkSession, name: str) -> int:
        """Pin the CURRENT state under ``name`` so retention never prunes it
        (Hudi savepoint parity — the cleaner skips savepointed commits, and
        ``restore(name=...)`` rolls the table forward back to it).

        MOR tables compact first so the savepoint pins a self-contained
        BASE snapshot — otherwise honoring it would require retaining an
        unbounded delta chain past every future compaction. Returns the
        pinned version."""
        p = self._read_pointer()
        if p is None:
            raise FileNotFoundError("cannot savepoint: table has no commits")
        sps = self._savepoints(p)
        if name in sps:
            raise ValueError(f"savepoint {name!r} already exists (at v{sps[name]})")
        if self.mode == MODE_MOR:
            self._compact_locked(spark)  # materialize pending deltas, if any
            p = self._read_pointer()
        version = p["version"]
        sps[name] = version
        if self.mode == MODE_COW_BUCKETED:
            self._write_bucketed_pointer(
                version, p.get("last_batch_id"), self._commits_map(p),
                self._bucket_maps(p), savepoints=sps,
            )
        else:
            self._write_pointer(
                version, p.get("last_batch_id"), self._commits_map(p), savepoints=sps
            )
        return version

    def drop_savepoint(self, name: str) -> None:
        with self._table_lock():
            self._drop_savepoint_locked(name)

    def _drop_savepoint_locked(self, name: str) -> None:
        """Release a savepoint; its version becomes prunable on the next
        commit's retention pass."""
        p = self._read_pointer()
        sps = self._savepoints(p)
        if name not in sps:
            raise KeyError(f"no savepoint {name!r}")
        del sps[name]
        if self.mode == MODE_COW_BUCKETED:
            self._write_bucketed_pointer(
                p["version"], p.get("last_batch_id"), self._commits_map(p),
                self._bucket_maps(p), savepoints=sps,
            )
        else:
            self._write_pointer(
                p["version"], p.get("last_batch_id"), self._commits_map(p),
                savepoints=sps,
            )

    def restore(self, spark: SparkSession, version: int | None = None, name: str | None = None) -> int:
        with self._table_lock():
            return self._restore_locked(spark, version, name)

    def _restore_locked(
        self, spark: SparkSession, version: int | None = None, name: str | None = None
    ) -> int:
        """Roll-forward restore (Delta ``RESTORE TABLE`` / Hudi
        savepoint-rollback parity, emulating what the reference would
        delegate to Hudi's rollback CLI): commit a NEW version whose state
        equals the ``version`` snapshot. History is never destroyed — the
        restore is itself a commit, and intermediate versions stay
        time-travel-readable until retention prunes them.

        Streaming replay protection (``last_batch_id``) is intentionally
        preserved: a restore reverts STATE, it does not re-open the offset
        window, so a replayed micro-batch cannot double-apply on top of the
        restored snapshot. In MOR mode the restored commit is written as a
        BASE (compaction semantics — tombstones at or below ``version`` are
        materialized away, the same retention horizon ``compact`` sets).

        Target either an explicit ``version`` or a named savepoint via
        ``name`` (exactly one of the two)."""
        p = self._read_pointer()
        if p is None:
            raise FileNotFoundError("cannot restore: table has no commits")
        if (version is None) == (name is None):
            raise ValueError("pass exactly one of version= or name=")
        if name is not None:
            sps = self._savepoints(p)
            if name not in sps:
                raise KeyError(f"no savepoint {name!r}")
            version = sps[name]
        t0 = time.monotonic()
        state = self.read(spark, version=version)  # raises if not retained
        new_version = self._next_version(p)
        if self.mode == MODE_COW_BUCKETED:
            return self._commit_bucketed_snapshot(state, p, new_version, op="restore")
        self._write_parquet(
            self._cluster_sort(state, bucketed=False), self._version_dir(new_version)
        )
        stats = self._collect_file_stats(self._version_dir(new_version))
        commits = self._commits_map(p)
        commits[new_version] = "base"
        self._write_pointer(
            new_version,
            p.get("last_batch_id"),
            commits,
            file_stats={str(new_version): stats} if stats else None,
            commit_meta={
                str(new_version): self._commit_meta_entry(
                    self._version_dir(new_version), "restore", t0
                )
            },
        )
        self._prune(new_version)
        return new_version

    def _pending_bytes_reached(self, base: int | None, pending: list[int]) -> bool:
        """Size trigger: pending delta bytes >= ratio * base bytes. With no
        base yet, any pending bytes trigger (the first fold is what creates
        the read-optimized view)."""
        delta_bytes = sum(_dir_bytes(self._delta_dir(d)) for d in pending)
        if delta_bytes == 0:
            return False
        if base is None:
            return True
        return delta_bytes >= self.compact_bytes_ratio * max(
            1, _dir_bytes(self._version_dir(base))
        )

    def compact(self, spark: SparkSession) -> int | None:
        """Table-service entry point — takes the table lock then folds;
        see :meth:`_compact_locked`."""
        with self._table_lock():
            return self._compact_locked(spark)

    def _compact_locked(self, spark: SparkSession) -> int | None:
        """MOR: fold all pending deltas into a new base snapshot.
        Bucketed COW: rewrite every bucket into one fresh version (file-count
        hygiene after many partial commits — collapses the bucket map so old
        version dirs can be pruned). Returns the new version, or None when
        there was nothing to compact. Tombstones are dropped in the compacted base —
        the retention point past which a delete can no longer suppress an
        older late-arriving insert (same horizon Hudi's cleaner gives).
        Deltas at-or-below the new base and bases beyond ``keep_versions``
        are pruned; the compacted snapshot commits as a new version so
        readers never see a half-built base."""
        p = self._read_pointer()
        if p is None:
            return None
        if self.mode == MODE_COW_BUCKETED:
            maps = self._bucket_maps(p)
            bmap = maps.get(p["version"], {})
            if not bmap or set(bmap.values()) == {p["version"]}:
                return None  # empty, or already a single-version snapshot
            state = self._read_bucketed(spark, p, p["version"])
            return self._commit_bucketed_snapshot(state, p, self._next_version(p))
        base, deltas = self._resolve(p["version"], p)
        if not deltas:
            return None
        t0 = time.monotonic()
        merged = self._fold(spark, base, deltas)
        new_version = self._next_version(p)
        # MOR compacted bases get the same clustering as COW bases: this is
        # the write the read-optimized (_ro) path scans, so row-group
        # min/max selectivity matters most here. Unclustered bases are
        # REBALANCED instead (guide §6): advisory-sized output files, not
        # one tiny file per shuffle partition.
        if not self.cluster_cols:
            merged = merged.hint("rebalance")
        self._write_parquet(
            self._cluster_sort(merged, bucketed=False), self._version_dir(new_version)
        )
        stats = self._collect_file_stats(self._version_dir(new_version))
        commits = self._commits_map(p)
        for d in deltas:
            commits.pop(d, None)
        commits[new_version] = "base"
        # pointer first (atomic commit), then remove the folded delta dirs —
        # a crash in between leaves unmanifested dirs for _prune to sweep
        self._write_pointer(
            new_version,
            p.get("last_batch_id"),
            commits,
            file_stats={str(new_version): stats} if stats else None,
            commit_meta={
                str(new_version): self._commit_meta_entry(
                    self._version_dir(new_version), "compact", t0
                )
            },
        )
        for d in deltas:
            shutil.rmtree(self._delta_dir(d), ignore_errors=True)
        self._prune(new_version)
        return new_version

    def _prune(self, current: int) -> None:
        """Retention: drop old bases past ``keep_versions``, sweep orphan
        directories from crashed writes, and record both in the manifest.
        Safe against in-flight writers: any live write is allocated ABOVE
        the committed pointer (``_next_version``), and only dirs at-or-below
        it are swept."""
        p = self._read_pointer()
        if p is None:
            return
        commits = self._commits_map(p)
        bases = sorted(v for v, k in commits.items() if k == "base")
        protected = set(self._savepoints(p).values())
        dropped = False
        for b in bases[: -self.keep_versions]:
            if b < current and b not in protected:
                shutil.rmtree(self._version_dir(b), ignore_errors=True)
                commits.pop(b, None)
                dropped = True
        disk_bases, disk_deltas = self._commit_dirs()
        for v in disk_bases:
            if v <= p["version"] and commits.get(v) != "base":
                shutil.rmtree(self._version_dir(v), ignore_errors=True)
        for v in disk_deltas:
            if v <= p["version"] and commits.get(v) != "delta":
                shutil.rmtree(self._delta_dir(v), ignore_errors=True)
        if dropped:
            self._write_pointer(p["version"], p.get("last_batch_id"), commits)
