"""Load surface: append sink, keyed upsert (merge), schema evolution
(`ensure`) and drop-sync of stale columns, surrogate-key generation.

Reference parity (exit99/easy-etl):
  - append insert per row + implicit table/column creation
    (easy_etl/__init__.py:89-99, README.md:182-187)
  - keyed upsert (easy_etl/__init__.py:93-94, README.md:189-197)
  - drop-sync: after a load, target columns not produced by the
    pipeline are dropped, keeping ``id`` (easy_etl/__init__.py:113-117;
    opt-out ``safe=True``)
  - auto-increment surrogate ``id`` (easy_etl/README.md:180)

Spark-first design: the per-row INSERT/UPSERT loop becomes one
distributed columnar write, and every write lands through a staging
dir that is atomically swapped in.

Cost of each write:
  - append whose columns and types (with ``id``) equal the table's:
    O(batch). Only the batch is written to staging; the existing data
    files and their checksum sidecars are hard-linked in (one link per
    file, no bytes copied) before the swap.
  - append that changes the schema (new or dropped columns, retyped
    columns): one full union rewrite.
  - upsert: one full rewrite, ``target.join(src, keys, "left_anti")
    .unionByName(src)``, the same logical plan a Delta MERGE compiles
    to (minus the transaction log). The anti-join shuffles on the
    upsert keys; that is the unavoidable shuffle of any merge.
On a real deployment this class is swapped for Delta/Iceberg; the
interface is format-agnostic on purpose.

Surrogate ids use a partition-offset scheme (``dense_ids``): one
numPartitions-row count, then a per-row projection — no shuffle and no
global single-partition window.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: ``monotonically_increasing_id()`` packs the partition id into the
#: upper 31 bits and the row's index within its partition into the
#: lower 33.
_ROW_INDEX_MASK = (1 << 33) - 1


def dense_ids(df: DataFrame, id_col: str = "id", offset: int = 0) -> DataFrame:
    """Dense sequential ids ``offset + 1 .. offset + N`` with no shuffle
    (zipWithIndex in DataFrame terms).

    One numPartitions-row job counts the rows of each partition; the
    driver prefix-sums the counts into partition starts; then
    ``id = start + (monotonically_increasing_id & (2^33 - 1)) + 1`` is a
    plain projection. The naive ``row_number() OVER (ORDER BY ...)``
    funnels every row through one task, and a window partitioned by
    partition id still costs an Exchange and a Sort.

    Requires a deterministic input: the frame is evaluated twice (the
    count, then the consumer) and both must see the same partitions.
    Parquet-backed lineage and pinned frames (``session.pin_frame``,
    which ``EtlPipeline.load`` applies) qualify.
    """
    counts = (
        df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not counts:  # empty frame: id column still has to exist
        return df.select(F.lit(None).cast("long").alias(id_col), "*")
    starts: list = []
    acc = offset
    for r in sorted(counts, key=lambda r: r["p"]):
        starts += [F.lit(r["p"]), F.lit(acc)]
        acc += r["n"]
    start = F.create_map(*starts)[F.spark_partition_id()]
    row = F.monotonically_increasing_id().bitwiseAND(F.lit(_ROW_INDEX_MASK))
    return df.select((start + row + 1).alias(id_col), "*")


class ParquetSink:
    """A target 'table' backed by a parquet directory.

    ``partition_by`` writes hive-style partition directories
    (col=value/...), the load-bearing layout at 100 TB: queries
    filtering on the partition columns prune whole directories at
    planning time (PartitionFilters in the scan), and incremental
    loads touch only the partitions they land in.

    ``cluster_by`` range-partitions and sorts rows within each output
    file on the given columns before writing — parquet row-group
    min/max statistics then become selective, so point/range
    predicates on those columns skip whole row groups at read time
    (the file-level complement to directory-level partition pruning).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "id",
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        keep_versions: int = 0,
    ):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.partition_by = list(partition_by or [])
        self.cluster_by = list(cluster_by or [])
        #: retain up to N previous table states as ``.__v{k}`` snapshot
        #: dirs (poor-man's time travel; Delta/Iceberg replace this with
        #: a real transaction log on a lakehouse deployment)
        self.keep_versions = keep_versions

    # -- inspection -------------------------------------------------
    def exists(self) -> bool:
        return os.path.exists(self.path) and bool(os.listdir(self.path))

    def _version_path(self, v: int) -> str:
        return f"{self.path}.__v{v}"

    def versions(self) -> list[int]:
        """Retained snapshot numbers, oldest first (1 = first state the
        table ever replaced). The current table is not listed."""
        base = os.path.basename(self.path) + ".__v"
        d = os.path.dirname(self.path) or "."
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.startswith(base):
                try:
                    out.append(int(name[len(base):]))
                except ValueError:
                    continue
        return sorted(out)

    def read(self, version: int | None = None) -> DataFrame | None:
        """Current table, or a retained snapshot (``versions()``) when
        ``version`` is given — time-travel reads for audits/backfills.
        """
        if version is not None:
            p = self._version_path(version)
            if not os.path.exists(p):
                raise ValueError(
                    f"version {version} not retained (have {self.versions()})"
                )
            return self.spark.read.parquet(p)
        if not self.exists():
            return None
        return self.spark.read.parquet(self.path)

    def columns(self) -> list[str]:
        cur = self.read()
        return cur.columns if cur is not None else []

    # -- surrogate keys ---------------------------------------------
    def _with_ids(self, df: DataFrame, offset: int) -> DataFrame:
        """Dense ids continuing from ``offset`` (reference parity:
        auto-increment ``id``, README.md:180)."""
        if self.id_col in df.columns:
            return df
        return dense_ids(df, self.id_col, offset)

    # -- writes -----------------------------------------------------
    def _swap_write(self, df: DataFrame, keep_existing: bool = False) -> None:
        """Write to a staging dir then swap it in — needed because the
        plan may read the same path it replaces. The old table is moved
        aside (rename, atomic) before staging moves in, so a crash at
        any point leaves either the old or the new table on disk, never
        neither; the leftover ``.__old`` dir is garbage-collectable.

        ``keep_existing=True`` makes ``df`` an addition: the current
        table's files are hard-linked into staging after the write, so
        the swapped-in table holds both. Data files are immutable once
        written (every later write replaces directories, never files),
        so sharing inodes with the moved-aside table or a retained
        snapshot is safe."""
        staging = f"{self.path}.__staging_{uuid.uuid4().hex[:8]}"
        if self.cluster_by:
            cols = [F.col(c) for c in self.cluster_by]
            df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        try:
            writer.parquet(staging)
            if keep_existing:
                self._link_files_into(staging)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        if self.keep_versions > 0:
            vs = self.versions()
            old = self._version_path((vs[-1] if vs else 0) + 1)
        else:
            old = f"{self.path}.__old_{uuid.uuid4().hex[:8]}"
        had_target = os.path.exists(self.path)
        if had_target:
            os.replace(self.path, old)
        try:
            os.replace(staging, self.path)
        except BaseException:
            if had_target:
                os.replace(old, self.path)  # roll the old table back in
            raise
        if had_target:
            if self.keep_versions > 0:
                # prune snapshots beyond the retention window
                for v in self.versions()[: -self.keep_versions] or []:
                    shutil.rmtree(self._version_path(v))
            else:
                shutil.rmtree(old)

    def _link_files_into(self, staging: str) -> None:
        """Hard-link every data file of the current table, and its
        ``.<name>.crc`` checksum sidecar, into the same relative path
        under ``staging`` (partition directories included)."""
        for root, _dirs, files in os.walk(self.path):
            rel = os.path.relpath(root, self.path)
            for f in files:
                if not (f.endswith(".parquet") or f.endswith(".parquet.crc")):
                    continue
                dst_dir = os.path.join(staging, rel)
                os.makedirs(dst_dir, exist_ok=True)
                os.link(os.path.join(root, f), os.path.join(dst_dir, f))

    def append(self, df: DataFrame, ensure: bool | None = None, safe: bool = False) -> None:
        """Append-insert load (easy_etl/__init__.py:96).

        ensure=True/None → new columns are added to the target (schema
        union, like dataset's ensure). ensure=False → incoming frame is
        restricted to existing target columns. safe=False → drop-sync
        stale target columns (easy_etl/__init__.py:97-99,113-117).

        When the incoming columns and types (with ``id``) equal the
        table's, ``ensure`` and drop-sync have nothing to change, and
        the append writes only the batch: O(batch) plus one hard link
        per existing file (see ``_swap_write``). Any other schema is a
        full union rewrite.
        """
        current = self.read()
        if current is None:
            self._swap_write(self._with_ids(df, 0))
            return
        offset_row = current.agg(F.max(self.id_col).alias("m")).first()
        offset = offset_row["m"] or 0
        incoming = self._with_ids(df, offset)
        if dict(incoming.dtypes) == dict(current.dtypes):  # names AND types
            self._swap_write(incoming.select(*current.columns), keep_existing=True)
            return

        keep_current = current
        if not safe:
            # drop-sync: converge target schema to pipeline output (+id)
            stale = [c for c in current.columns if c not in incoming.columns and c != self.id_col]
            if stale:
                keep_current = current.drop(*stale)
        if ensure is False:
            incoming = incoming.select(*[c for c in incoming.columns if c in keep_current.columns])
        merged = keep_current.unionByName(incoming, allowMissingColumns=True)
        self._swap_write(merged)

    def upsert(self, df: DataFrame, keys: list[str], ensure: bool | None = None, safe: bool = False) -> None:
        """Keyed merge: update matching rows, insert the rest
        (easy_etl/__init__.py:93-94). Matched rows keep their existing
        surrogate id; inserts get fresh ids past the current max.

        Logical plan = Delta MERGE without the txn log:
        survivors = target ⟕anti src; updated = src ⨝ target-ids;
        result = survivors ∪ updated ∪ inserts.
        """
        current = self.read()
        if current is None:
            self._swap_write(self._with_ids(df, 0))
            return
        offset = current.agg(F.max(self.id_col).alias("m")).first()["m"] or 0

        if self.id_col in keys:
            # the surrogate IS the natural key (keyed-on-id upsert):
            # incoming ids are authoritative — no regeneration/mapping
            src = df
            survivors = current.join(src.select(*keys), on=keys, how="left_anti")
            matched = src.join(current.select(*keys), on=keys, how="left_semi")
            inserts = src.join(current.select(*keys), on=keys, how="left_anti")
        else:
            src = df.drop(self.id_col) if self.id_col in df.columns else df
            survivors = current.join(src.select(*keys), on=keys, how="left_anti")
            # carry existing ids onto updated rows (first match per key)
            id_map = current.select(self.id_col, *keys).dropDuplicates(keys)
            matched = src.join(id_map, on=keys, how="inner")
            inserts = dense_ids(
                src.join(current.select(*keys), on=keys, how="left_anti"),
                self.id_col,
                offset,
            )

        if not safe:
            stale = [c for c in survivors.columns if c not in src.columns and c != self.id_col]
            if stale:
                survivors = survivors.drop(*stale)
        merged = survivors.unionByName(matched, allowMissingColumns=True).unionByName(
            inserts, allowMissingColumns=True
        )
        if ensure is False:
            keep = set(current.columns)
            merged = merged.select(*[c for c in merged.columns if c in keep])
        self._swap_write(merged)

    # -- maintenance ------------------------------------------------
    def data_files(self) -> list[str]:
        """Parquet data files currently backing the table."""
        out = []
        for root, _dirs, files in os.walk(self.path):
            out.extend(
                os.path.join(root, f) for f in files if f.endswith(".parquet")
            )
        return sorted(out)

    @staticmethod
    def _local_dir(uri: str) -> str:
        """input_file_name() URI → local directory path. Spark returns
        ``file:...``-scheme, percent-encoded URIs; decoding them (rather
        than re-deriving ``col=value`` strings by hand) is what makes
        partition values containing Spark-escaped characters (':', ' ',
        '/', '%') and ``__HIVE_DEFAULT_PARTITION__`` NULLs resolve to
        directories that actually exist on disk."""
        from urllib.parse import unquote, urlparse

        parsed = urlparse(uri)
        path = unquote(parsed.path) if parsed.scheme == "file" else uri
        return os.path.dirname(path)

    def _partition_pred(self, row):
        """Null-safe equality predicate for one partition tuple (NULL
        partition values — stored as __HIVE_DEFAULT_PARTITION__ dirs and
        read back as NULL — match via IS NULL, never ``= NULL``)."""
        pred = None
        for c in self.partition_by:
            p = F.col(c).isNull() if row[c] is None else F.col(c) == F.lit(row[c])
            pred = p if pred is None else (pred & p)
        return pred

    def _purge_versions(self, hit) -> None:
        """Apply a delete predicate to every retained ``.__v{k}``
        snapshot so a purge actually removes the data from time travel
        too (a GDPR delete that survives in ``read(version=...)`` is no
        delete at all). Each touched snapshot is rewritten to a staging
        dir and atomically swapped; snapshots with no matching rows are
        left byte-identical. O(snapshot) per touched snapshot — history
        rewrites are the unavoidable cost of purging history."""
        for v in self.versions():
            p = self._version_path(v)
            snap = self.spark.read.parquet(p)
            if snap.filter(hit).isEmpty():
                continue
            keep = snap.filter(~hit)
            staging = f"{p}.__vstage_{uuid.uuid4().hex[:8]}"
            writer = keep.write.mode("overwrite")
            # fully-purged snapshots are rewritten EMPTY, not deleted:
            # versions() and read(version=v) keep working and return the
            # emptied state — symmetric with partially-purged snapshots.
            # The empty write goes out unpartitioned (partition columns
            # stay as data columns in the schema): a partitioned write of
            # zero rows would leave no readable schema on disk.
            if self.partition_by and not keep.isEmpty():
                writer = writer.partitionBy(*self.partition_by)
            writer.parquet(staging)
            old = f"{p}.__vold_{uuid.uuid4().hex[:8]}"
            os.replace(p, old)
            try:
                os.replace(staging, p)
            except BaseException:
                os.replace(old, p)
                raise
            shutil.rmtree(old)

    def delete_where(self, condition, purge_versions: bool = True) -> int:
        """Targeted delete (GDPR/right-to-be-forgotten purge, bad-batch
        rollback): remove every row matching ``condition`` (a Column or
        SQL string; NULL predicates keep the row). Returns rows deleted.

        On a hive-partitioned table only the partitions that actually
        contain matches are rewritten — the 100 TB difference between
        O(matching partitions) and O(table). The touched directories are
        derived from ``input_file_name()`` on the matching rows (not
        re-rendered from values), so Spark's partition-path escaping and
        NULL partitions resolve correctly. Each touched partition is
        rewritten to a staging dir and atomically swapped (same crash
        posture as _swap_write); partitions whose rows are all purged
        are removed outright. Unpartitioned tables fall back to one
        full rewrite.

        ``purge_versions=True`` (default) additionally rewrites every
        retained ``.__v{k}`` snapshot without the matching rows — on
        BOTH paths — so the purge holds across ``read(version=...)``
        time travel; pass False only for bad-batch rollbacks where
        history should stay intact. The condition must reference only
        columns present in the snapshots. On a lakehouse deployment
        this maps to DELETE FROM + VACUUM with Delta/Iceberg file-level
        skipping.
        """
        current = self.read()
        if current is None:
            return 0
        cond = F.expr(condition) if isinstance(condition, str) else condition
        hit = F.coalesce(cond, F.lit(False))
        n_deleted = current.filter(hit).count()
        if n_deleted == 0:
            if purge_versions:
                self._purge_versions(hit)  # history may still hold matches
            return 0
        if not self.partition_by:
            self._swap_write(current.filter(~hit))
            if purge_versions:
                self._purge_versions(hit)
            return n_deleted
        touched = (
            current.filter(hit)
            .select(
                F.input_file_name().alias("__f"),
                *self.partition_by,
            )
            .distinct()
            .collect()
        )
        payload_cols = [c for c in current.columns if c not in self.partition_by]
        for pdir in sorted({self._local_dir(r["__f"]) for r in touched}):
            rows = [r for r in touched if self._local_dir(r["__f"]) == pdir]
            part_pred = self._partition_pred(rows[0])
            # fresh read per partition: earlier swaps invalidated the
            # original file listing; partition pruning keeps this a
            # metadata-only re-list plus a one-directory scan
            keep = self.read().filter(part_pred).filter(~hit).select(*payload_cols)
            if keep.isEmpty():
                shutil.rmtree(pdir, ignore_errors=True)
                continue
            staging = f"{self.path}.__pstage_{uuid.uuid4().hex[:8]}"
            keep.write.mode("overwrite").parquet(staging)
            old = f"{self.path}.__pold_{uuid.uuid4().hex[:8]}"
            os.replace(pdir, old)
            try:
                os.replace(staging, pdir)
            except BaseException:
                os.replace(old, pdir)
                raise
            shutil.rmtree(old)
        if purge_versions:
            self._purge_versions(hit)
        return n_deleted

    def compact(self, target_rows_per_file: int = 1_000_000) -> int:
        """Small-file compaction: rewrite the table so each output file
        holds ~target_rows_per_file rows. THE standing maintenance job
        of any streaming/incremental ingest at scale — thousands of
        per-batch files destroy scan planning and open-file overhead;
        compaction restores large sequential reads. Values and schema
        are untouched (rewrite via the same atomic swap as every
        load); clustered tables re-sort through the normal
        ``cluster_by`` path. Returns the new file count.

        One count job sizes the output; the rewrite itself is one
        shuffle-free coalesce when shrinking (or round-robin
        repartition when growing parallelism is needed).
        """
        current = self.read()
        if current is None:
            return 0
        n = current.count()
        n_files = max(1, -(-n // target_rows_per_file))  # ceil
        if n_files > current.rdd.getNumPartitions():
            # coalesce can only merge — growing the file count (fewer,
            # fatter input partitions than targets) needs a round-robin
            # repartition to actually split
            df = current.repartition(n_files)
        else:
            df = current.coalesce(n_files)
        self._swap_write(df)
        return len(self.data_files())
