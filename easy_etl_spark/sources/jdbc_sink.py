"""JDBC target-table sink — the reference's ACTUAL load surface.

exit99/easy-etl loads into a live RDBMS through the `dataset` library
(easy_etl/__init__.py:8-10,42: ``write_db[self.write_table_name]``),
with insert/upsert semantics, an auto-increment surrogate ``id``
(README.md:180), implicit table creation, ``ensure`` column addition
(CHANGELOG v0.3.2) and stale-column drop-sync (``_drop_old_columns``,
easy_etl/__init__.py:113-117). ``ParquetSink`` reproduces those
semantics on files; this sink reproduces them against a real JDBC
database, so an EtlPipeline can extract FROM and load INTO live
RDBMSes exactly like the reference deployment — pipeline.load() is
duck-typed over append/upsert, nothing else changes.

Write protocol: the merged state is computed as ONE Spark plan (the
same anti-join+union MERGE shape as ParquetSink — per-row dataset
upserts were the reference's N+1 bottleneck), bulk-written via the
Spark JDBC writer to a STAGING table, then swapped in with RENAME
TABLE statements on a single JDBC connection — a crash leaves the old
or the new table, never a half-written one. Engines without RENAME
TABLE fall back to an in-place overwrite (documented window, same
posture as the reference's own non-transactional load loop).

Scale notes: reads/writes go through Spark's JDBC partitioned IO —
bulk INSERTs, optional partitionColumn-parallel reads. The merge plan
itself is the scalable part; the RDBMS is the bottleneck by design
(that's what the lakehouse sinks are for).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sinks import dense_ids


class _NoRenameDialect(Exception):
    """Internal control-flow: the configured dialect has no rename DDL,
    take the staged-overwrite path without attempting one."""


class JdbcSink:
    """A JDBC table with ParquetSink's load semantics (append/upsert/
    ensure/drop-sync/surrogate ids). Table names should be simple
    unquoted identifiers (stored uppercase by most engines)."""

    #: rename-DDL template per JDBC subprotocol (the token after
    #: "jdbc:" in the URL). None => the engine has no usable rename and
    #: _swap_write goes straight to the staged-overwrite fallback.
    RENAME_SQL = {
        "mysql": "RENAME TABLE {frm} TO {to}",
        "mariadb": "RENAME TABLE {frm} TO {to}",
        "derby": "RENAME TABLE {frm} TO {to}",
        "postgresql": "ALTER TABLE {frm} RENAME TO {to}",
        "h2": "ALTER TABLE {frm} RENAME TO {to}",
        "hsqldb": "ALTER TABLE {frm} RENAME TO {to}",
        "sqlite": "ALTER TABLE {frm} RENAME TO {to}",
        "oracle": "ALTER TABLE {frm} RENAME TO {to}",
        "sqlserver": "EXEC sp_rename '{frm}', '{to}'",
    }

    def __init__(self, spark: SparkSession, url: str, table: str,
                 driver: str | None = None, id_col: str = "id",
                 dialect: str | None = None):
        self.spark = spark
        self.url = url
        self.table = table
        self.driver = driver
        self.id_col = id_col
        # dialect override is for engines whose URL prefix isn't in
        # RENAME_SQL (or to force the no-rename fallback: dialect="")
        if dialect is None:
            dialect = url.split(":")[1].lower() if url.count(":") >= 2 else ""
        self.dialect = dialect

    def _rename_sql(self, frm: str, to: str) -> str | None:
        tpl = self.RENAME_SQL.get(self.dialect)
        return tpl.format(frm=frm, to=to) if tpl else None

    # -- connection helpers ------------------------------------------
    def _options(self, rw, dbtable: str):
        rw = rw.format("jdbc").option("url", self.url).option("dbtable", dbtable)
        if self.driver:
            rw = rw.option("driver", self.driver)
        return rw

    def _connection(self):
        """Raw java.sql connection (via the JVM gateway) for the DDL
        swap statements the Spark writer API does not expose."""
        if self.driver:
            self.spark._jvm.java.lang.Class.forName(self.driver)
        return self.spark._jvm.java.sql.DriverManager.getConnection(self.url)

    def _execute(self, conn, sql: str) -> None:
        stmt = conn.createStatement()
        try:
            stmt.execute(sql)
        finally:
            stmt.close()

    def _table_exists(self, name: str | None = None) -> bool:
        """True iff the table exists, checked via JDBC catalog metadata
        (``DatabaseMetaData.getTables``) — NOT by catching a failed
        read. A transient connection/auth error must raise here rather
        than masquerade as 'table missing': append/upsert route a None
        read into the create-fresh-table branch, which would replace
        the real table with just the incoming batch once connectivity
        recovers."""
        name = name or self.table
        conn = self._connection()
        try:
            meta = conn.getMetaData()
            # unquoted identifiers are stored case-folded per engine
            for cand in dict.fromkeys((name.upper(), name, name.lower())):
                # getTables treats its arg as a SQL LIKE pattern ('_'
                # matches any char, '%' any run) and scans ALL schemas
                # — so a same-length sibling of T_METRICS would pattern
                # -match and fake an 'exists'. Require an EXACT
                # TABLE_NAME hit among the matches instead of trusting
                # the pattern.
                rs = meta.getTables(None, None, cand, None)
                try:
                    while rs.next():
                        if rs.getString("TABLE_NAME") == cand:
                            return True
                finally:
                    rs.close()
            return False
        finally:
            conn.close()

    def read(self) -> DataFrame | None:
        """Current table state, or None if the table does not exist.
        Existence is decided by catalog metadata (_table_exists); any
        other failure (connection blip, auth, timeout) PROPAGATES —
        it must never be mistaken for an empty target."""
        if not self._table_exists():
            return None
        df = self._options(self.spark.read, self.table).load()
        df.schema  # force resolution now, inside the exists-guard
        return df

    # -- write protocol ----------------------------------------------
    def _swap_write(self, merged: DataFrame) -> None:
        token = uuid.uuid4().hex[:8].upper()
        staging = f"{self.table}__STG{token}"
        self._options(merged.write, staging).mode("overwrite").save()
        old = f"{self.table}__OLD{token}"
        conn = self._connection()
        try:
            had_target = self._table_exists()
            try:
                if self._rename_sql("x", "y") is None:
                    # engine with no known rename DDL (or dialect="")
                    # — go straight to the staged-overwrite fallback
                    raise _NoRenameDialect()
                if had_target:
                    self._execute(conn, self._rename_sql(self.table, old))
                try:
                    self._execute(conn, self._rename_sql(staging, self.table))
                except Exception:
                    if had_target:  # roll the old table back in
                        self._execute(conn, self._rename_sql(old, self.table))
                    raise
            except Exception:
                # Engine without RENAME TABLE: documented fallback —
                # in-place overwrite FROM THE MATERIALIZED STAGING
                # TABLE. Never re-execute `merged` here: its plan
                # lazily reads self.table (survivors/current), and
                # Spark's JDBC overwrite drops the target before
                # running the plan, so the self-referential scan would
                # return zero rows and silently erase every
                # pre-existing row. Staging is a frozen copy of the
                # full merged state, so reading it back is both safe
                # and equivalent.
                frozen = self._options(self.spark.read, staging).load()
                self._options(frozen.write, self.table).mode("overwrite").save()
            # Post-swap scratch cleanup is best-effort and must NEVER
            # route into the overwrite fallback: after a successful
            # swap a failed DROP would otherwise re-write the already
            # swapped table (duplicating rows/ids). On the success path
            # `old` holds the pre-swap data and staging is gone (its
            # DROP no-ops); on the fallback path staging still exists
            # and `old` (if the rollback ran) is back under self.table.
            for scratch in ((old,) if had_target else ()) + (staging,):
                try:
                    self._execute(conn, f"DROP TABLE {scratch}")
                except Exception:
                    pass
        finally:
            conn.close()

    def _with_ids(self, df: DataFrame, offset: int) -> DataFrame:
        if self.id_col in df.columns:
            return df
        return dense_ids(df, self.id_col, offset)

    def append(self, df: DataFrame, ensure: bool | None = None,
               safe: bool = False) -> None:
        """Append-insert load (easy_etl/__init__.py:96): ensure adds
        new columns (default), ensure=False restricts to the target's
        columns, safe=False drop-syncs stale target columns
        (easy_etl/__init__.py:97-99,113-117)."""
        current = self.read()
        if current is None:
            self._swap_write(self._with_ids(df, 0))
            return
        offset = current.agg(F.max(self.id_col)).first()[0] or 0
        incoming = self._with_ids(df, offset)
        keep_current = current
        if not safe:
            stale = [
                c for c in current.columns
                if c not in incoming.columns and c != self.id_col
            ]
            if stale:
                keep_current = current.drop(*stale)
        if ensure is False:
            incoming = incoming.select(
                *[c for c in incoming.columns if c in keep_current.columns]
            )
        self._swap_write(
            keep_current.unionByName(incoming, allowMissingColumns=True)
        )

    def upsert(self, df: DataFrame, keys: list[str],
               ensure: bool | None = None, safe: bool = False) -> None:
        """Keyed merge (easy_etl/__init__.py:93-94): update matches
        (surrogate ids preserved), insert the rest (fresh ids past the
        current max) — the ParquetSink MERGE plan, bulk-written over
        JDBC instead of the reference's per-row dataset.upsert."""
        current = self.read()
        if current is None:
            self._swap_write(self._with_ids(df, 0))
            return
        offset = current.agg(F.max(self.id_col)).first()[0] or 0
        src = df.drop(self.id_col) if self.id_col in df.columns else df
        survivors = current.join(src.select(*keys), on=keys, how="left_anti")
        id_map = current.select(self.id_col, *keys).dropDuplicates(keys)
        matched = src.join(id_map, on=keys, how="inner")
        inserts = dense_ids(
            src.join(current.select(*keys), on=keys, how="left_anti"),
            self.id_col, offset,
        )
        if not safe:
            stale = [
                c for c in survivors.columns
                if c not in src.columns and c != self.id_col
            ]
            if stale:
                survivors = survivors.drop(*stale)
        merged = survivors.unionByName(matched, allowMissingColumns=True).unionByName(
            inserts, allowMissingColumns=True
        )
        if ensure is False:
            keep = set(current.columns)
            merged = merged.select(*[c for c in merged.columns if c in keep])
        self._swap_write(merged)
