"""EtlPipeline — the fluent facade with the reference's staged API.

API parity with exit99/easy-etl's ``ETLProcess`` (easy_etl/__init__.py:7-142):
``extract`` / ``extract_override`` / ``transform`` / ``link`` /
``link_closest`` / ``middleware`` / ``ignore`` / ``load``, with the same
lazy contract: staging calls register plan steps; ``load()`` (or
``dataframe()``) is the action. Execution order matches the reference's
``_update_row`` (easy_etl/__init__.py:101-106): middleware → types →
transforms → links → ignore; transforms cannot touch link outputs
(easy_etl/README.md:157) because links apply after transforms.

The staged state *is* an unresolved logical plan (SURVEY.md §3); here it
compiles to a DataFrame lineage and Catalyst plans the physical
execution — no interpreter, no driver materialization, no N+1 loops.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.transforms import TransformPipeline, apply_transform
from .operators.links import asof_link, link
from .session import pin_frame
from .sources import readers
from .sources.sinks import ParquetSink


class EtlPipeline:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        #: metrics of the most recent load (survives _reset, like the
        #: reference's progress display outliving the run)
        self.last_load_metrics: dict[str, float] = {}
        self._reset()

    def _reset(self) -> None:
        """Clear staged state after each load — the process object is
        reusable (easy_etl/__init__.py:64-70, README.md:43)."""
        self._extract: Callable[[], DataFrame] | None = None
        self._write_pk_field: str | None = None
        self._types: dict[str, Any] = {}
        self._staged_transforms: list[tuple[str, str, tuple, dict]] = []
        self._links: list[tuple[str, ...]] = []  # (kind, field, dim, child, name, method)
        self._link_dims: list[DataFrame] = []
        self._middleware: list[Callable[[DataFrame], DataFrame]] = []
        self._ignored: list[str] = []
        self._expectations: list[Callable[[DataFrame], Any]] = []

    # ---- staging --------------------------------------------------
    def extract(self, sql: str, write_pk_field: str | None = None, types: dict[str, Any] | None = None,
                target: "ParquetSink | None" = None) -> "EtlPipeline":
        """Raw-SQL extract (string or .sql file) against registered
        views; optional incremental watermark via ``write_pk_field``
        (easy_etl/__init__.py:17-25,77-87)."""
        if write_pk_field:
            tgt = target.read() if target is not None else None
            self._extract = lambda: readers.incremental_sql_extract(self.spark, sql, tgt, write_pk_field)
        else:
            self._extract = lambda: readers.sql_extract(self.spark, sql)
        self._write_pk_field = write_pk_field
        if types:
            self._types.update(types)
        return self

    def extract_jdbc(self, url: str, sql: str, **options: Any) -> "EtlPipeline":
        """Live-RDBMS extract (reference parity: its extracts run
        against a real MySQL connection, easy_etl/__init__.py:8-25 and
        tests/conftest.py:19-20). The query executes REMOTELY in the
        source database — predicates/aggregates inside ``sql`` never
        ship rows they exclude — and lands as a DataFrame source for
        the staged plan. ``options`` pass through to the Spark JDBC
        reader (driver, partitionColumn/lowerBound/upperBound/
        numPartitions for parallel reads at scale, fetchsize, ...)."""
        self._extract = lambda: readers.jdbc_extract(self.spark, url, sql, **options)
        return self

    def extract_override(self, f: Callable[[], Any]) -> "EtlPipeline":
        self._extract = lambda: readers.python_source(self.spark, f)
        return self

    def extract_df(self, df: DataFrame) -> "EtlPipeline":
        """DataFrame source — the native superset of extract_override."""
        self._extract = lambda: df
        return self

    def transform(self, *fields: str) -> TransformPipeline:
        return TransformPipeline(self, fields)

    def link(self, field: str, dim: DataFrame, child_field: str, name: str | None = None) -> "EtlPipeline":
        self._links.append(("equi", field, len(self._link_dims), child_field, name, None))
        self._link_dims.append(dim)
        return self

    def link_closest(self, field: str, dim: DataFrame, child_field: str, name: str | None = None,
                     method: str = ">=") -> "EtlPipeline":
        self._links.append(("asof", field, len(self._link_dims), child_field, name, method))
        self._link_dims.append(dim)
        return self

    def middleware(self, f: Callable[[DataFrame], DataFrame]) -> "EtlPipeline":
        """Whole-resultset map (easy_etl/__init__.py:58-59,72-75): a
        ``DataFrame → DataFrame`` function, applied in registration
        order before per-field processing. May change rows AND columns —
        arbitrary-Python middleware should use ``df.mapInPandas``
        inside ``f`` (Arrow-batched, the vectorized analog of the
        reference's list-of-dicts contract)."""
        self._middleware.append(f)
        return self

    def ignore(self, *fields: str) -> "EtlPipeline":
        self._ignored.extend(fields)
        return self

    def expect(self, check_factory: "Callable[[DataFrame], Any]") -> "EtlPipeline":
        """Stage a data-quality gate (operators/quality.py): the
        callable receives the compiled DataFrame at load time and
        returns a Check; any violations abort the load BEFORE the sink
        is touched (validate-then-write). Extension beyond the
        reference — its only validation is the hard KeyError on
        ignoring a missing field (easy_etl/__init__.py:108-111)."""
        self._expectations.append(check_factory)
        return self

    # ---- compile --------------------------------------------------
    def dataframe(self) -> DataFrame:
        """Compile staged state into one lazy DataFrame lineage."""
        if self._extract is None:
            raise ValueError("no extract staged")
        df = self._extract()
        for mw in self._middleware:
            df = mw(df)
        for field, t in self._types.items():
            # builtin casts stay JVM-side; arbitrary callables fall back
            # to a UDF, preserving 'a type is any callable'
            # (easy_etl/__init__.py:138-142, CHANGELOG v0.2.0).
            if t in (int, "int", "bigint", "long"):
                df = df.withColumn(field, F.col(field).cast("bigint"))
            elif t in (float, "float", "double"):
                df = df.withColumn(field, F.col(field).cast("double"))
            elif t in (str, "str", "string"):
                df = df.withColumn(field, F.col(field).cast("string"))
            elif t in (bool, "bool", "boolean"):
                df = df.withColumn(field, F.col(field).cast("boolean"))
            else:
                df = df.withColumn(field, F.udf(t)(F.col(field)))
        for field, method, args, kwargs in self._staged_transforms:
            df = apply_transform(df, field, method, args, kwargs)
        for kind, field, dim_idx, child, name, method in self._links:
            dim = self._link_dims[dim_idx]
            if kind == "equi":
                df = link(df, dim, field, child, name)
            else:
                df = asof_link(df, dim, field, child, name, method)
        if self._ignored:
            missing = [c for c in self._ignored if c not in df.columns]
            if missing:
                # reference fails hard on absent fields (KeyError,
                # easy_etl/__init__.py:108-111)
                raise KeyError(f"ignore: fields not present: {missing}")
            df = df.drop(*self._ignored)
        return df

    # ---- action ---------------------------------------------------
    def load(self, sink: ParquetSink, upsert_fields: list[str] | None = None,
             ensure: bool | None = None, safe: bool = False) -> None:
        """Single action: compile → pin → distributed write → reset
        (easy_etl/__init__.py:31-44).

        The compiled frame is evaluated ONCE: ``session.pin_frame``
        materializes it into executor storage and truncates its lineage
        before anything reads it. Expectations, the row count, the empty
        gate and the sink (its ``dense_ids`` count and its write) then
        all read the same stored batch, so the extract, middleware,
        Python UDFs and link joins run once per load, and a
        non-deterministic step (a sampling middleware, a JDBC source
        that changes between reads) cannot hand the id count and the
        write different rows.

        The pinned batch is also cached for the duration of the load.
        A pinned frame's planner statistics are the compiled plan's
        estimates, in which every link join multiplies its inputs'
        sizes; the cache gives the planner the batch's real size, so an
        upsert still broadcasts a small batch instead of shuffling the
        table. The cache is unpersisted when ``load`` returns or
        raises; the pinned blocks are reclaimed by Spark's
        ContextCleaner once the frame is garbage-collected after that
        (``session.reclaim_blocks()`` forces it promptly).

        Observability parity with the reference's tqdm rows/sec display
        (easy_etl/__init__.py:33-40): the count that fills the cache is
        the row count, so ``last_load_metrics`` (rows_loaded,
        wall_seconds, rows_per_sec) is exact for every sink, and taken
        before the write — a read-modify-write pipeline (JDBC extract
        from the table being loaded) never sees post-load state.
        Per-stage detail remains the Spark UI's job.
        """
        import time

        df = pin_frame(self.dataframe()).persist()
        try:
            rows = df.count()
            if self._expectations:
                from .operators.quality import run_checks

                report = run_checks([f(df) for f in self._expectations]).collect()
                failed = [r for r in report if not r.passed]
                if failed:
                    detail = ", ".join(f"{r.check_name}={r.n_violations}" for r in failed)
                    raise ValueError(f"load aborted: data-quality checks failed: {detail}")
            if rows == 0:
                # truthiness gate: empty resultsets skip the write entirely
                # (easy_etl/__init__.py:37)
                self.last_load_metrics = {
                    "rows_loaded": 0, "wall_seconds": 0.0, "rows_per_sec": 0.0,
                }
                self._reset()
                return
            t0 = time.monotonic()
            if upsert_fields:
                sink.upsert(df, upsert_fields, ensure=ensure, safe=safe)
            else:
                sink.append(df, ensure=ensure, safe=safe)
            wall = time.monotonic() - t0
        finally:
            df.unpersist()
        self.last_load_metrics = {
            "rows_loaded": rows,
            "wall_seconds": round(wall, 3),
            "rows_per_sec": round(rows / wall, 1) if wall > 0 else 0.0,
        }
        self._reset()
