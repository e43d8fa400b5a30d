"""Write-side operators surfaced as driver-checkable read-back queries.

O14 (schema drop-sync / ensure / safe), O16 (load metrics), O17
(pipeline reset/reuse) are write-path behaviors — invisible to a pure
query gate. Each query here performs the real write into a throwaway
temp directory, reads the result back, and returns a DataFrame whose
values are derivable from the source tables alone, so DuckDB can
oracle-check the behavior end-to-end (VERDICT.md round 1, missing #2).

The temp dirs are unique per invocation: safe under any session,
re-runnable, no cross-run state.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import EtlPipeline
from .queries import register
from .session import load_table
from .sources.sinks import ParquetSink


def _tmp_sink(spark: SparkSession, name: str) -> ParquetSink:
    return ParquetSink(spark, tempfile.mkdtemp(prefix=f"easy_etl_{name}_") + "/t")


@register(
    "load_drop_sync",
    """
    SELECT 2 * count(*) AS n_rows,
           count(*) AS n_null_nation,
           'c_custkey,c_name,c_nationkey,id' AS cols
    FROM customer
    """,
)
def load_drop_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O14: second append lacks c_acctbal (drop-synced away, safe=False
    default, easy_etl/__init__.py:113-117) and adds c_nationkey
    (ensure: new columns created, README.md:182-187). Read-back proves
    the target schema converged and old rows null-fill the new column.
    """
    c = load_table(spark, sf_dir, "customer")
    sink = _tmp_sink(spark, "dropsync")
    sink.append(c.select("c_custkey", "c_name", "c_acctbal"))
    sink.append(c.select("c_custkey", "c_name", "c_nationkey"))
    out = sink.read()
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("c_nationkey").isNull(), 1)).alias("n_null_nation"),
        F.lit(",".join(sorted(out.columns))).alias("cols"),
    )


@register(
    "load_metrics",
    """
    SELECT count(*) AS rows_loaded, count(*) AS rows_on_disk
    FROM orders WHERE o_totalprice > 400000
    """,
)
def load_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16: load metrics (rows_loaded is the count of the batch the
    load pinned — pipeline.py load()), rows_on_disk from reading the
    sink back; the oracle pins both to the source count."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    sink = _tmp_sink(spark, "metrics")
    p = EtlPipeline(spark)
    p.extract_df(o)
    p.load(sink)
    rows_loaded = int(p.last_load_metrics["rows_loaded"])
    rows_on_disk = sink.read().count()
    return spark.createDataFrame(
        [(rows_loaded, rows_on_disk)], "rows_loaded bigint, rows_on_disk bigint"
    )


@register(
    "source_formats_roundtrip",
    """
    SELECT 'csv' AS fmt, count(*) AS n_rows,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           count(DISTINCT n_name) AS n_names
    FROM nation
    UNION ALL
    SELECT 'json', count(*), CAST(sum(n_nationkey) AS BIGINT), count(DISTINCT n_name)
    FROM nation
    UNION ALL
    SELECT 'orc', count(*), CAST(sum(n_nationkey) AS BIGINT), count(DISTINCT n_name)
    FROM nation
    """,
)
def source_formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format breadth: nation is written to csv/json/orc and
    read back through readers.file_scan (format dispatch + csv header/
    inferSchema defaults). The per-format checksums must match the
    parquet source — proving each format path round-trips values, not
    just schemas. Beyond the reference (live-DB only); these are the
    file formats a lake deployment actually ingests."""
    from .sources.readers import file_scan

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    out = None
    base = tempfile.mkdtemp(prefix="easy_etl_formats_")
    for fmt in ("csv", "json", "orc"):
        path = f"{base}/{fmt}"
        writer = n.write.mode("overwrite").format(fmt)
        if fmt == "csv":
            writer = writer.option("header", "true")
        writer.save(path)
        back = file_scan(spark, path, fmt)
        row = back.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_nationkey").cast("bigint").alias("key_sum"),
            F.countDistinct("n_name").alias("n_names"),
        ).select(F.lit(fmt).alias("fmt"), "n_rows", "key_sum", "n_names")
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "pipeline_reset_reuse",
    """
    SELECT (SELECT count(*) FROM customer) AS n_first,
           (SELECT count(*) FROM nation) AS n_second,
           (SELECT count(*) FROM customer) AS n_lowered,
           CAST(0 AS BIGINT) AS n_second_lowered
    """,
)
def pipeline_reset_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O17: one EtlPipeline object drives two loads (reference contract:
    the process object is reusable, easy_etl/__init__.py:64-70). The
    first load stages a lower() transform; the second must NOT inherit
    it — nation names stay uppercase (n_second_lowered = 0) only if
    load() reset the staged state."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    s1, s2 = _tmp_sink(spark, "reuse1"), _tmp_sink(spark, "reuse2")
    p = EtlPipeline(spark)
    p.extract_df(c.select("c_custkey", "c_name")).transform("c_name").lower()
    p.load(s1)
    p.extract_df(n.select("n_nationkey", "n_name"))
    p.load(s2)
    first, second = s1.read(), s2.read()
    return spark.createDataFrame(
        [
            (
                first.count(),
                second.count(),
                first.filter(F.col("c_name") == F.lower(F.col("c_name"))).count(),
                second.filter(F.col("n_name") == F.lower(F.col("n_name"))).count(),
            )
        ],
        "n_first bigint, n_second bigint, n_lowered bigint, n_second_lowered bigint",
    )
