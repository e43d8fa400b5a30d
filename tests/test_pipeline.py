"""Per-operator tests mirroring the reference suite
(easy_etl/tests/test_etl_process.py — 13 tests, one per operator),
re-targeted at the Spark engine over the driver's parquet star schema.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from easy_etl_spark import EtlPipeline, ParquetSink
from easy_etl_spark.functions.transforms import falsy_default
from easy_etl_spark.sources.readers import resolve_sql


def test_extract_sql_string(spark):
    # O1: raw SQL extract against the registered source views
    df = EtlPipeline(spark).extract("SELECT c_custkey, c_name FROM customer").dataframe()
    assert df.columns == ["c_custkey", "c_name"]
    assert df.count() == 150


def test_extract_sql_file(spark, tmp_path):
    # O1: *.sql file path resolved to its contents (suffix-detected)
    p = tmp_path / "q.sql"
    p.write_text("SELECT n_name FROM nation")
    assert resolve_sql(str(p)) == "SELECT n_name FROM nation"
    df = EtlPipeline(spark).extract(str(p)).dataframe()
    assert df.count() == 25


def test_extract_override(spark):
    # O3: python source, list-of-dicts
    rows = lambda: [{"name": "a", "age": 1}, {"name": "b", "age": 2}, {"name": "c", "age": 3}]
    df = EtlPipeline(spark).extract_override(rows).dataframe()
    assert df.count() == 3
    assert set(df.columns) == {"name", "age"}


def test_middleware_order(spark):
    # O5: middleware applied in registration order, may change rows+cols
    pipe = EtlPipeline(spark).extract("SELECT c_custkey FROM customer")
    pipe.middleware(lambda df: df.withColumn("x", F.lit(1)))
    pipe.middleware(lambda df: df.withColumn("x", F.col("x") + 1).filter(F.col("c_custkey") < 10))
    out = pipe.dataframe()
    assert out.count() == 10
    assert out.agg(F.max("x")).first()[0] == 2


def test_transform_chaining_order(spark):
    # O6: .upper().lower() ⇒ lower wins (reference chaining contract)
    pipe = EtlPipeline(spark).extract("SELECT c_name FROM customer")
    pipe.transform("c_name").upper().lower()
    vals = [r[0] for r in pipe.dataframe().limit(5).collect()]
    assert all(v == v.lower() for v in vals)


def test_transform_replace_and_strip(spark):
    pipe = EtlPipeline(spark).extract("SELECT '  Customer#1  ' AS c FROM nation LIMIT 1")
    pipe.transform("c").strip().replace("Customer#", "C")
    assert pipe.dataframe().first()["c"] == "C1"


def test_transform_func_udf(spark):
    # O8: arbitrary scalar python function
    pipe = EtlPipeline(spark).extract("SELECT c_name FROM customer LIMIT 3")
    pipe.transform("c_name").func(lambda v: v[-1])
    vals = [r[0] for r in pipe.dataframe().collect()]
    assert all(len(v) == 1 for v in vals)


def test_transform_arbitrary_method_fallback(spark):
    # O6 fallback: any Python method of the value's type (here str.swapcase)
    pipe = EtlPipeline(spark).extract("SELECT 'AbC' AS v FROM nation LIMIT 1")
    pipe.transform("v").swapcase()
    assert pipe.dataframe().first()["v"] == "aBc"


def test_default_falsy_semantics(spark):
    # O7: 0, '', NULL all replaced ('data or default'), non-falsy kept
    df = spark.createDataFrame(
        [(0.0,), (None,), (2.5,)], "v double"
    ).select(falsy_default(spark.createDataFrame([(0.0,)], "v double"), "v", -1.0).alias("v"))
    # use via pipeline to exercise the staged path
    pipe = EtlPipeline(spark).extract_df(
        spark.createDataFrame([(0.0, ""), (None, None), (2.5, "x")], "a double, b string")
    )
    pipe.transform("a").default(-1.0)
    pipe.transform("b").default("unk")
    rows = {(r["a"], r["b"]) for r in pipe.dataframe().collect()}
    assert rows == {(-1.0, "unk"), (2.5, "x")}


def test_types_cast(spark):
    # O4: builtin casts + arbitrary callable as a type
    pipe = EtlPipeline(spark).extract(
        "SELECT l_quantity, l_orderkey FROM lineitem LIMIT 5",
        types={"l_quantity": int, "l_orderkey": str},
    )
    df = pipe.dataframe()
    assert dict(df.dtypes)["l_quantity"] == "bigint"
    assert dict(df.dtypes)["l_orderkey"] == "string"


def test_ignore_drops_and_validates(spark):
    # O11: drop + hard failure on absent fields
    pipe = EtlPipeline(spark).extract("SELECT c_custkey, c_name FROM customer")
    pipe.ignore("c_name")
    assert pipe.dataframe().columns == ["c_custkey"]
    pipe2 = EtlPipeline(spark).extract("SELECT c_custkey FROM customer").ignore("nope")
    with pytest.raises(KeyError):
        pipe2.dataframe()


def test_load_append_and_surrogate_ids(spark, tmp_path):
    # O12+O15: two appends ⇒ 2n rows, dense ids continue past max
    sink = ParquetSink(spark, str(tmp_path / "t"))
    pipe = EtlPipeline(spark)
    pipe.extract("SELECT n_name FROM nation").load(sink)
    pipe.extract("SELECT n_name FROM nation").load(sink)
    out = sink.read()
    assert out.count() == 50
    ids = sorted(r["id"] for r in out.select("id").collect())
    assert ids == list(range(1, 51))


def test_load_upsert(spark, tmp_path):
    # O13: re-load keyed ⇒ same rowcount, values updated, ids preserved
    sink = ParquetSink(spark, str(tmp_path / "t"))
    base = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "name string, v long")
    EtlPipeline(spark).extract_df(base).load(sink)
    upd = spark.createDataFrame([("b", 20), ("d", 4)], "name string, v long")
    EtlPipeline(spark).extract_df(upd).load(sink, upsert_fields=["name"])
    out = {r["name"]: (r["v"], r["id"]) for r in sink.read().collect()}
    assert out["b"][0] == 20 and out["d"][0] == 4 and len(out) == 4
    assert out["b"][1] <= 3  # kept original id
    assert out["d"][1] == 4  # new id past old max


def test_drop_old_columns_and_safe(spark, tmp_path):
    # O14: second load with fewer columns drops stale ones unless safe
    sink = ParquetSink(spark, str(tmp_path / "t"))
    EtlPipeline(spark).extract_df(
        spark.createDataFrame([("a", 1)], "name string, extra long")
    ).load(sink)
    EtlPipeline(spark).extract_df(spark.createDataFrame([("b",)], "name string")).load(sink)
    assert set(sink.read().columns) == {"id", "name"}

    sink2 = ParquetSink(spark, str(tmp_path / "t2"))
    EtlPipeline(spark).extract_df(
        spark.createDataFrame([("a", 1)], "name string, extra long")
    ).load(sink2)
    EtlPipeline(spark).extract_df(spark.createDataFrame([("b",)], "name string")).load(
        sink2, safe=True
    )
    assert set(sink2.read().columns) == {"id", "name", "extra"}


def test_ensure_false_restricts_columns(spark, tmp_path):
    sink = ParquetSink(spark, str(tmp_path / "t"))
    EtlPipeline(spark).extract_df(spark.createDataFrame([("a",)], "name string")).load(sink)
    EtlPipeline(spark).extract_df(
        spark.createDataFrame([("b", 9)], "name string, newcol long")
    ).load(sink, ensure=False)
    assert set(sink.read().columns) == {"id", "name"}


def test_empty_extract_skips_write(spark, tmp_path):
    # truthiness gate (easy_etl/__init__.py:37)
    sink = ParquetSink(spark, str(tmp_path / "t"))
    EtlPipeline(spark).extract_override(lambda: []).load(sink)
    assert not sink.exists()


def test_incremental_extract(spark):
    # O2: watermark substitution incl. missing-target ⇒ 0
    from easy_etl_spark.sources.readers import high_watermark, incremental_sql_extract

    orders = spark.table("orders")
    assert high_watermark(None, "o_orderkey") == 0
    target = orders.filter(F.col("o_orderkey") <= 100)
    df = incremental_sql_extract(
        spark, "SELECT o_orderkey FROM orders WHERE o_orderkey > {}", target, "o_orderkey"
    )
    assert df.agg(F.min("o_orderkey")).first()[0] == 101


def test_pipeline_reset_after_load(spark, tmp_path):
    # O17: staged state clears; object reusable
    sink = ParquetSink(spark, str(tmp_path / "t"))
    pipe = EtlPipeline(spark)
    pipe.extract("SELECT n_name FROM nation")
    pipe.transform("n_name").lower()
    pipe.load(sink)
    assert pipe._extract is None and not pipe._staged_transforms


def test_types_before_transforms_interaction(spark):
    # execution-order contract (easy_etl/__init__.py:101-106): types
    # cast first, then transforms see the casted value — reference
    # leaves this untested (SURVEY.md §5); we pin it.
    pipe = EtlPipeline(spark).extract(
        "SELECT l_quantity FROM lineitem LIMIT 5", types={"l_quantity": int}
    )
    pipe.transform("l_quantity").func(lambda v: v * 2, return_type="long")
    df = pipe.dataframe()
    assert dict(df.dtypes)["l_quantity"] == "bigint"
    vals = [r[0] for r in df.collect()]
    assert all(isinstance(v, int) and v % 2 == 0 for v in vals)


def test_partitioned_sink_layout_and_pruning(spark, tmp_path):
    import os

    from easy_etl_spark.plans.explain import plan_facts

    sink = ParquetSink(spark, str(tmp_path / "t"), partition_by=["n_regionkey"])
    nations = spark.sql("SELECT n_nationkey, n_name, n_regionkey FROM nation")
    sink.append(nations)
    # hive-style partition directories exist
    subdirs = {d for d in os.listdir(sink.path) if d.startswith("n_regionkey=")}
    assert len(subdirs) == 5, subdirs
    # reading with a partition predicate prunes at planning time
    back = sink.read().filter(F.col("n_regionkey") == 2)
    f = plan_facts(back)
    assert any("n_regionkey" in p for p in f.partition_filters), f.text
    assert back.count() == nations.filter("n_regionkey = 2").count()


def test_partitioned_fast_append_only_touches_partitions(spark, tmp_path):
    sink = ParquetSink(spark, str(tmp_path / "t"), partition_by=["n_regionkey"])
    nations = spark.sql("SELECT n_nationkey, n_name, n_regionkey FROM nation")
    sink.append(nations)
    before = {r["id"] for r in sink.read().collect()}
    extra = spark.createDataFrame(
        [(99, "NEWLAND", 2)],
        spark.sql("SELECT n_nationkey, n_name, n_regionkey FROM nation LIMIT 0").schema,
    )
    sink.append(extra, safe=True)  # fast path: partition-wise append
    after = sink.read()
    assert after.count() == len(before) + 1
    new = after.filter(F.col("n_nationkey") == 99).first()
    assert new["id"] == max(before) + 1 and new["n_regionkey"] == 2


def test_clustered_sink_sorts_within_files(spark, tmp_path):
    import pyarrow.parquet as pq
    import glob

    sink = ParquetSink(spark, str(tmp_path / "t"), cluster_by=["o_totalprice"])
    orders = spark.sql("SELECT o_orderkey, o_totalprice FROM orders").repartition(8)
    sink.append(orders)
    files = glob.glob(f"{sink.path}/*.parquet")
    assert files
    # rows inside every file are sorted -> row-group min/max are selective
    for f in files:
        vals = pq.read_table(f, columns=["o_totalprice"])["o_totalprice"].to_pylist()
        assert vals == sorted(vals), f
    # and the global dataset is intact
    assert sink.read().count() == orders.count()


def test_missing_sql_file_raises(spark):
    # reference parity: open() on a missing .sql path fails loudly
    # (easy_etl/__init__.py:19-21) instead of running the path as SQL
    with pytest.raises(FileNotFoundError):
        EtlPipeline(spark).extract("/nonexistent/query.sql").dataframe()


def test_load_metrics_observed(spark, tmp_path):
    # O16: rows/sec observability from the count of the pinned batch,
    # parity with the reference's tqdm display
    # (easy_etl/__init__.py:33-40)
    sink = ParquetSink(spark, str(tmp_path / "t"))
    pipe = EtlPipeline(spark)
    pipe.extract("SELECT n_name FROM nation").load(sink)
    m = pipe.last_load_metrics
    assert m["rows_loaded"] == 25
    assert m["wall_seconds"] > 0 and m["rows_per_sec"] > 0

    # empty extract: write skipped, metrics say zero rows
    pipe.extract("SELECT n_name FROM nation WHERE n_nationkey < 0").load(sink)
    assert pipe.last_load_metrics["rows_loaded"] == 0


def test_upsert_keyed_on_id_column(spark, tmp_path):
    """When the surrogate id IS the upsert key (natural-key tables),
    upsert must treat incoming ids as authoritative instead of
    dropping the key column (which used to raise UNRESOLVED_COLUMN)."""
    from pyspark.sql import Row

    from easy_etl_spark.sources.sinks import ParquetSink

    sink = ParquetSink(spark, str(tmp_path / "t"), id_col="uid")
    sink.upsert(
        spark.createDataFrame([Row(uid=1, v="a"), Row(uid=2, v="b")]), keys=["uid"]
    )
    sink.upsert(
        spark.createDataFrame([Row(uid=2, v="B"), Row(uid=3, v="c")]), keys=["uid"]
    )
    got = {r.uid: r.v for r in sink.read().collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    # replay idempotence holds on this path too
    sink.upsert(
        spark.createDataFrame([Row(uid=2, v="B"), Row(uid=3, v="c")]), keys=["uid"]
    )
    assert {r.uid: r.v for r in sink.read().collect()} == got
