"""A load evaluates its batch once, keyed dimensions are served stored,
dense ids need no shuffle, and a schema-matching append writes only the
batch.

Pins for:
  - EtlPipeline.load pinning the compiled frame (one evaluation of the
    extract, UDFs and links per load; ids stay dense under a
    non-deterministic middleware);
  - operators.links serving pinned keyed frames and lookups, re-keyed
    when a dimension file is rewritten in place;
  - sources.sinks.dense_ids planning no Window and no Exchange;
  - ParquetSink.append hard-linking the existing files into the staged
    table, with the swap's crash posture and keep_versions intact.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row

from easy_etl_spark import EtlPipeline, ParquetSink
from easy_etl_spark.operators import quality as Q
from easy_etl_spark.operators.links import clear_surrogate_cache, link
from easy_etl_spark.sources.sinks import dense_ids

_SHUFFLE = re.compile(r"(?<!Broadcast)Exchange")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _disk_rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


# ---- the load evaluates its batch once ---------------------------------
def test_load_runs_the_compiled_batch_once(spark, tmp_path):
    acc = spark.sparkContext.accumulator(0)

    def tag(v):
        acc.add(1)
        return v

    sink = ParquetSink(spark, str(tmp_path / "t"))
    pipe = EtlPipeline(spark)
    pipe.extract("SELECT o_orderkey, o_custkey, o_orderstatus FROM orders")
    pipe.transform("o_orderstatus").func(tag)
    pipe.link("o_custkey", spark.table("customer"), "c_custkey", name="cust_id")
    # the gate reads the UDF's output, so its evaluation cannot be pruned
    pipe.expect(lambda d: Q.not_null(d, "o_orderstatus"))
    pipe.load(sink)
    n = spark.sql("SELECT count(*) AS n FROM orders").first()["n"]
    assert pipe.last_load_metrics["rows_loaded"] == n
    assert acc.value == n  # one UDF call per row: no re-evaluation


def test_nondeterministic_middleware_still_gets_dense_ids(spark, tmp_path):
    def drop_random_half(df):
        def sample(batches):
            import numpy as np

            rng = np.random.default_rng()  # fresh OS entropy per task
            for b in batches:
                yield b[rng.random(len(b)) < 0.5]

        return df.repartition(4).mapInPandas(sample, df.schema)

    sink = ParquetSink(spark, str(tmp_path / "t"))
    pipe = EtlPipeline(spark)
    for lo, hi in [(0, 3000), (3000, 6000)]:
        pipe.extract(
            f"SELECT o_orderkey FROM orders WHERE o_orderkey > {lo} AND o_orderkey <= {hi}"
        ).middleware(drop_random_half).load(sink)
        on_disk = _disk_rows(sink.path)
        ids = sorted(r["id"] for r in on_disk)
        assert ids == list(range(1, len(ids) + 1))
        keys = [r["o_orderkey"] for r in on_disk]
        assert len(keys) == len(set(keys))
    assert pipe.last_load_metrics["rows_loaded"] == sum(
        1 for r in on_disk if r["o_orderkey"] > 3000
    )


# ---- dense ids ----------------------------------------------------------
def test_dense_ids_plan_has_no_window_or_exchange(spark):
    out = dense_ids(spark.range(0, 500, 1, 4), "rid", offset=7)
    plan = _plan(out)
    assert "Window" not in plan and "Exchange" not in plan, plan
    assert sorted(r["rid"] for r in out.collect()) == list(range(8, 508))
    assert out.columns == ["rid", "id"]


# ---- keyed dimensions ---------------------------------------------------
def _write_dim(path: str, keys: list[int]) -> None:
    pq.write_table(pa.table({"k": pa.array(keys, pa.int64())}), path)


def test_repeat_link_reads_stored_lookup_without_shuffle(spark, tmp_path):
    clear_surrogate_cache()
    path = str(tmp_path / "dim.parquet")
    _write_dim(path, [30, 10, 20, 20])
    fact = spark.createDataFrame([(10,), (20,), (30,), (40,)], "f long")
    first = {r["f"]: r["kid"] for r in link(fact, spark.read.parquet(path), "f", "k", "kid").collect()}
    assert first == {10: 1, 20: 2, 30: 4, 40: None}
    again = link(fact, spark.read.parquet(path), "f", "k", "kid")
    plan = _plan(again)
    assert not _SHUFFLE.search(plan), plan
    assert {r["f"]: r["kid"] for r in again.collect()} == first
    clear_surrogate_cache()


def test_dimension_rewritten_in_place_is_rekeyed(spark, tmp_path):
    clear_surrogate_cache()
    path = str(tmp_path / "dim.parquet")
    fact = spark.createDataFrame([(10,), (30,)], "f long")
    _write_dim(path, [10, 20, 30])
    before = {r["f"]: r["kid"] for r in link(fact, spark.read.parquet(path), "f", "k", "kid").collect()}
    assert before == {10: 1, 30: 3}
    _write_dim(path, [5, 10, 20, 30])  # same file name, new content
    after = {r["f"]: r["kid"] for r in link(fact, spark.read.parquet(path), "f", "k", "kid").collect()}
    assert after == {10: 2, 30: 4}
    clear_surrogate_cache()


# ---- appends ------------------------------------------------------------
def _file_stats(sink: ParquetSink) -> dict[str, tuple[int, int]]:
    out = {}
    for f in sink.data_files():
        st = os.stat(f)
        out[os.path.relpath(f, sink.path)] = (st.st_ino, st.st_mtime_ns)
    return out


@pytest.mark.parametrize("partition_by", [None, ["tag"]])
def test_schema_matching_append_leaves_existing_files_untouched(spark, tmp_path, partition_by):
    sink = ParquetSink(spark, str(tmp_path / "t"), partition_by=partition_by)
    sink.append(spark.createDataFrame([Row(uid=i, tag=f"t{i % 3}") for i in range(30)]))
    before = _file_stats(sink)
    sink.append(spark.createDataFrame([Row(uid=i, tag=f"t{i % 4}") for i in range(30, 40)]))
    after = _file_stats(sink)
    for rel, stat in before.items():
        assert after.get(rel) == stat, rel
    assert len(after) > len(before)
    rows = sink.read().collect()
    assert sorted(r.uid for r in rows) == list(range(40))
    assert sorted(r.id for r in rows) == list(range(1, 41))


def test_failure_between_staging_and_swap_keeps_old_table(spark, tmp_path, monkeypatch):
    sink = ParquetSink(spark, str(tmp_path / "t"))
    sink.append(spark.createDataFrame([Row(uid=1), Row(uid=2)]))
    before = _file_stats(sink)

    def boom(src, dst):
        raise OSError("injected")

    monkeypatch.setattr(os, "link", boom)
    with pytest.raises(OSError, match="injected"):
        sink.append(spark.createDataFrame([Row(uid=3)]))
    monkeypatch.undo()
    assert _file_stats(sink) == before
    assert sorted((r.id, r.uid) for r in sink.read().collect()) == [(1, 1), (2, 2)]
    leftovers = [n for n in os.listdir(tmp_path) if n != "t"]
    assert leftovers == []


def test_versions_survive_linked_appends_and_purge(spark, tmp_path):
    sink = ParquetSink(spark, str(tmp_path / "v"), keep_versions=3)
    for uid in (1, 2, 3):
        sink.append(spark.createDataFrame([Row(uid=uid, tag="pii" if uid == 1 else "ok")]))

    def uids(df):
        return sorted(r.uid for r in df.collect())

    v1, v2 = sink.versions()
    assert uids(sink.read(version=v1)) == [1]
    assert uids(sink.read(version=v2)) == [1, 2]
    assert uids(sink.read()) == [1, 2, 3]
    assert sink.delete_where("tag = 'pii'", purge_versions=True) == 1
    assert uids(sink.read()) == [2, 3]
    assert uids(sink.read(version=v1)) == []
    assert uids(sink.read(version=v2)) == [2]
    sink.append(spark.createDataFrame([Row(uid=4, tag="ok")]))
    assert uids(sink.read()) == [2, 3, 4]
    assert uids(sink.read(version=v2)) == [2]
    assert sorted(r.id for r in sink.read().collect()) == [2, 3, 4]
