"""The ``etl_incremental`` workload: the reference's own staged job.

One cycle starts from an empty ``ParquetSink``. New orders arrive in
``N_APPENDS`` batches through a growing source view; each batch runs a
watermark extract, two transforms (one a Python UDF), an equi link to
``customer``, an as-of link to the weekly ``calendar`` and an ignore,
then an append load. ``N_UPSERTS`` keyed upserts of seeded order
subsets (updated rows plus a few new keys) follow. After the cycle the
sink is checked against the same plan replayed in DuckDB.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
from typing import Any

POOL = 40_000  # order keys 1..POOL arrive through the append batches
N_APPENDS = 3
N_UPSERTS = 4
INSERTS_PER_UPSERT = 400

EXTRACT_SQL = (
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority FROM orders_src WHERE o_orderkey > {}"
)
UPDATE_SQL = (
    "SELECT o_orderkey, o_custkey, 'F' AS o_orderstatus, "
    "o_totalprice + {delta} AS o_totalprice, o_orderdate, o_orderpriority "
    "FROM orders_all WHERE (o_orderkey BETWEEN 1 AND {pool} AND o_orderkey % {mod} = {rem}) "
    "OR (o_orderkey BETWEEN {ins_lo} AND {ins_hi})"
)
STATUS_NAMES = {"F": "filled", "O": "open", "P": "partial"}


def plan(seed: int, pool: int = POOL, n_appends: int = N_APPENDS,
         n_upserts: int = N_UPSERTS) -> dict[str, Any]:
    """Seeded batch cut points and upsert subsets of one cycle."""
    rng = random.Random(seed)
    step = pool // n_appends
    cuts = [
        min(pool, (i + 1) * step + rng.randint(-step // 4, step // 4))
        for i in range(n_appends - 1)
    ] + [pool]
    upserts = []
    for k in range(n_upserts):
        mod = rng.randint(40, 80)
        lo = pool + 1 + k * INSERTS_PER_UPSERT
        upserts.append({
            "mod": mod,
            "rem": rng.randrange(mod),
            "delta": 100.0 * (k + 1) + rng.randint(0, 99),
            "ins_lo": lo,
            "ins_hi": lo + INSERTS_PER_UPSERT - 1,
        })
    return {"cuts": cuts, "upserts": upserts, "pool": pool}


def _stage(pipe, spark, rung: str, sql: str, watermark_target=None):
    """Stage extract → transforms → links → ignore on ``pipe``."""
    from easy_etl_spark.session import load_table

    names = dict(STATUS_NAMES)
    if watermark_target is not None:
        pipe.extract(sql, write_pk_field="o_orderkey", target=watermark_target)
    else:
        pipe.extract(sql)
    pipe.transform("o_orderpriority").lower()
    pipe.transform("o_orderstatus").func(lambda s: names.get(s, s))
    pipe.link("o_custkey", load_table(spark, rung, "customer"), "c_custkey", name="cust_id")
    pipe.link_closest("o_orderdate", load_table(spark, rung, "calendar"), "d_date", name="date_id")
    pipe.ignore("o_custkey")


def parquet_files(path: str) -> set[str]:
    return set(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def rows_in(files: set[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _load_op(runner, name: str, kind: str, pipe, sink, sql: str, upsert: bool) -> None:
    """One timed batch: staging, then the load."""
    rung = runner.rungs[runner.spec["rung"]]

    def body():
        with runner.tracer.span("queries.construct"):
            _stage(pipe, runner.spark, rung, sql, None if upsert else sink)
        pipe.load(sink, upsert_fields=["o_orderkey"] if upsert else None)
        return True

    if runner.timed(name, kind, body):
        runner.rows_out += int(pipe.last_load_metrics["rows_loaded"])


def cycle(runner, index: int) -> None:
    """One full cycle on a fresh sink. Each operation is counted once:
    failed if it raised, otherwise by the output check that runs after
    the last upsert, outside every timed window."""
    from easy_etl_spark.pipeline import EtlPipeline
    from easy_etl_spark.session import load_table
    from easy_etl_spark.sources.sinks import ParquetSink

    spark = runner.spark
    rung = runner.rungs[runner.spec["rung"]]
    p = plan(runner.seed + 7919 * index)
    path = os.path.join(runner.work, f"sink_{index}")
    shutil.rmtree(path, ignore_errors=True)
    sink = ParquetSink(spark, path)
    pipe = EtlPipeline(spark)
    load_table(spark, rung, "orders").createOrReplaceTempView("orders_all")
    failed0 = runner.failures.failed
    for i, cut in enumerate(p["cuts"]):
        spark.sql(f"SELECT * FROM orders_all WHERE o_orderkey <= {cut}").createOrReplaceTempView("orders_src")
        _load_op(runner, f"append_{i}", "append", pipe, sink, EXTRACT_SQL, upsert=False)
    for k, u in enumerate(p["upserts"]):
        _load_op(runner, f"upsert_{k}", "upsert", pipe, sink,
                 UPDATE_SQL.format(pool=p["pool"], **u), upsert=True)
    n_ok = len(p["cuts"]) + len(p["upserts"]) - (runner.failures.failed - failed0)
    if runner.failures.failed > failed0:
        ok, why = False, "an earlier operation of the cycle raised; sink unverifiable"
    else:
        ok, why = check_sink(path, rung, p)
    for _ in range(n_ok):
        runner.failures.record(f"etl_cycle_{index}", ok, why)
    shutil.rmtree(path, ignore_errors=True)


def check_sink(path: str, rung: str, p: dict[str, Any]) -> tuple[bool, str]:
    """Natural-key content of the sink against the plan replayed in
    DuckDB, plus ``id`` unique and dense 1..N."""
    import pyarrow.parquet as pq

    from perfbench.stats import digest

    tbl = pq.read_table(path)
    ids = sorted(tbl.column("id").to_pylist())
    if ids != list(range(1, len(ids) + 1)):
        return False, f"ids not dense 1..{len(ids)}"
    cols = [c for c in tbl.column_names if c != "id"]
    got = digest(cols, zip(*[tbl.column(c).to_pylist() for c in cols]))
    exp = expected_digest(rung, p)
    if got != exp:
        return False, f"sink digest {got} != duckdb {exp}"
    return True, ""


def expected_digest(rung: str, p: dict[str, Any]) -> dict[str, Any]:
    """Replay the cycle's plan in DuckDB and digest the final table."""
    import duckdb

    from perfbench.stats import digest

    con = duckdb.connect()
    for t in ("orders", "customer", "calendar"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(rung, t)}.parquet'")
    con.execute("CREATE VIEW orders_all AS SELECT * FROM orders")
    con.execute(
        f"CREATE TABLE t AS SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        f"o_orderdate, o_orderpriority FROM orders WHERE o_orderkey BETWEEN 1 AND {p['pool']}"
    )
    for u in p["upserts"]:
        con.execute(f"CREATE OR REPLACE TEMP TABLE u AS {UPDATE_SQL.format(pool=p['pool'], **u)}")
        con.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM u)")
        con.execute("INSERT INTO t SELECT * FROM u")
    status = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in STATUS_NAMES.items())
    res = con.execute(f"""
        WITH cust AS (SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS cust_id FROM customer),
             cal AS (SELECT d_date, row_number() OVER (ORDER BY d_date) AS date_id FROM calendar)
        SELECT t.o_orderkey, CASE t.o_orderstatus {status} ELSE t.o_orderstatus END AS o_orderstatus,
               t.o_totalprice, t.o_orderdate, lower(t.o_orderpriority) AS o_orderpriority,
               cust.cust_id, cal.date_id
        FROM t LEFT JOIN cust ON t.o_custkey = cust.c_custkey
        ASOF LEFT JOIN cal ON t.o_orderdate <= cal.d_date
    """)
    cols = [d[0] for d in res.description]
    return digest(cols, res.fetchall())


def warm_up(spark, rung: str, path: str) -> None:
    """One untimed append of 1000 orders and one upsert into a scratch
    sink, on the workload's own rung (warm-up)."""
    from easy_etl_spark.pipeline import EtlPipeline
    from easy_etl_spark.session import load_table
    from easy_etl_spark.sources.sinks import ParquetSink

    shutil.rmtree(path, ignore_errors=True)
    sink = ParquetSink(spark, path)
    pipe = EtlPipeline(spark)
    load_table(spark, rung, "orders").createOrReplaceTempView("orders_all")
    spark.sql("SELECT * FROM orders_all WHERE o_orderkey <= 1000").createOrReplaceTempView("orders_src")
    _stage(pipe, spark, rung, EXTRACT_SQL, sink)
    pipe.load(sink)
    u = {"mod": 7, "rem": 3, "delta": 100.0, "ins_lo": 1001, "ins_hi": 1100}
    _stage(pipe, spark, rung, UPDATE_SQL.format(pool=1000, **u))
    pipe.load(sink, upsert_fields=["o_orderkey"])
    shutil.rmtree(path, ignore_errors=True)
