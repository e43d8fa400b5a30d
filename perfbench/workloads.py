"""The two workloads and the closed loop that times them.

A workload is a list of operations run one at a time (one client,
closed loop) in passes. The seed fixes the operation order of every
pass and, for ``etl_incremental``, the batch and upsert plan. Every
operation's output is checked outside its timed window; an operation
that raises or fails its check counts as failed and the run goes on.
"""

from __future__ import annotations

import os
import random
import time
from typing import Any, Callable

from perfbench import etl, hostspeed
from perfbench.stats import Failures, digest, median, tail
from perfbench.trace import (
    Tracer,
    drain_listener,
    instrument,
    last_execution_id,
    layer_totals,
    peak_rss_mb,
    python_counters,
    stage_counters,
)

#: spans that also count the Spark jobs started inside them
COUNTED_SPANS = frozenset({"session.load_table", "queries.construct", "pipeline.load"})

#: Short analytic registry queries (a subset of the historical v1
#: headline set plus the reference's incremental-watermark extract and
#: Observation-metered load), run on the small rung. Per-query fixed
#: costs dominate them. An odd count keeps the median latency inside
#: one query's cluster of samples rather than on the gap between two.
QUERY_MIX = [
    "q1_pricing_summary",
    "q6_revenue_delta",
    "topk_per_group",
    "link_customer_nation",
    "merge_upsert",
    "text_profile",
    "inference_batch_score",
    "incremental_watermark",
    "load_metrics",
]

WORKLOADS: dict[str, dict[str, Any]] = {
    "query_mix": {"ops": QUERY_MIX, "rung": "small", "tables": (
        "lineitem", "orders", "customer", "nation", "documents", "embeddings")},
    "etl_incremental": {"ops": None, "rung": "large", "tables": ("orders", "customer", "calendar")},
}

#: Rough seconds per pass on 4 cores. The number of timed passes is
#: ``--seconds`` divided by it, so every seed does the same work.
NOMINAL_PASS_S = {"query_mix": 4.0, "etl_incremental": 20.0}

#: set-ups per run; setup_s is their median
SETUPS = 5


def passes_for(workload: str, seconds: int) -> int:
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


def pass_order(ops: list[str], seed: int) -> list[str]:
    """Operation order of one pass: a seeded shuffle."""
    order = list(ops)
    random.Random(seed).shuffle(order)
    return order


class Runner:
    """One workload run in this process: set-ups, warm-up, timed
    passes, checks and (when traced) per-operation layer counters."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool,
                 rungs: dict[str, str], expected: dict[str, Any], work: str,
                 t_process: float) -> None:
        self.workload = workload
        self.spec = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(traced, COUNTED_SPANS)
        self.tracer.job_count = self._jobs_in_group
        self.rungs = rungs
        self.expected = expected
        self.work = work
        self.t_process = t_process
        self.failures = Failures()
        self.spark = None
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.setups: list[float] = []
        self.probe: hostspeed.Probe | None = None
        #: host-speed probe samples taken after each timed operation
        self.op_probes: list[list[float]] = []
        self.pass_walls: list[float] = []
        self.rows_out = 0
        self.op_records: list[dict[str, Any]] = []
        self.last_frame = None
        self.jvm_pid: int | None = None
        self.op_seq = 0
        if traced:
            self._instrument()

    # -- instrumentation -------------------------------------------
    def _instrument(self) -> None:
        """Wrap the engine's layer entry points in spans (traced runs
        only; the engine's code is not changed)."""
        from easy_etl_spark import pipeline
        from easy_etl_spark.operators import links
        from easy_etl_spark.sources import readers, sinks

        t = self.tracer

        def compile_(fn):
            def traced(pipe, *a, **k):
                with t.span("pipeline.compile"):
                    self.last_frame = fn(pipe, *a, **k)
                return self.last_frame
            return traced

        def load(fn):
            def traced(pipe, *a, **k):
                with t.span("pipeline.load") as rec:
                    fn(pipe, *a, **k)
                rec["rows_loaded"] = int(pipe.last_load_metrics.get("rows_loaded", 0))
            return traced

        def sink_write(fn):
            def traced(sink, *a, **k):
                before = etl.parquet_files(sink.path)
                with t.span("sources.sinks.write") as rec:
                    out = fn(sink, *a, **k)
                new = etl.parquet_files(sink.path) - before
                rec["files_written"] = len(new)
                rec["rows_written"] = etl.rows_in(new)
                return out
            return traced

        def span(name):
            return lambda fn: t.wrap(name, fn)

        pkg = "easy_etl_spark"
        instrument(pkg, pipeline.EtlPipeline, "dataframe", compile_)
        instrument(pkg, pipeline.EtlPipeline, "load", load)
        instrument(pkg, readers, "high_watermark", span("sources.readers.watermark"))
        instrument(pkg, sinks.ParquetSink, "append", sink_write)
        instrument(pkg, sinks.ParquetSink, "upsert", sink_write)
        instrument(pkg, links, "link", span("operators.links.stage"))
        instrument(pkg, links, "asof_link", span("operators.links.stage"))

    # -- session ---------------------------------------------------
    def _group(self) -> str:
        return f"{self.workload}:{self.op_seq}"

    def _jobs_in_group(self) -> int:
        """Jobs the status store holds for the current job group, once
        the listener bus has caught up."""
        drain_listener(self.spark)
        sc = self.spark.sparkContext
        return len(sc.statusTracker().getJobIdsForGroup(self._group()))

    def build_session(self) -> None:
        from easy_etl_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None

    def load_catalog(self) -> None:
        """Standalone load_table call for each table the workload reads,
        on its target rung (the per-call catalog cost)."""
        from easy_etl_spark.session import load_table

        rung = self.rungs[self.spec["rung"]]
        for name in self.spec["tables"]:
            self.op_seq += 1
            if self.tracer.enabled:
                self.spark.sparkContext.setJobGroup(self._group(), f"load_table {name}")
            with self.tracer.span("session.load_table") as rec:
                load_table(self.spark, rung, name)
            if rec is not None:
                rec["table"] = name

    def set_up(self, t_start: float) -> None:
        """One set-up: session build and catalog loads. Its time counts
        into setup_s."""
        self.build_session()
        self.load_catalog()
        self.setups.append(time.perf_counter() - t_start)

    def rebuild(self) -> None:
        t0 = time.perf_counter()
        self.spark.stop()
        self.set_up(t0)

    # -- operations ------------------------------------------------
    def untimed_query(self, name: str, rung: str) -> None:
        from easy_etl_spark.queries import QUERIES
        from easy_etl_spark.session import release_caches

        QUERIES[name](self.spark, rung).toArrow()
        release_caches()

    def reclaim(self) -> None:
        """Free dead checkpoint blocks (a driver and JVM GC) between
        passes, outside every timed window."""
        from easy_etl_spark.session import reclaim_blocks

        reclaim_blocks(self.spark)

    def warm_up(self) -> None:
        """Untimed warm-up in the session the passes run in (a fresh
        session runs its first jobs of each shape slowly, and the JIT
        keeps compiling for several passes): every query once on its own
        rung, or one small ETL append and upsert on the ETL rung."""
        if self.workload == "etl_incremental":
            etl.warm_up(self.spark, self.rungs[self.spec["rung"]], os.path.join(self.work, "warm_sink"))
        else:
            for name in self.spec["ops"]:
                self.untimed_query(name, self.rungs[self.spec["rung"]])
        self.reclaim()

    def timed(self, name: str, kind: str, body: Callable[[], Any]) -> Any:
        """Run one operation under its own job group; record latency
        and, when traced, the operation's layer counters."""
        self.op_seq += 1
        group = self._group()
        traced = self.tracer.enabled
        if traced:
            self.spark.sparkContext.setJobGroup(group, name)
            exec0 = last_execution_id(self.spark)
        self.tracer.op = group
        t0 = time.perf_counter()
        err = None
        out = None
        with self.tracer.span("op"):
            try:
                out = body()
            except Exception as e:  # counted, the run goes on
                err = e
        wall = time.perf_counter() - t0
        self.tracer.op = None
        self.op_probes.append(
            [self.probe.sample() for _ in range(hostspeed.samples_for(wall))])
        rec: dict[str, Any] = {"op": group, "name": name, "kind": kind, "wall_s": wall}
        if traced:
            if self.last_frame is not None:
                # executed-plan time of the frame a pipeline compiled,
                # measured after the operation (the load planned its own
                # derived frames inside the timed window)
                with self.tracer.span("spark.plan") as prec:
                    self.last_frame._jdf.queryExecution().executedPlan()
                prec["op"] = group
                self.last_frame = None
            drain_listener(self.spark)
            sched = stage_counters(self.spark, group)
            tracker = self.spark.sparkContext.statusTracker()
            jobs = set(tracker.getJobIdsForGroup(group))
            rec["sched"] = sched
            rec["python"] = python_counters(self.spark, exec0, jobs)
        self.op_records.append(rec)
        if err is not None:
            self.failures.record(name, False, f"raised {type(err).__name__}: {err}")
            return None
        return out

    def run_query(self, name: str, rung: str) -> None:
        from easy_etl_spark.queries import QUERIES
        from easy_etl_spark.session import release_caches

        tr = self.tracer

        def body():
            with tr.span("queries.construct"):
                df = QUERIES[name](self.spark, rung)
            self.last_frame = None  # a pipeline inside the query is not the op's frame
            if tr.enabled:
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("spark.action"):
                return df.toArrow()

        tbl = self.timed(name, "query", body)
        release_caches()
        if tbl is None:
            return
        self.rows_out += tbl.num_rows
        self.failures.record(name, *check_result(name, tbl, self.expected["queries"]))

    def run_passes(self) -> None:
        n = passes_for(self.workload, self.seconds)
        rung = self.rungs[self.spec["rung"]]
        for p in range(n):
            k0 = len(self.op_records)
            if self.workload == "etl_incremental":
                etl.cycle(self, p)
            else:
                for name in pass_order(self.spec["ops"], self.seed + p):
                    self.run_query(name, rung)
            self.pass_walls.append(sum(r["wall_s"] for r in self.op_records[k0:]))
            self.reclaim()

    # -- run -------------------------------------------------------
    def run(self) -> dict[str, Any]:
        self.set_up(self.t_process)
        for _ in range(SETUPS - 1):
            self.rebuild()
        t0 = time.perf_counter()
        self.warm_up()
        self.probe = hostspeed.Probe(self.spark, self.cpus, self.jvm_pid)
        t1 = time.perf_counter()
        self.run_passes()
        self.phases = {"warm_up_s": t1 - t0, "passes_s": time.perf_counter() - t1}
        rss = peak_rss_mb(self.jvm_pid)
        return self.report(rss)

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers it forked) to exit."""
        if self.probe is not None:
            self.probe.close()
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    # -- metrics ---------------------------------------------------
    def pass_wall(self, key: str = "ref_s") -> float:
        """Wall time of one pass, summed from each operation's median
        latency over the passes: one slow operation moves it by its own
        excess only, not by a whole pass."""
        by_name: dict[str, list[float]] = {}
        for r in self.op_records:
            by_name.setdefault(r["name"], []).append(r[key])
        return sum(median(v) for v in by_name.values())

    def end_to_end(self, key: str, setups: list[float], rss_mb: float) -> dict[str, float]:
        lat = [r[key] for r in self.op_records]
        wall = self.pass_wall(key)
        return {
            "setup_s": median(setups),
            "wall_s": wall,
            "latency_p50_s": median(lat),
            "latency_tail_s": tail(lat)["value"],
            "rows_per_s": self.rows_out / len(self.pass_walls) / wall,
            "peak_rss_mb": rss_mb,
        }

    def report(self, rss_mb: float) -> dict[str, Any]:
        """End-to-end metrics at the reference host speed (see
        ``hostspeed``); the same metrics from raw times go to the
        payload."""
        for k, r in enumerate(self.op_records):
            r["ref_s"] = r["wall_s"] * hostspeed.scale(self.op_probes, k)
        # set-ups run before the first probe: the run's median speed
        run_probe = median([x for op in self.op_probes for x in op])
        ref_setups = [s * hostspeed.REF_S / run_probe for s in self.setups]
        e2e = self.end_to_end("ref_s", ref_setups, rss_mb)
        t = tail([r["ref_s"] for r in self.op_records])
        detail: dict[str, Any] = {
            "raw_end_to_end": self.end_to_end("wall_s", self.setups, rss_mb),
            "host_probe": {"ref_s": hostspeed.REF_S, "ops_s": self.op_probes, **self.probe.parts},
            "setups_s": self.setups,
            "pass_walls_s": self.pass_walls,
            "latency_tail": t,
            "failed_share": self.failures.share,
            "failures": self.failures.reasons,
            "rows_out": self.rows_out,
            "phases": self.phases,
            "ops": [[r["name"], r["kind"], r["wall_s"], r["ref_s"]] for r in self.op_records],
        }
        for kind in ("append", "upsert"):
            xs = [r["ref_s"] for r in self.op_records if r["kind"] == kind]
            if xs:
                detail[f"{kind}_p50_s"] = median(xs)
        out = {"end_to_end": e2e, "detail": detail}
        if self.tracer.enabled:
            out["per_layer"], out["layers"] = self.layer_metrics()
        return out

    def layer_metrics(self) -> tuple[dict[str, float], dict[str, Any]]:
        """Per-layer metrics of a traced run: means per timed operation
        unless named otherwise."""
        spans = self.tracer.spans
        ops = [r for r in self.op_records if "sched" in r]
        n_ops = max(1, len(ops))

        def in_ops(name: str) -> list[dict[str, Any]]:
            return [s for s in spans if s["name"] == name and s["op"] is not None]

        def per_op(name: str, key: str | None = None) -> float:
            xs = in_ops(name)
            if key is None:
                return sum(s["end"] - s["start"] for s in xs) / n_ops
            return sum(s.get(key, 0) for s in xs) / n_ops

        def sched(key: str) -> float:
            return sum(r["sched"][key] for r in ops) / n_ops

        def py(key: str) -> float:
            return sum(r["python"][key] for r in ops) / n_ops

        def dur(name: str) -> list[float]:
            return [s["end"] - s["start"] for s in spans if s["name"] == name]

        loads = [s for s in spans if s["name"] == "session.load_table"]
        loaded = sum(s.get("rows_loaded", 0) for s in in_ops("pipeline.load"))
        written = sum(s.get("rows_written", 0) for s in in_ops("sources.sinks.write"))
        m = {
            "session.get_spark_s": median(dur("session.get_spark")),
            "session.load_table_s": median(dur("session.load_table")),
            "session.load_table_jobs": sum(s["jobs"] for s in loads) / max(1, len(loads)),
            "queries.construct_s": per_op("queries.construct"),
            "queries.construct_jobs": per_op("queries.construct", "jobs"),
            "spark.plan_s": per_op("spark.plan"),
            "spark.sched.jobs": sched("jobs"),
            "spark.sched.stages": sched("stages"),
            "spark.sched.tasks": sched("tasks"),
            "spark.sched.failed_tasks": sched("failed_tasks"),
            "spark.exec.run_s": sched("run_s"),
            "spark.exec.cpu_s": sched("cpu_s"),
            "spark.exec.busy_share": sched("run_s") / (sum(r["wall_s"] for r in ops) / n_ops * self.cpus),
            "spark.exec.peak_mem_mb": max(r["sched"]["peak_mem_bytes"] for r in ops) / 2**20,
            "spark.shuffle.write_bytes": sched("shuffle_write_bytes"),
            "spark.shuffle.read_bytes": sched("shuffle_read_bytes"),
            "spark.spill_bytes": sched("spill_bytes"),
            "spark.python.run_s": py("run_s"),
            "spark.python.bytes_out": py("bytes_out"),
            "spark.python.bytes_in": py("bytes_in"),
            "pipeline.compile_s": per_op("pipeline.compile"),
            "pipeline.load_s": per_op("pipeline.load"),
            "pipeline.load_jobs": per_op("pipeline.load", "jobs"),
            "sources.readers.watermark_s": per_op("sources.readers.watermark"),
            "sources.sinks.write_s": per_op("sources.sinks.write"),
            "sources.sinks.files_written": per_op("sources.sinks.write", "files_written"),
            "sources.sinks.write_amplification": written / loaded if loaded else 0.0,
            "operators.links.stage_s": per_op("operators.links.stage"),
            "trace.wall_s": self.pass_wall(),
        }
        layers = {
            "shuffle_fetch_wait_s": sched("fetch_wait_s"),
            "span_totals": layer_totals(spans),
            "ops": ops,
        }
        return m, layers


def check_result(name: str, tbl, expected: dict[str, Any]) -> tuple[bool, str]:
    """Compare a query result's order-independent digest with the
    committed oracle digest."""
    exp = expected.get(name)
    if exp is None:
        return False, "no expected digest committed"
    cols = list(tbl.column_names)
    got = digest(cols, zip(*[c.to_pylist() for c in tbl.columns]))
    if got["rows"] != exp["rows"] or got["columns"] != exp["columns"] or got["hash"] != exp["hash"]:
        return False, f"digest {got} != expected {exp}"
    return True, ""
