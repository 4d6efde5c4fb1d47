#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload osm_etl --seed 1 --seconds 10 --trace 0

The inputs are generated from ``--seed`` under ``.perfbench/`` at the
repository root, the program runs on ``local[$SPARK_GRAFT_CPUS]``
(default: half the CPUs this process may use), and a single client drives
it in a closed loop: one operation at a time, each started when the
previous one has finished. After the set-ups and the workload's untimed
warm-up passes, complete passes over the workload's operations repeat
until ``--seconds`` have passed and at least three have run. Every output
is checked: ``catalog``'s in its first warm-up pass, ``osm_etl``'s after
the timed passes.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (set-up, pass wall, median query latency). With
``--trace 1`` the run then restarts the session with Spark's event log on,
runs one more pass under spans with a job group each, and reports the
per-layer metrics instead, including the traced pass's overhead over the
untraced passes. A detail file with per-pass and per-query figures is
written under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
#: the checkout: the program's package and tests/ sit next to perfbench/
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import osmgen  # noqa: E402
import stargen  # noqa: E402
from spans import Tracer, covered, median, self_time, tail  # noqa: E402
from workloads import README_STATEMENTS, WORKLOADS, Catalog, OsmEtl  # noqa: E402

#: the run gives up (exit 3, no result) if it is still going after this
DEADLINE_S = 170
#: set-ups per run; setup_s is their median
SETUPS = 3
#: timed passes per run, at least, so that their median leaves out one
#: disturbed pass
MIN_PASSES = 3
#: a DuckDB oracle still running after this many seconds is interrupted
#: and its query falls back to a row-count check
ORACLE_TIMEOUT_S = 15

END_TO_END = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.osm.parse_s": "s",
    "sources.osm.input_partitions": "count",
    "pipeline.shape_s": "s",
    "functions.cleaning.values_rewritten": "count",
    "pipeline.write_s": "s",
    "pipeline.bytes_out": "bytes",
    "pipeline.rows_out": "count",
    "pipeline.etl_mb_per_s": "MB/s",
    "pipeline.bytes_out_per_in": "ratio",
    "plans.osm_workload.sql_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.jobs_at_build": "count",
    "plans.jobs": "count",
    "plans.dedup.memo_builds": "count",
    "scheduler.floor_s": "s",
    "executor.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.failed_tasks": "count",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "spill.bytes": "bytes",
    "python.boot_s": "s",
    "python.run_s": "s",
    "python.bytes_sent": "bytes",
    "scan.input_bytes": "bytes",
    "output.bytes": "bytes",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Program:
    """The program under test, reached only through its public functions."""

    def __init__(self) -> None:
        sys.path.insert(0, ROOT)
        from amsterdam_map_data_wrangling_spark import pipeline, session
        from amsterdam_map_data_wrangling_spark.plans import dedup, osm_workload
        from amsterdam_map_data_wrangling_spark.plans.queries import QUERIES
        from amsterdam_map_data_wrangling_spark.sources.osm import read_osm
        from amsterdam_map_data_wrangling_spark.sources.registry import load_tables
        from tests import oracle

        self.session, self.pipeline, self.dedup = session, pipeline, dedup
        self.osm_workload, self.QUERIES = osm_workload, QUERIES
        self.read_osm, self.load_tables, self.oracle = read_osm, load_tables, oracle
        self.spark = None
        self.jvm = None

    def start(self, extra_conf: dict | None = None):
        from pyspark import SparkContext

        self.spark = self.session.get_spark(extra_conf=extra_conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = SparkContext._gateway.proc
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        try:
            self.stop()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if self.jvm is not None:
                self.jvm.stdin.close()  # the JVM exits at EOF on its stdin
                try:
                    self.jvm.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self.jvm.kill()
                    self.jvm.wait()


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the processes, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


class Collected:
    """Rows already collected from a DataFrame, in the shape
    ``tests/oracle.compare`` reads, so the oracle's time limit covers
    DuckDB alone."""

    def __init__(self, columns: list[str], rows: list[tuple]):
        self.columns = columns
        self.rows = rows

    def collect(self) -> list[tuple]:
        return self.rows


def _non_empty(got: Collected) -> None:
    if not got.rows:
        raise AssertionError("empty result")


def check_against(prog: Program, con, got: Collected, sql: str | None) -> str:
    """``ok``, ``rows-only`` (no oracle, or it timed out: the result must
    not be empty) or raises AssertionError on a mismatch."""
    if sql is None:
        _non_empty(got)
        return "rows-only"
    import duckdb

    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        prog.oracle.compare(got, con, sql)
        return "ok"
    except duckdb.InterruptException:
        _non_empty(got)
        return "rows-only (oracle timed out)"
    finally:
        timer.cancel()


class Run:
    def __init__(self, prog: Program, args, work: str):
        self.prog = prog
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]
        self.detail: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace}
        self.attempted = 0
        self.failed = 0

    # -- inputs -----------------------------------------------------------
    def make_inputs(self) -> None:
        t0 = time.perf_counter()
        if isinstance(self.wl, OsmEtl):
            self.xml = os.path.join(self.work, "input.osm")
            self.xml_bytes = osmgen.write_osm(self.xml, self.wl.n_nodes, self.wl.n_ways, self.args.seed)
            self.detail["input_bytes"] = self.xml_bytes
        else:
            self.sf_dir = os.path.join(self.work, "star")
            sizes = stargen.write_star(self.sf_dir, self.wl.sf, self.args.seed)
            self.detail["input_bytes"] = sum(sizes.values())
            self.order = list(self.wl.queries)
            random.Random(self.args.seed).shuffle(self.order)
            self.detail["query_order"] = self.order
        self.detail["gen_s"] = time.perf_counter() - t0

    # -- set-up -----------------------------------------------------------
    def setup_once(self, extra_conf: dict | None = None, tracer: Tracer | None = None) -> float:
        t0 = time.perf_counter()
        if tracer is None:
            spark = self.prog.start(extra_conf)
        else:
            with tracer.span("session.start"):
                spark = self.prog.start(extra_conf)
        if isinstance(self.wl, Catalog):
            self.prog.load_tables(spark, self.sf_dir, stargen.TABLES)
        spark.range(1000).selectExpr("sum(id)").collect()
        return time.perf_counter() - t0

    def setup(self) -> float:
        times = []
        for i in range(SETUPS):
            if i:
                self.prog.stop()
            times.append(self.setup_once())
        self.detail["setups_s"] = times
        return median(times)

    # -- one pass over the workload's operations --------------------------
    def op(self, tracer: Tracer, name: str, build, run) -> tuple[float, object]:
        """Build and run one operation; return its latency and result."""
        self.attempted += 1
        t0 = time.perf_counter()
        with tracer.span("op", op=name):
            with tracer.span("build"):
                df = build()
            with tracer.span("exec"):
                out = run(df)
        return time.perf_counter() - t0, out

    def catalog_pass(self, tracer: Tracer) -> tuple[float, dict]:
        spark, Q = self.prog.spark, self.prog.QUERIES
        self.prog.dedup.clear_graph_memo()
        lat: dict[str, float] = {}
        t0 = time.perf_counter()
        for name in self.order:
            try:
                lat[name], _ = self.op(
                    tracer, name, lambda: Q[name].build(spark, self.sf_dir),
                    lambda df: df.write.format("noop").mode("overwrite").save())
            except Exception:
                self.failed += 1
                log(f"{name} raised:\n{traceback.format_exc()}")
        wall = time.perf_counter() - t0
        self.memo_builds = len(self.prog.dedup._GRAPH_MEMO)
        return wall, lat

    def osm_pass(self, tracer: Tracer) -> tuple[float, dict]:
        spark, ow = self.prog.spark, self.prog.osm_workload
        xml, out = self.xml, os.path.join(self.work, "out")
        lat: dict[str, float] = {}
        self.readme_rows: dict[str, Collected] = {}
        t0 = time.perf_counter()
        self.attempted += 1
        try:
            with tracer.span("pipeline.run_pipeline"):
                tables = self.prog.pipeline.run_pipeline(spark, xml, out)
            ow.register_osm_views(tables)
        except Exception:
            self.failed += 1
            log(f"run_pipeline raised:\n{traceback.format_exc()}")
            return time.perf_counter() - t0, lat
        for name in README_STATEMENTS:
            try:
                lat[name], self.readme_rows[name] = self.op(
                    tracer, name, lambda: ow.run_workload(spark, [name])[name],
                    lambda df: Collected(df.columns, [tuple(r) for r in df.collect()]))
            except Exception:
                self.failed += 1
                log(f"{name} raised:\n{traceback.format_exc()}")
        return time.perf_counter() - t0, lat

    def one_pass(self, tracer: Tracer) -> tuple[float, dict]:
        return (self.osm_pass if isinstance(self.wl, OsmEtl) else self.catalog_pass)(tracer)

    def timed_passes(self, seconds: float) -> tuple[list[float], list[float]]:
        """Complete untraced passes until ``seconds`` have passed and at
        least ``MIN_PASSES`` have run."""
        walls: list[float] = []
        lats: list[float] = []
        self.per_query: dict[str, list[float]] = {}
        t0 = time.perf_counter()
        while True:
            wall, lat = self.one_pass(Tracer("untraced", False))
            walls.append(wall)
            lats.extend(lat.values())
            for k, v in lat.items():
                self.per_query.setdefault(k, []).append(v)
            if len(walls) >= MIN_PASSES and time.perf_counter() - t0 >= seconds:
                return walls, lats

    # -- warm-up and output checks ----------------------------------------
    def catalog_check(self) -> None:
        """Untimed warm-up pass that checks every query against its DuckDB
        oracle."""
        spark, Q = self.prog.spark, self.prog.QUERIES
        con = self.prog.oracle.duckdb_con(self.sf_dir)
        self.prog.dedup.clear_graph_memo()
        checks = {}
        self.check_times: dict[str, tuple[float, float]] = {}
        for name in self.order:
            self.attempted += 1
            try:
                t1 = time.perf_counter()
                df = Q[name].build(spark, self.sf_dir)
                got = Collected(df.columns, [tuple(r) for r in df.collect()])
                t2 = time.perf_counter()
                checks[name] = check_against(self.prog, con, got, Q[name].oracle)
                self.check_times[name] = (t2 - t1, time.perf_counter() - t2)
            except Exception:
                checks[name] = "FAILED"
                log(f"check of {name} failed:\n{traceback.format_exc()}")
        con.close()
        self.detail["check_spark_oracle_s"] = self.check_times
        self.record_checks(checks)

    def record_checks(self, checks: dict[str, str]) -> None:
        self.detail["checks"] = checks
        self.detail["oracle_fallbacks"] = [n for n, c in checks.items() if "timed out" in c]
        self.check_failures = sum(c.startswith("FAILED") for c in checks.values())

    def osm_check(self) -> None:
        """Row counts against the generator's closed form, and the README
        statements' Spark results against DuckDB over the written parquet."""
        import duckdb

        out = os.path.join(self.work, "out")
        con = duckdb.connect()
        for t in ("nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out}/{t}/*.parquet')")
        checks = {}
        expected = osmgen.expected_counts(self.wl.n_nodes, self.wl.n_ways)
        for t, n in expected.items():
            self.attempted += 1
            got = con.sql(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
            checks[f"rows:{t}"] = "ok" if got == n else f"FAILED: {got} rows, expected {n}"
        for name in README_STATEMENTS:
            self.attempted += 1
            try:
                checks[name] = check_against(self.prog, con, self.readme_rows[name],
                                             self.prog.osm_workload.OSM_WORKLOAD[name])
            except (AssertionError, KeyError):
                checks[name] = "FAILED"
                log(f"check of {name} failed:\n{traceback.format_exc()}")
        con.close()
        self.record_checks(checks)

    # -- traced pass ------------------------------------------------------
    def traced(self, untraced_wall: float) -> dict[str, float]:
        evdir = os.path.join(self.work, "eventlog")
        os.makedirs(evdir)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        self.prog.stop()
        tracer = Tracer(f"{self.args.workload}-{self.args.seed}", True)
        self.setup_once(conf, tracer)
        tracer.sc = self.prog.spark.sparkContext
        with tracer.span("pass") as pass_span:
            wall, _ = self.one_pass(tracer)
        if isinstance(self.wl, OsmEtl):
            self.osm_layer_probes(tracer)
        self.prog.stop()
        tracer.write(os.path.join(self.results_dir, self.stem + "-spans.jsonl"))
        (path,) = [os.path.join(evdir, f) for f in os.listdir(evdir) if not f.startswith(".")]
        return self.layer_metrics(tracer, eventlog.read(path), pass_span, wall, untraced_wall)

    def osm_layer_probes(self, tracer: Tracer) -> None:
        """Split the ETL by layer: each parse into a noop sink, then each
        shape over the persisted parse, and count the tag values the
        cleaning rules rewrote."""
        from pyspark.sql import functions as F

        spark, pl = self.prog.spark, self.prog.pipeline
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        self.values_rewritten = 0
        with tracer.span("probes"):
            for kind, shaper in (("node", pl.shape_nodes), ("way", pl.shape_ways)):
                with tracer.span("sources.osm.parse", kind=kind):
                    noop(self.prog.read_osm(spark, self.xml, kind))
                raw = self.prog.read_osm(spark, self.xml, kind).persist()
                with tracer.span("persist", kind=kind):
                    raw.count()
                with tracer.span("pipeline.shape", kind=kind):
                    shaped = shaper(raw)
                    for df in shaped.values():
                        noop(df)
                with tracer.span("cleaning.audit", kind=kind):
                    tags = shaped[f"{kind}s_tags"]
                    raw_key = F.when(F.col("type") == "regular", F.col("key")).otherwise(
                        F.concat_ws(":", "type", "key"))
                    before = raw.select(F.col("_id").alias("id"), F.explode("tag").alias("t")).select(
                        "id", F.col("t._k").alias("rk"), F.col("t._v").alias("rv"))
                    self.values_rewritten += (
                        tags.withColumn("rk", raw_key).join(before, ["id", "rk"])
                        .where(F.col("value") != F.col("rv")).count()
                    )
                raw.unpersist()

    def layer_metrics(self, tracer: Tracer, ev, pass_span, wall: float, untraced_wall: float) -> dict:
        spans = tracer.spans
        gid = tracer.group_id

        def subtree(s) -> list:
            out, todo = [], [s.id]
            while todo:
                i = todo.pop()
                out.append(spans[i])
                todo.extend(c.id for c in spans if c.parent == i)
            return out

        def groups(s) -> set[str]:
            return {gid(x) for x in subtree(s)}

        def named(name: str) -> list:
            return [s for s in spans if s.name == name]

        def child(s, name: str):
            return next(c for c in spans if c.parent == s.id and c.name == name)

        def floor(s) -> float:
            """The span's wall time during which none of its jobs ran."""
            return s.duration - covered(ev.job_intervals(groups(s)), s.start, s.end)

        tot = ev.total(groups(pass_span))
        ops = [s for s in named("op") if s.parent == pass_span.id]
        query_ops = ops if isinstance(self.wl, Catalog) else []
        builds = [child(o, "build") for o in query_ops]
        execs = [child(o, "exec") for o in query_ops]
        # blocking ops of the pass: each query, or run_pipeline plus each statement
        blocking = ops + named("pipeline.run_pipeline")
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update({
            "session.start_s": named("session.start")[0].duration,
            "plans.build_s": sum(s.duration for s in builds),
            "plans.exec_s": sum(s.duration for s in execs),
            "plans.jobs_at_build": sum(ev.total({gid(s)})["jobs"] for s in builds),
            "plans.jobs": sum(ev.total(groups(o))["jobs"] for o in query_ops),
            "plans.dedup.memo_builds": self.memo_builds if isinstance(self.wl, Catalog) else 0,
            "scheduler.floor_s": sum(floor(o) for o in blocking),
            "executor.tasks": tot["tasks"],
            "executor.run_s": tot["run_s"],
            "executor.cpu_s": tot["cpu_s"],
            "executor.gc_s": tot["gc_s"],
            "executor.failed_tasks": tot["failed_tasks"],
            "shuffle.write_bytes": tot["shuffle_write_bytes"],
            "shuffle.read_bytes": tot["shuffle_read_bytes"],
            "shuffle.fetch_wait_s": tot["fetch_wait_s"],
            "spill.bytes": tot["spill_bytes"],
            "python.boot_s": tot["python_boot_s"],
            "python.run_s": tot["python_run_s"],
            "python.bytes_sent": tot["python_bytes_sent"],
            "scan.input_bytes": tot["input_bytes"],
            "output.bytes": tot["output_bytes"],
            "trace.wall_s": wall,
            "trace.overhead_s": wall - untraced_wall,
        })
        if isinstance(self.wl, OsmEtl):
            (etl,) = named("pipeline.run_pipeline")
            parse = named("sources.osm.parse")
            shape = named("pipeline.shape")
            bytes_out = parquet_bytes(os.path.join(self.work, "out"))
            m.update({
                "sources.osm.parse_s": sum(s.duration for s in parse),
                "sources.osm.input_partitions": max(ev.total({gid(s)})["tasks"] for s in parse),
                "pipeline.shape_s": sum(s.duration for s in shape),
                "functions.cleaning.values_rewritten": self.values_rewritten,
                "pipeline.write_s": max(0.0, etl.duration - sum(s.duration for s in parse + shape)),
                "pipeline.bytes_out": bytes_out,
                "pipeline.rows_out": ev.total(groups(etl))["output_records"],
                "pipeline.etl_mb_per_s": self.xml_bytes / 1e6 / etl.duration,
                "pipeline.bytes_out_per_in": bytes_out / self.xml_bytes,
                "plans.osm_workload.sql_s": sum(s.duration for s in ops),
            })
        self.detail["per_op"] = {
            o.attrs["op"]: {
                "wall_s": o.duration,
                "self_s": self_time(o, spans),
                "build_s": child(o, "build").duration,
                "jobs_at_build": ev.total({gid(child(o, "build"))})["jobs"],
                "floor_s": floor(o),
                **ev.total(groups(o)),
            }
            for o in ops
        }
        return m

    # -- the whole run ----------------------------------------------------
    def execute(self) -> dict:
        self.results_dir = os.path.join(ROOT, ".perfbench", "results")
        os.makedirs(self.results_dir, exist_ok=True)
        self.stem = f"{self.args.workload}-seed{self.args.seed}-trace{self.args.trace}-{os.getpid()}"
        self.make_inputs()
        setup_s = self.setup()
        self.detail["warmups_s"] = warmups = []
        for i in range(self.wl.warmup_passes):
            t0 = time.perf_counter()
            if i == 0 and isinstance(self.wl, Catalog):
                self.catalog_check()
            else:
                self.one_pass(Tracer("warmup", False))
            warmups.append(time.perf_counter() - t0)
        walls, lats = self.timed_passes(self.args.seconds)
        if isinstance(self.wl, OsmEtl):
            self.osm_check()
        self.failed += self.check_failures
        pids = [os.getpid(), self.prog.jvm.pid]
        wall = median(walls)
        # each query's median over the passes, then the median over queries
        query_p50 = median([median(v) for v in self.per_query.values()])
        self.detail.update({
            "setup_s": setup_s, "walls_s": walls, "per_query_s": self.per_query,
            "query_samples": len(lats),
        })
        if len(lats) > 10:
            pct, value = tail(lats)
            self.detail["query_tail"] = {"percentile": pct, "value_s": value, "samples": len(lats)}
        if self.args.trace:
            metrics = self.traced(wall)
            units = PER_LAYER
        else:
            metrics = {"setup_s": setup_s, "wall_s": wall, "query_p50_s": query_p50}
            units = END_TO_END
        # recorded, not reported: it varies by about 20% from run to run
        # with the JVM's heap growth
        self.detail["peak_rss_mb"] = peak_rss_mb(pids)
        self.detail["metrics"] = metrics
        with open(os.path.join(self.results_dir, self.stem + ".json"), "w") as f:
            json.dump(self.detail, f, indent=1, default=str)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``; size the local
    master to half the CPUs this process may use. The other half runs
    the JVM's own threads (driver scheduler, JIT compiler, garbage
    collector) and the Python client: with a task thread on every CPU, a
    host that takes CPU time away stalls whichever thread a stage is
    waiting for, and the floor-bound queries' latency then measures the
    host's scheduler rather than the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the program's modules from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        prog = Program()
    except ImportError as e:
        log(f"cannot import the program from {ROOT}: {e}")
        return 2

    def give_up() -> None:
        log(f"still running after {DEADLINE_S} s; giving up")
        if prog.jvm is not None:
            prog.jvm.kill()
            prog.jvm.wait()
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, give_up)
    watchdog.daemon = True
    watchdog.start()
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        _prepare_env(work)
        run = Run(prog, args, work)
        result = run.execute()
    finally:
        prog.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        watchdog.cancel()
    log(json.dumps(run.detail.get("metrics", {})))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
