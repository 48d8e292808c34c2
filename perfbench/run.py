#!/usr/bin/env python3
"""Closed-loop benchmark of the dask_cuml_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One client thread drives one local Spark
session (``local[<cores>]``): set-up, a warm-up, then whole passes over
the workload's frozen query list (shuffled per pass by the seed) until
``--seconds`` have been measured. Every result is compared with its
DuckDB oracle after the timers. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see README.md). The command exits non-zero when any check fails.

Inputs are generated from the seed (fixture.py). Everything the run
writes stays under ``perfbench/_work`` (removed at exit) and
``perfbench/_out`` (records, spans and the layer table).
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, "_out")
WORK_ROOT = os.path.join(HERE, "_work")
WORKLOADS_FILE = os.path.join(HERE, "workloads.json")
RUN_LIMIT_S = 170

sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import fixture  # noqa: E402
import host  # noqa: E402
from spans import (  # noqa: E402
    JobCounter,
    Spans,
    catalyst_ms,
    event_log_file,
    read_event_log,
    spark_max_job_id,
)


def load_workloads() -> dict:
    with open(WORKLOADS_FILE) as f:
        return json.load(f)


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The seed's query order for one pass."""
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def configure_env(work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into the
    run's work directory, and size the session to this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # C1 only: in a fresh JVM per run, C2's compiler threads compete with
    # the task threads for the whole run and no pass reaches a steady
    # state; with C1 the second and later passes agree (README.md).
    # No perf-data file: HotSpot puts it in the system temp dir whatever
    # java.io.tmpdir says. The variable reaches spark-submit's launcher
    # JVM as well as the driver JVM.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -XX:-UsePerfData"
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def reap_children(timeout_s: float = 20.0) -> None:
    """Wait for every child process to end; terminate stragglers."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in host.tree_pids(me) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def as_pandas(result):
    import pandas as pd

    if isinstance(result, pd.DataFrame):
        return result
    return pd.DataFrame([r.asDict() for r in result])


def duckdb_over(data_dir: str):
    """DuckDB views over a data dir whose tables are files or part dirs."""
    import duckdb

    from dask_cuml_spark.io import TABLES, table_path

    con = duckdb.connect()
    for name in TABLES:
        path = table_path(data_dir, name)
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


class Bench:
    """One benchmark run: a session, its inputs, the timed loop and the
    checks. Records are appended to a JSONL file as they are produced."""

    def __init__(self, args, wl: dict, work: str) -> None:
        self.args = args
        self.wl = wl
        self.work = work
        self.data = os.path.join(work, "data")
        self.traced = bool(args.trace)
        self.spans = Spans()
        self.ops: list[dict] = []  # measured operations
        self.failures: list[str] = []
        self.results: dict[str, list] = {}
        self.layer: dict[str, float] = {}
        self.spark = None
        self.jobs = None
        os.makedirs(OUT_DIR, exist_ok=True)
        stem = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.stem = os.path.join(OUT_DIR, stem)
        self._rec = open(self.stem + ".jsonl", "w")
        self.run_span = self.spans.open(None, "run")

    def record(self, **rec) -> None:
        self._rec.write(json.dumps(rec) + "\n")
        self._rec.flush()

    def fail(self, what: str) -> None:
        self.failures.append(what)
        self.record(kind="failure", what=what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def group(self, g: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(g, g)

    # -- set-up --------------------------------------------------------

    def start(self) -> None:
        from dask_cuml_spark.session import get_spark

        conf = {"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}
        if self.traced:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.spans.add(self.run_span, "session.start", t0, time.perf_counter())
        self.group("setup")
        if self.traced:
            sc = self.spark.sparkContext
            self.jobs = JobCounter(lambda: spark_max_job_id(sc))

    def fill_cache(self) -> None:
        from dask_cuml_spark.io import enable_table_cache, load_table

        enable_table_cache(self.wl["table_cache"])
        t0 = time.perf_counter()
        for name in self.wl["tables"]:
            load_table(self.spark, self.data, name)
        self.layer["io.cache_fill_s"] = time.perf_counter() - t0
        self.spans.add(self.run_span, "io.cache_fill", t0, time.perf_counter())

    def provision(self) -> None:
        from dask_cuml_spark.layouts import ensure_layouts

        for name in self.wl.get("layouts", ()):
            t0 = time.perf_counter()
            ensure_layouts(self.spark, self.data, layouts=(name,))
            t1 = time.perf_counter()
            self.layer[f"layouts.provision_s.{name}"] = t1 - t0
            self.spans.add(self.run_span, f"layouts.provision.{name}", t0, t1)

    # -- timed operations ----------------------------------------------

    def query(self, name: str, fn, tag: str, parent: int) -> dict:
        """Construct, plan (traced only), materialize and release one
        query. Latency is construct + plan + materialize; the cache
        scope's exit is timed on its own."""
        from dask_cuml_spark.benchlib import materialize
        from dask_cuml_spark.plans.cost import scoped_caches

        rec = {"kind": "query", "name": name, "tag": tag}
        if self.traced:
            self.jobs.delta()  # jobs since the last step belong to no query
        scope = scoped_caches()
        scope.__enter__()
        t0 = time.perf_counter()
        ok = False
        try:
            self.group(f"{name}|construct|{tag}")
            df = fn(self.spark, self.data)
            t1 = time.perf_counter()
            if self.traced:
                rec["construct_jobs"] = self.jobs.delta()
                rec["catalyst_ms"] = catalyst_ms(df)
            t2 = time.perf_counter()
            self.group(f"{name}|execute|{tag}")
            result = as_pandas(materialize(df))
            t3 = time.perf_counter()
            if self.traced:
                rec["execute_jobs"] = self.jobs.delta()
            ok = True
        finally:
            self.group(f"{name}|release|{tag}")
            tr = time.perf_counter()
            scope.__exit__(*((None, None, None) if ok else sys.exc_info()))
            t4 = time.perf_counter()
            if self.traced:
                rec["release_jobs"] = self.jobs.delta()
        rec.update(
            construct_s=t1 - t0,
            plan_s=t2 - t1,
            materialize_s=t3 - t2,
            release_s=t4 - tr,
            latency_s=t3 - t0,
            wall_s=t4 - t0,
            rows=len(result),
        )
        q = self.spans.add(parent, f"query.{name}", t0, t4)
        self.spans.add(q, "construct", t0, t1)
        if self.traced:
            self.spans.add(q, "plan", t1, t2)
        self.spans.add(q, "execute", t2, t3)
        self.spans.add(q, "release", tr, t4)
        rec["result"] = result
        return rec

    def timed_query(self, name: str, fn, tag: str, parent: int):
        """query() with failure isolation; measured ops are recorded."""
        try:
            rec = self.query(name, fn, tag, parent)
        except Exception as exc:  # noqa: BLE001 — one failed op must not end the run
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{name} [{tag}]: {type(exc).__name__}: {exc}"[:400])
            if tag.startswith("p"):
                self.ops.append({"kind": "query", "name": name, "tag": tag, "ok": False})
            return None
        result = rec.pop("result")
        rec["ok"] = True
        if tag.startswith("p"):
            self.ops.append(rec)
            self.results.setdefault(name, []).append(result)
        self.record(**rec)
        return result

    # -- workloads -----------------------------------------------------

    def query_fns(self) -> dict:
        import dask_cuml_spark.queries  # noqa: F401 — populate the registry
        from dask_cuml_spark.registry import QUERIES

        fns = {n: QUERIES[n] for n in self.wl.get("queries", ())}
        if self.wl.get("serving"):
            from dask_cuml_spark.queries.vector import SERVING_TOPK

            fns.update({f"serve.{n}": SERVING_TOPK[n][0] for n in self.wl["serving"]})
        return fns

    def warm_up(self, fns: dict) -> dict:
        """One untimed pass in the seed's order, so that no measured query
        is its first execution in the process. Returns the results."""
        return {
            name: self.timed_query(name, fns[name], "warm", self.run_span)
            for name in pass_order(sorted(fns), self.args.seed, -1)
        }

    def run_passes(self, fns: dict, seconds: float) -> None:
        """A warm-up pass, then whole passes in the seed's order until at
        least ``seconds`` and ``min_passes`` passes have been measured."""
        names = sorted(fns)
        self.warm_up(fns)
        self.setup_s = time.perf_counter() - _T_PROCESS
        start = time.perf_counter()
        p = 0
        while p < self.wl["min_passes"] or time.perf_counter() - start < seconds:
            ps = self.spans.open(self.run_span, f"pass.{p}")
            for name in pass_order(names, self.args.seed, p):
                self.timed_query(name, fns[name], f"p{p}", ps)
            self.spans.close(ps)
            p += 1
        self.passes = p

    def run_ingest(self, fns: dict, seconds: float) -> None:
        """A warm-up pass over the reads, then whole rounds until
        ``seconds`` have been measured. A round streams one micro-batch,
        then serves ``read_passes`` passes over the reads in the seed's
        order. Staging the batch's input and the checks run outside the
        timed operations."""
        from dask_cuml_spark.streaming.ingest import synth_staging_files

        next_id = fixture.N_DOCS
        names = sorted(fns)
        rows = self.wl["rows_per_batch"]
        self.check_reads(self.warm_up(fns), "warm")
        self.setup_s = time.perf_counter() - _T_PROCESS
        start = time.perf_counter()
        rnd = 0
        while rnd == 0 or time.perf_counter() - start < seconds:
            tag = f"p{rnd}"
            staging = os.path.join(self.work, "staging", f"r{rnd}")
            synth_staging_files(staging, 1, rows, start_doc_id=next_id)
            next_id += rows
            rs = self.spans.open(self.run_span, f"round.{rnd}")
            self.batch(staging, rnd, tag, rs)
            self.check_layouts(tag)
            for k in range(self.wl["read_passes"]):
                served = {
                    name: self.timed_query(name, fns[name], tag, rs)
                    for name in pass_order(names, self.args.seed, rnd * 100 + k)
                }
                self.check_reads(served, tag)
            self.spans.close(rs)
            rnd += 1
        self.passes = rnd

    def batch(self, staging: str, rnd: int, tag: str, parent: int) -> None:
        from dask_cuml_spark.streaming.ingest import run_ingest_stream

        layouts = tuple(self.wl["layouts"])
        self.group(f"ingest|batch|{tag}")
        if self.traced:
            self.jobs.delta()
        epoch0 = time.time()
        t0 = time.perf_counter()
        try:
            stats = run_ingest_stream(
                self.spark,
                self.data,
                staging,
                os.path.join(self.work, "ckpt", f"r{rnd}"),
                layouts=layouts,
            )
        except Exception as exc:  # noqa: BLE001 — record and go on
            traceback.print_exc(file=sys.stderr)
            self.fail(f"ingest batch {rnd}: {type(exc).__name__}: {exc}"[:400])
            stats = []
        t1 = time.perf_counter()
        if len(stats) != 1:
            if stats:
                self.fail(f"ingest batch {rnd}: {len(stats)} micro-batches, expected 1")
            if tag.startswith("p"):
                self.ops.append({"kind": "batch", "tag": tag, "ok": False})
            return
        s = stats[0]
        refresh = {k: float(v) for k, v in s["refresh_sec"].items()}
        rec = {
            "kind": "batch",
            "tag": tag,
            "ok": True,
            "rows": s["rows"],
            "wall_s": t1 - t0,
            "append_s": float(s["append_sec"]),
            "refresh_s": refresh,
            "overhead_s": t1 - t0 - float(s["append_sec"]) - sum(refresh.values()),
            "epoch_s": [epoch0, epoch0 + t1 - t0],
        }
        if self.traced:
            rec["jobs"] = self.jobs.delta()
        b = self.spans.add(parent, "ingest.batch", t0, t1)
        # the stream reports its own append/refresh durations; they are
        # laid end to end after the stream's start-up share
        cur = t0 + rec["overhead_s"]
        self.spans.add(b, "streaming.append", cur, cur + rec["append_s"])
        cur += rec["append_s"]
        for name, sec in refresh.items():
            self.spans.add(b, f"layouts.refresh.{name}", cur, cur + sec)
            cur += sec
        if tag.startswith("p"):
            self.ops.append(rec)
        self.record(**rec)

    # -- checks (outside every timer) ----------------------------------

    def check_layouts(self, tag: str) -> None:
        """Each served layout's tables exist under the corpus's current
        fingerprint, so no read falls back to the plain branch."""
        from dask_cuml_spark.queries.text import _cms_tables, _gram_table
        from dask_cuml_spark.queries.vector import _sig_tables

        tables = {
            "grams": lambda d: (_gram_table(d),),
            "signs": _sig_tables,
            "cms": _cms_tables,
        }
        for name in self.wl["layouts"]:
            for t in tables[name](self.data):
                if not self.spark.catalog.tableExists(t):
                    self.fail(f"layout {name} [{tag}]: table {t} missing after the batch")

    def check_reads(self, served: dict, tag: str) -> None:
        from dask_cuml_spark.oracle import compare
        from dask_cuml_spark.queries.vector import SERVING_TOPK
        from dask_cuml_spark.registry import ORACLES

        con = duckdb_over(self.data)
        try:
            for name, pdf in served.items():
                if pdf is None:
                    continue
                if name.startswith("serve."):
                    _fn, _ly, nq, k, _floor = SERVING_TOPK[name[len("serve.") :]]
                    dups = pdf.duplicated(["query_id", "neighbor_id"]).sum()
                    if len(pdf) != nq * k or dups:
                        self.fail(f"{name} [{tag}]: {len(pdf)} rows, {dups} duplicates")
                    continue
                ok, rep = compare(pdf, con.execute(ORACLES[name]).df())
                if not ok:
                    self.fail(f"{name} [{tag}]: {rep}"[:400])
        finally:
            con.close()

    def check_results(self) -> None:
        """Every measured result equals its DuckDB oracle."""
        from dask_cuml_spark.oracle import compare
        from dask_cuml_spark.registry import ORACLES

        con = duckdb_over(self.data)
        try:
            for name, pdfs in sorted(self.results.items()):
                want = con.execute(ORACLES[name]).df()
                for i, pdf in enumerate(pdfs):
                    ok, rep = compare(pdf, want)
                    if not ok:
                        self.fail(f"{name} [result {i}]: {rep}"[:400])
        finally:
            con.close()

    def check_ingest_end(self) -> None:
        """Stored grams equal a fresh derivation over the grown corpus;
        the ANN serving surfaces pass their certification."""
        import dask_cuml_spark.queries.text as T
        from dask_cuml_spark.io import load_table
        from dask_cuml_spark.queries.vector import SERVING_TOPK, _serving_certify

        self.group("check")
        stored = self.spark.table(T._gram_table(self.data))
        fresh = T._positioned_grams(self.spark, self.data)
        n_stored, n_fresh = stored.count(), fresh.count()
        diff = stored.exceptAll(fresh).count() + fresh.exceptAll(stored).count()
        if n_stored != n_fresh or diff or not n_stored:
            self.fail(f"grams: stored {n_stored} rows, fresh {n_fresh}, {diff} differ")
        e = load_table(self.spark, self.data, "embeddings").select("vec_id", "embedding")
        for name in self.wl.get("serving", ()):
            fn, _ly, nq, k, floor = SERVING_TOPK[name]
            c = _serving_certify(self.spark, e, fn(self.spark, self.data), nq, k, floor).collect()[0]
            if not (
                c.n_queries == nq
                and c.n_results == nq * k
                and c.n_dup_pairs == 0
                and c.n_rank_violations == 0
                and c.recall_ok == 1
            ):
                self.fail(f"serve.{name}: certification {c.asDict()}")

    # -- metrics -------------------------------------------------------

    def median_walls(self) -> tuple[dict[str, float], dict[str, float]]:
        """Per operation name (each query; ``ingest.batch``): the median
        wall and the median latency over its measured runs."""
        walls: dict[str, list[float]] = {}
        lats: dict[str, list[float]] = {}
        for o in self.ops:
            if not o["ok"]:
                continue
            name = o["name"] if o["kind"] == "query" else "ingest.batch"
            walls.setdefault(name, []).append(o["wall_s"])
            if o["kind"] == "query":
                lats.setdefault(name, []).append(o["latency_s"])
        med = statistics.median
        return (
            {k: med(v) for k, v in walls.items()},
            {k: med(v) for k, v in lats.items()},
        )

    def end_to_end(self, peak_mem: int) -> dict[str, tuple[float, str]]:
        """Throughput and latency at the workload's mix, each operation at
        its median over the run's measured (post-warm-up) samples. A pass
        or round runs every query ``read_passes`` times (1 on a plain pass)
        and the micro-batch, if any, once."""
        walls, lats = self.median_walls()
        k = self.wl.get("read_passes", 1)
        round_s = k * sum(walls[n] for n in lats) + walls.get("ingest.batch", 0.0)
        return {
            "setup_s": (self.setup_s, "s"),
            "queries_per_min": (60.0 * k * len(lats) / round_s, "1/min"),
            "query_p50_s": (statistics.median(lats.values()), "s"),
            "peak_pss_mb": (peak_mem / 2**20, "MB"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        queries = [o for o in self.ops if o["kind"] == "query" and o["ok"]]
        batches = [o for o in self.ops if o["kind"] == "batch" and o["ok"]]
        nq, nops = max(len(queries), 1), max(len(queries) + len(batches), 1)

        def per_query(key):
            return sum(o[key] for o in queries) / nq

        ev = read_event_log(event_log_file(self.event_dir))

        def is_measured(g, v):
            if "|" in g:
                return g.split("|")[-1].startswith("p")
            # a streaming query runs its jobs under its own run id
            return any(
                lo <= v.get("first_submit_s", -1.0) <= hi
                for lo, hi in (b["epoch_s"] for b in batches)
            )

        measured = {g: v for g, v in ev.items() if is_measured(g, v)}

        def total(key):
            return sum(v.get(key, 0.0) for v in measured.values())

        exec_job_wall = sum(
            v.get("job_wall_s", 0.0) for g, v in measured.items() if "|execute|" in g
        )
        out = {
            "queries.construct_s": (per_query("construct_s"), "s/query"),
            "queries.construct_jobs": (per_query("construct_jobs"), "jobs/query"),
        }
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_s"] = (
                sum(o["catalyst_ms"][phase] for o in queries) / 1e3 / nq,
                "s/query",
            )
        out.update(
            {
                "spark.jobs": (total("jobs") / nops, "count/op"),
                "spark.stages": (total("stages") / nops, "count/op"),
                "spark.tasks": (total("tasks") / nops, "count/op"),
                "spark.task_cpu_s": (total("cpu_ns") / 1e9 / nops, "s/op"),
                "spark.gc_s": (total("gc_ms") / 1e3 / nops, "s/op"),
                "spark.shuffle_read_mb": (total("shuffle_read_bytes") / 2**20 / nops, "MB/op"),
                "spark.shuffle_write_mb": (total("shuffle_write_bytes") / 2**20 / nops, "MB/op"),
                "spark.spill_mb": (total("spill_bytes") / 2**20 / nops, "MB/op"),
                "python.worker_run_s": (total("py_run_ms") / 1e3 / nops, "s/op"),
                "python.worker_boot_s": (total("py_boot_ms") / 1e3 / nops, "s/op"),
                "python.data_sent_mb": (total("py_sent_bytes") / 2**20 / nops, "MB/op"),
                "benchlib.materialize_s": (per_query("materialize_s"), "s/query"),
                "benchlib.arrow_s": (
                    max(sum(o["materialize_s"] for o in queries) - exec_job_wall, 0.0) / nq,
                    "s/query",
                ),
                "benchlib.result_rows": (per_query("rows"), "rows/query"),
                "plans.scope_release_s": (per_query("release_s"), "s/query"),
                "session.start_s": (self.layer["session.start_s"], "s"),
                "io.cache_fill_s": (self.layer["io.cache_fill_s"], "s"),
            }
        )
        nb = max(len(batches), 1)
        for name in INGEST_LAYOUTS:
            out[f"layouts.provision_s.{name}"] = (
                self.layer.get(f"layouts.provision_s.{name}", 0.0),
                "s",
            )
            out[f"layouts.refresh_s.{name}"] = (
                sum(b["refresh_s"].get(name, 0.0) for b in batches) / nb,
                "s/batch",
            )
        out["streaming.append_s"] = (sum(b["append_s"] for b in batches) / nb, "s/batch")
        out["streaming.overhead_s"] = (sum(b["overhead_s"] for b in batches) / nb, "s/batch")
        out["streaming.batch_p50_s"] = (
            statistics.median([b["wall_s"] for b in batches]) if batches else 0.0,
            "s/batch",
        )
        return out

    def write_layer_table(self) -> None:
        """Per query: construct / plan / execute / release means and job
        counts, ranked by construction share of the query's latency."""
        by: dict[str, list[dict]] = {}
        for o in self.ops:
            if o["kind"] == "query" and o["ok"]:
                by.setdefault(o["name"], []).append(o)
        rows = []
        for name, os_ in by.items():
            n = len(os_)

            def m(k, os_=os_, n=n):
                return sum(o[k] for o in os_) / n

            lat = m("latency_s")
            rows.append(
                {
                    "query": name,
                    "n": n,
                    "construct_s": m("construct_s"),
                    "plan_s": m("plan_s"),
                    "execute_s": m("materialize_s"),
                    "release_s": m("release_s"),
                    "construct_jobs": m("construct_jobs"),
                    "execute_jobs": m("execute_jobs"),
                    "rows": m("rows"),
                    "construct_share": m("construct_s") / lat if lat else 0.0,
                }
            )
        rows.sort(key=lambda r: (-r["construct_share"], r["query"]))
        head = (
            "| query | n | construct s | plan s | execute s | release s "
            "| construct jobs | execute jobs | rows | construct share |\n"
            "|---|---|---|---|---|---|---|---|---|---|\n"
        )
        with open(self.stem + "-layers.md", "w") as f:
            f.write(head)
            for r in rows:
                f.write(
                    f"| {r['query']} | {r['n']} | {r['construct_s']:.3f} | {r['plan_s']:.3f} "
                    f"| {r['execute_s']:.3f} | {r['release_s']:.4f} | {r['construct_jobs']:.1f} "
                    f"| {r['execute_jobs']:.1f} | {r['rows']:.0f} | {r['construct_share']:.2f} |\n"
                )


INGEST_LAYOUTS = ("grams", "signs", "cms")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_workloads()
    wl = spec["workloads"].get(args.workload)
    if wl is None:
        print(
            f"perfbench: unknown workload {args.workload!r}; "
            f"choose one of {sorted(spec['workloads'])}",
            file=sys.stderr,
        )
        return 2
    try:
        import dask_cuml_spark  # noqa: F401
    except ImportError as exc:
        print(
            f"perfbench: the engine package is not importable ({exc}); "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(RUN_LIMIT_S)

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    steal0, speed0 = host.cpu_jiffies(), host.calibration_s()
    bench = Bench(args, wl, work)
    try:
        with host.MemSampler() as mem:
            try:
                fixture.write(
                    bench.data,
                    spec["sf"],
                    args.seed,
                    part_dirs=("documents", "embeddings") if wl["kind"] == "ingest" else (),
                )
                bench.start()
                bench.fill_cache()
                bench.provision()
                fns = bench.query_fns()
                if wl["kind"] == "ingest":
                    bench.run_ingest(fns, args.seconds)
                    bench.check_ingest_end()
                else:
                    bench.run_passes(fns, args.seconds)
                    bench.check_results()
            finally:
                if bench.spark is not None:
                    stop_spark(bench.spark)
                reap_children()
        steal1, speed1 = host.cpu_jiffies(), host.calibration_s()
        e2e = bench.end_to_end(mem.peak_bytes)
        if args.trace:
            metrics = bench.per_layer()
            metrics["host.steal_pct"] = (host.steal_pct(steal0, steal1), "%")
            metrics["host.speed_idx"] = (2.0 / (speed0 + speed1), "1/s")
            metrics["trace.queries_per_min"] = e2e["queries_per_min"]
            bench.write_layer_table()
            bench.spans.close(bench.run_span)
            bench.spans.dump(bench.stem + "-spans.jsonl")
        else:
            metrics = e2e
        bench.record(
            kind="summary",
            workload=args.workload,
            seed=args.seed,
            trace=args.trace,
            passes=bench.passes,
            samples=sum(1 for o in bench.ops if o["kind"] == "query"),
            session={
                "cores": os.environ["SPARK_GRAFT_CPUS"],
                "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            },
            host={
                "steal_pct": host.steal_pct(steal0, steal1),
                "calibration_s": [speed0, speed1],
            },
            metrics={k: v for k, (v, _u) in metrics.items()},
            failures=bench.failures,
        )
    finally:
        signal.alarm(0)
        bench._rec.close()
        shutil.rmtree(work, ignore_errors=True)

    attempted = max(len(bench.ops), 1)
    # failed ops and wrong results alike; one result checked per op
    failed = min(len(bench.failures), attempted)
    correct = not bench.failures
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
