"""Self-tests of the benchmark harness. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import fixture  # noqa: E402
import run  # noqa: E402
from spans import JobCounter, Spans, covered, read_event_log  # noqa: E402


@pytest.fixture(scope="module")
def spec():
    return run.load_workloads()


@pytest.fixture(scope="module")
def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b


def test_frozen_lists_registered_disjoint_non_streaming(spec):
    import dask_cuml_spark.queries  # noqa: F401
    from dask_cuml_spark.queries.vector import SERVING_TOPK
    from dask_cuml_spark.registry import ORACLES, QUERIES

    seen: dict[str, str] = {}
    for wname, wl in spec["workloads"].items():
        for q in wl["queries"]:
            assert q in QUERIES, (wname, q)
            assert q in ORACLES, (wname, q)  # every result is oracle-checked
            assert QUERIES[q].__module__.split(".")[-1] != "streaming_queries", q
            assert q not in seen, (q, seen.get(q), wname)
            seen[q] = wname
        for q in wl.get("serving", ()):
            assert q in SERVING_TOPK, q


def test_workloads_match_benchmark_json(spec, declared):
    assert sorted(w["name"] for w in declared["workloads"]) == sorted(spec["workloads"])
    # per-layer metric names are the same on every workload
    for wl in spec["workloads"].values():
        assert set(wl.get("layouts", ())) <= set(run.INGEST_LAYOUTS)


def _fake_bench(tmp_path, monkeypatch, trace: int, read_passes: int = 2):
    monkeypatch.setattr(run, "OUT_DIR", str(tmp_path / "out"))
    args = SimpleNamespace(workload="w", seed=3, seconds=1, trace=trace)
    wl = {
        "kind": "ingest",
        "table_cache": False,
        "layouts": list(run.INGEST_LAYOUTS),
        "read_passes": read_passes,
    }
    b = run.Bench(args, wl, str(tmp_path / "work"))
    q = {
        "kind": "query",
        "name": "q",
        "tag": "p0",
        "ok": True,
        "construct_s": 0.2,
        "plan_s": 0.01,
        "materialize_s": 0.3,
        "release_s": 0.001,
        "latency_s": 0.51,
        "wall_s": 0.511,
        "rows": 10,
        "construct_jobs": 2,
        "execute_jobs": 1,
        "catalyst_ms": {"analysis": 1, "optimization": 2, "planning": 3},
    }
    batch = {
        "kind": "batch",
        "tag": "p0",
        "ok": True,
        "wall_s": 2.0,
        "append_s": 0.1,
        "refresh_s": {n: 0.2 for n in run.INGEST_LAYOUTS},
        "overhead_s": 0.9,
        "epoch_s": [0.5, 2.5],
    }
    b.ops = [q, dict(q, name="r"), batch]
    b.setup_s = 5.0
    b.layer = {"session.start_s": 1.0, "io.cache_fill_s": 0.0}
    b.layer.update({f"layouts.provision_s.{n}": 1.0 for n in run.INGEST_LAYOUTS})
    b.event_dir = str(tmp_path / "ev")
    os.makedirs(os.path.join(b.event_dir, "eventlog_v2_local-1"))
    with open(os.path.join(b.event_dir, "eventlog_v2_local-1", "events_1_local-1"), "w") as f:
        # the micro-batch's jobs run under the streaming query's run id
        evs = _events("q|execute|p0") + _events("3f2a-run-id", 1) + _events("q|execute|warm", 2)
        for ev in evs:
            f.write(json.dumps(ev) + "\n")
    return b


def _events(group, job=0):
    """One job of one stage and one task, submitted at epoch 1.0 s."""
    return [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": job,
            "Submission Time": 1000,
            "Stage IDs": [job],
            "Properties": {"spark.jobGroup.id": group},
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": job,
            "Task Info": {
                "Accumulables": [
                    {"Name": "time to run Python workers", "Update": "250"},
                    {"Name": "data sent to Python workers", "Update": "1048576"},
                ]
            },
            "Task Metrics": {
                "Executor CPU Time": 2_000_000_000,
                "JVM GC Time": 40,
                "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2**20},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**21},
            },
        },
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": job}},
        {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": 1400},
    ]


@pytest.mark.parametrize("trace", [0, 1])
def test_every_printed_metric_is_declared(tmp_path, monkeypatch, declared, trace):
    b = _fake_bench(tmp_path, monkeypatch, trace)
    if trace:
        got = b.per_layer()
        for k in ("host.steal_pct", "host.speed_idx", "trace.queries_per_min"):
            got[k] = (1.0, "x")
        want = declared["per_layer"]
    else:
        got = b.end_to_end(2**30)
        want = declared["end_to_end"]
    assert sorted(got) == sorted(m["name"] for m in want)
    units = {m["name"]: m["unit"] for m in want}
    for name, (value, unit) in got.items():
        assert isinstance(value, float), name
        if not name.startswith(("host.", "trace.")):
            assert unit == units[name], name


@pytest.mark.parametrize("read_passes", [1, 2])
def test_end_to_end_values(tmp_path, monkeypatch, read_passes):
    m = _fake_bench(tmp_path, monkeypatch, 0, read_passes).end_to_end(3 * 2**20)
    # a round: the 2.0 s batch once, then both 0.511 s queries read_passes times
    round_s = read_passes * (0.511 + 0.511) + 2.0
    assert m["queries_per_min"][0] == pytest.approx(60 * 2 * read_passes / round_s)
    assert m["query_p50_s"][0] == pytest.approx(0.51)
    assert m["peak_pss_mb"][0] == pytest.approx(3.0)


def test_per_layer_reads_event_log(tmp_path, monkeypatch):
    m = _fake_bench(tmp_path, monkeypatch, 1).per_layer()
    # the execute job and the stream's job count, the warm-up's does not
    assert m["spark.jobs"][0] == pytest.approx(2 / 3)
    assert m["spark.task_cpu_s"][0] == pytest.approx(4.0 / 3)
    assert m["python.worker_run_s"][0] == pytest.approx(0.5 / 3)
    assert m["spark.shuffle_write_mb"][0] == pytest.approx(4.0 / 3)
    # materialize 0.3 s per query minus 0.4 s of execute-job wall
    assert m["benchlib.arrow_s"][0] == pytest.approx((0.6 - 0.4) / 2)
    assert m["layouts.refresh_s.cms"][0] == pytest.approx(0.2)


def test_event_log_groups(tmp_path):
    p = tmp_path / "events"
    p.write_text("\n".join(json.dumps(e) for e in _events("g|execute|p1")) + "\n")
    g = read_event_log(str(p))["g|execute|p1"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 1, 1)
    assert g["job_wall_s"] == pytest.approx(0.4)
    assert g["gc_ms"] == 40


def test_span_self_time():
    s = Spans()
    root = s.add(None, "query", 0.0, 10.0)
    s.add(root, "construct", 0.0, 4.0)
    s.add(root, "execute", 3.0, 6.0)  # overlaps construct by 1
    s.add(root, "release", 9.0, 12.0)  # sticks out past the parent
    leaf = s.add(2, "inner", 3.5, 4.5)
    selfs = s.self_times()
    assert selfs[root] == pytest.approx(10.0 - 6.0 - 1.0)
    assert selfs[2] == pytest.approx(3.0 - 1.0)
    assert selfs[leaf] == pytest.approx(1.0)
    assert covered(s.spans[root], []) == 0.0


class FakeTracker:
    """Keeps only the last ``retained`` job ids, like Spark's status store."""

    def __init__(self, retained: int) -> None:
        self.retained = retained
        self.ids: list[int] = []

    def run_jobs(self, n: int) -> None:
        start = self.ids[-1] + 1 if self.ids else 0
        self.ids = (self.ids + list(range(start, start + n)))[-self.retained :]

    def getJobIdsForGroup(self, group=None):
        return list(reversed(self.ids))


def test_job_delta_survives_retained_jobs_clamp():
    t = FakeTracker(retained=1000)
    t.run_jobs(990)
    counter = JobCounter(lambda: max(t.getJobIdsForGroup(None), default=-1))
    before = len(t.getJobIdsForGroup(None))
    t.run_jobs(25)
    assert len(t.getJobIdsForGroup(None)) - before == 10  # the clamped count
    assert counter.delta() == 25
    t.run_jobs(1500)
    assert counter.delta() == 1500
    assert counter.delta() == 0


def test_fixture_is_deterministic_and_shaped():
    a = fixture.tables(0.001, seed=5)
    b = fixture.tables(0.001, seed=5)
    c = fixture.tables(0.001, seed=6)
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000
    assert a["documents"].num_rows == fixture.N_DOCS
    import numpy as np

    emb = np.stack(a["embeddings"].column("embedding").to_numpy(zero_copy_only=False))
    assert np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-5)


def test_pass_order_is_seeded():
    names = [f"q{i}" for i in range(20)]
    assert run.pass_order(names, 1, 0) == run.pass_order(names, 1, 0)
    assert run.pass_order(names, 1, 0) != run.pass_order(names, 2, 0)
    assert sorted(run.pass_order(names, 1, 3)) == sorted(names)


def test_run_writes_only_inside_the_checkout(tmp_path, monkeypatch):
    """Every location a run writes (generated inputs, warehouse, Python
    and JVM temp dirs, Spark local dirs, records) sits under the
    benchmark's own directory, so the shared fixture tables and the rest
    of the host are never touched."""
    for k in ("TMPDIR", "SPARK_LOCAL_DIRS", "PYTHONPATH", "JAVA_TOOL_OPTIONS"):
        monkeypatch.delenv(k, raising=False)
    # an inherited session size does not reach the run
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "64")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "32g")
    monkeypatch.setattr(run.tempfile, "tempdir", None)
    work = os.path.join(run.WORK_ROOT, "selftest")
    try:
        run.configure_env(work)
        tmp = os.environ["TMPDIR"]
        args = SimpleNamespace(workload="ingest_serve", seed=1, seconds=1, trace=0)
        b = run.Bench(args, {"kind": "ingest"}, work)
        b._rec.close()
        os.remove(b.stem + ".jsonl")
        java_tmp = os.environ["JAVA_TOOL_OPTIONS"].split("java.io.tmpdir=")[1].split()[0]
        for path in (tmp, os.environ["SPARK_LOCAL_DIRS"], java_tmp, b.data, run.OUT_DIR):
            assert os.path.realpath(path).startswith(os.path.realpath(run.HERE) + os.sep), path
        assert run.tempfile.gettempdir() == tmp
        assert os.environ["SPARK_GRAFT_CPUS"] == str(len(os.sched_getaffinity(0)))
        assert os.environ["SPARK_DRIVER_MEMORY"] == "1g"
    finally:
        import shutil

        shutil.rmtree(work, ignore_errors=True)
