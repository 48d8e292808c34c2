"""Every size gate lives in ``plans/cost.py``: no other module holds a
byte threshold or compares a size measure itself, and each gate's side
on the three fixtures is pinned."""

from __future__ import annotations

import ast
import pathlib

import pytest

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "dask_cuml_spark"
COST = "plans/cost.py"
MEASURES = {"source_size_bytes", "plan_size_bytes"}


def _gate_sites(path: pathlib.Path) -> list[tuple[int, str]]:
    """(line, what) of every *_BYTES constant defined and every
    comparison that involves a size measure's result."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            targets = []
        for t in targets:
            if isinstance(t, ast.Name) and t.id.endswith("_BYTES"):
                out.append((node.lineno, t.id))
        if isinstance(node, ast.Compare):
            for sub in ast.walk(node):
                if not isinstance(sub, ast.Call):
                    continue
                f = sub.func
                name = getattr(f, "id", getattr(f, "attr", None))
                if name in MEASURES:
                    out.append((node.lineno, f"compares {name}()"))
    return out


def test_no_size_gate_outside_the_cost_module():
    offenders = []
    for p in sorted(PACKAGE.rglob("*.py")):
        rel = p.relative_to(PACKAGE).as_posix()
        if rel != COST:
            offenders += [(rel, *site) for site in _gate_sites(p)]
    assert not offenders, offenders
    # the guard sees the gates where they live
    assert len(_gate_sites(PACKAGE / COST)) >= 20


#: each gate's side, the same as the comparisons the gates replaced
SOURCE_SIDES = {
    "embeddings_strategy": "expr",
    "pin_exploded_documents": True,
    "q02_direct_join": True,
    "q02_broadcast_customer": True,
    "layout_write_shuffles orders": True,
    "layout_write_shuffles lineitem": True,
    "state_partitions events": 4,
    "state_partitions documents": 4,
}
PLAN_SIDES = {
    "sf0.001": {"centers_strategy k=80": "expr"},
    "sf0.01": {"centers_strategy k=80": "expr"},
    "sf0.1": {"centers_strategy k=80": "gemm"},
}
PLAN_SIDES_ALL = {
    "persist_for_reuse cached": True,
    "one_aggregate_percentile": True,
    "knn_strategy": "expr",
    "centers_strategy k=8": "expr",
    "centers_strategy k=16": "expr",
    "ivf_search_strategy": "expr",
    "broadcast_b": True,
}


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_gate_sides_on_the_fixtures(spark, sf):
    """No job runs: source gates list files, plan gates read Catalyst's
    estimate of uncached scans."""
    from dask_cuml_spark.benchlib import max_job_id
    from dask_cuml_spark.io import _load_table_uncached
    from dask_cuml_spark.plans import cost

    d = f"/root/testdata/{sf}"
    j0 = max_job_id(spark)
    source = {
        "embeddings_strategy": cost.embeddings_strategy(d),
        "pin_exploded_documents": cost.pin_exploded_documents(d),
        "q02_direct_join": cost.q02_direct_join(d),
        "q02_broadcast_customer": cost.q02_broadcast_customer(d),
    }
    for t in ("orders", "lineitem"):
        source[f"layout_write_shuffles {t}"] = cost.layout_write_shuffles(
            d, t
        )
    for t in ("events", "documents"):
        source[f"state_partitions {t}"] = cost.state_partitions(d, t)
    assert source == SOURCE_SIDES

    e = _load_table_uncached(spark, d, "embeddings").select(
        "vec_id", "embedding"
    )
    price = _load_table_uncached(spark, d, "orders").select("o_totalprice")
    docs = _load_table_uncached(spark, d, "documents")
    reused = cost.persist_for_reuse(docs)
    plan = {
        "persist_for_reuse cached": reused.is_cached,
        "one_aggregate_percentile": cost.one_aggregate_percentile(price),
        "knn_strategy": cost.knn_strategy(e),
        "ivf_search_strategy": cost.ivf_search_strategy(e),
        "broadcast_b": cost.broadcast_b(e),
    }
    reused.unpersist()
    for k in (8, 16, 80):
        plan[f"centers_strategy k={k}"] = cost.centers_strategy(e, k)
    assert plan == {**PLAN_SIDES_ALL, **PLAN_SIDES[sf]}
    assert max_job_id(spark) == j0


def test_layout_buckets_follow_the_session_shuffle_partitions(spark):
    """Stored layouts are bucketed at the session's shuffle partition
    count (the cores locally, the data-sized rule at big factors), read
    from the conf: no job, no knob of its own."""
    from dask_cuml_spark.benchlib import max_job_id
    from dask_cuml_spark.plans import cost

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    j0 = max_job_id(spark)
    assert cost.layout_buckets(spark) == int(saved) == 8
    try:
        spark.conf.set(key, "128")
        assert cost.layout_buckets(spark) == 128
    finally:
        spark.conf.set(key, saved)
    assert max_job_id(spark) == j0
