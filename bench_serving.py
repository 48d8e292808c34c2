#!/usr/bin/env python
"""Serving-only scale rows for the three quantized ANN shapes
(q138 PQ/ADC, q141 IVF-PQ, q145 binary sign-hash) — r13 verdict
task 3.

The end-to-end SCALEBENCH rows for these queries time the WHOLE
registered query, which deliberately carries its own certification:
an eager exact-GEMM brute-force baseline plus the _ann_invariants
report, run inside the same action as the search. That is the right
shape for the correctness gate and the wrong shape for a serving
claim — a deployed index never recomputes an exact baseline per
request. This script measures the claim the serving stack actually
makes:

  provision the stored layouts ONCE (ensure_layouts 'pq' + 'signs',
  timed separately — the FAISS add()/train() cost), then time ONLY
  the search path (queries/vector.py serving surfaces: stored-layout
  scan → shortlist → exact re-rank → collect top-k), min-of-3 with a
  JVM GC between runs (the bench_layouts protocol). The invariant
  certification (exact baseline + _ann_invariants — the very checks
  the registered query performs) runs AFTER the timers and must be
  all-green for the row to be recorded.

No DuckDB column: the registered oracles for these queries are
constant invariant rows (codebooks/planes are data-derived), so there
is no comparable SQL to time — the reconciliation target is the
isolated kernel A/B records in PLANS.md (ADC 1.01 s, Hamming 1.10 s
at 1000×) plus the polluted end-to-end rows these serving rows
replace.

Usage: SPARK_DRIVER_MEMORY=24g python bench_serving.py [factor]
       (default 1000; --only=q138_pq_adc_search,... to subset)
Results merge into SCALEBENCH.json under "serving_{factor}x".

--held-recall (r14 verdict task 3): the fixed-shortlist rows above are
the SHORTLIST-COST FLOOR — at 1000x their recall@5 decays to 0.04-0.18
because nobody scaled the operating point with the corpus. This mode
measures the row a production deployment would serve: compute the
exact top-k baseline ONCE (auto-strategy GEMM kNN, localCheckpointed),
binary-search the smallest shortlist whose recall@5 >= 0.5 (for IVF-PQ,
doubling nprobe outward when the probed cells cap the ceiling), then
time the search path min-of-3 AT that operating point. Rows merge under
"serving_held_{factor}x" with wall and recall in the SAME row.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import dask_cuml_spark.queries  # noqa: F401 — populate registry
from bench_scale import FACT_SHIFTS, build_scaled  # noqa: E402
from dask_cuml_spark.io import enable_table_cache, load_table  # noqa: E402
from dask_cuml_spark.layouts import ensure_layouts  # noqa: E402
from dask_cuml_spark.queries.vector import (  # noqa: E402
    SERVING_TOPK,
    _serving_certify,
)
from dask_cuml_spark.session import get_spark  # noqa: E402


_HELD_TARGET = 0.5
_HELD_CAP = 1 << 16


def _recall_of(topk, exact, nq: int, k: int) -> float:
    hits = topk.join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    ).count()
    return hits / (nq * k)


def _exact_baseline(spark, dst, nq: int, k: int):
    """The certified exact top-k, computed ONCE per query family
    (auto-strategy kNN — GEMM above the cost gate) and pinned, so the
    binary search below pays it a single time instead of per probe."""
    from dask_cuml_spark.operators.knn import brute_force_knn
    from dask_cuml_spark.queries.vector import _par

    e = load_table(spark, dst, "embeddings").select("vec_id", "embedding")
    qf = e.filter(e.vec_id < nq).selectExpr(
        "vec_id AS query_id", "embedding AS qv"
    )
    cv = e.selectExpr("vec_id AS neighbor_id", "embedding AS cv")
    return brute_force_knn(
        qf, _par(cv), k=k, exclude_same_id=True
    ).localCheckpoint()


def _held_recall_point(spark, dst, name, fn, nq, k, exact, nprobes=None):
    """(operating point dict, recall) — smallest shortlist with
    recall@k >= _HELD_TARGET; for IVF-PQ the probed cells bound the
    attainable recall, so nprobe doubles outward until the ceiling
    (shortlist == cap) clears the target, matching how production
    tunes an IVF index (nprobe and shortlist grow together). Pass an
    explicit ``nprobes`` list to pin the probe budget (the frontier
    sweep evaluates each point separately)."""
    is_ivf = name == "q141_ivfpq_search"
    if nprobes is None:
        nprobes = [None] if not is_ivf else [None, 8, 16, 32, 64]
    for nprobe in nprobes:
        kw = {} if nprobe is None else {"nprobe": nprobe}
        # exponential bracket, then bisect the smallest passing point
        lo, hi, r_hi = None, 50, None
        while hi <= _HELD_CAP:
            r_hi = _recall_of(fn(spark, dst, shortlist=hi, **kw), exact, nq, k)
            print(
                f"  probe {name} nprobe={nprobe} shortlist={hi} "
                f"recall={r_hi:.3f}",
                file=sys.stderr,
            )
            if r_hi >= _HELD_TARGET:
                break
            lo, hi = hi, hi * 2
        if r_hi is None or r_hi < _HELD_TARGET:
            continue  # ceiling capped by nprobe — widen the probe set
        # bisect (lo fails or is None, hi passes)
        lo = lo or 0
        best, best_r = hi, r_hi
        while hi - lo > max(1, lo // 8):  # ~12% granularity is plenty
            mid = (lo + hi) // 2
            r = _recall_of(fn(spark, dst, shortlist=mid, **kw), exact, nq, k)
            print(
                f"  bisect {name} shortlist={mid} recall={r:.3f}",
                file=sys.stderr,
            )
            if r >= _HELD_TARGET:
                hi, best, best_r = mid, mid, r
            else:
                lo = mid
        return {"shortlist": best, "nprobe": nprobe}, best_r
    return None, None


def run_held(factor: int, names: list[str]) -> None:
    dst = f"/tmp/graft_scale{factor}"
    build_scaled(dst, factor, {"embeddings"})
    if "SPARK_GRAFT_SHUFFLE_PARTITIONS" not in os.environ and factor >= 300:
        from dask_cuml_spark.plans.cost import suggest_shuffle_partitions

        parts = suggest_shuffle_partitions(f"{dst}/embeddings.parquet")
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(parts)
    spark = get_spark("dask_cuml_spark-servingheld")
    enable_table_cache(True)
    needed = sorted({ly for n in names for ly in SERVING_TOPK[n][1]})
    build_secs = ensure_layouts(spark, dst, layouts=tuple(needed))
    print(f"layouts: {build_secs}", file=sys.stderr)

    rows = {}
    for name in names:
        fn, _layouts, nq, k, _floor = SERVING_TOPK[name]
        t0 = time.perf_counter()
        exact = _exact_baseline(spark, dst, nq, k)
        exact.count()
        exact_sec = time.perf_counter() - t0
        if name == "q141_ivfpq_search" and "--sweep-nprobe" in sys.argv:
            # COST-CHOSEN operating point (r14): evaluate the
            # (nprobe, held-shortlist) frontier and keep the min-wall
            # point — a first-found point can overpay by probing too
            # few cells and compensating with a huge shortlist
            best = None
            for np_ in (4, 8, 16):
                pt, rc = _held_recall_point(
                    spark, dst, name, fn, nq, k, exact, nprobes=[np_]
                )
                if pt is None:
                    continue
                fn(
                    spark, dst, shortlist=pt["shortlist"], nprobe=np_
                ).collect()  # warm
                t0 = time.perf_counter()
                fn(
                    spark, dst, shortlist=pt["shortlist"], nprobe=np_
                ).collect()
                wall = time.perf_counter() - t0
                print(
                    f"  frontier {name} nprobe={np_} "
                    f"shortlist={pt['shortlist']} recall={rc:.3f} "
                    f"wall={wall:.2f}s",
                    file=sys.stderr,
                )
                if best is None or wall < best[2]:
                    best = (pt, rc, wall)
            point, recall = (best[0], best[1]) if best else (None, None)
        else:
            point, recall = _held_recall_point(
                spark, dst, name, fn, nq, k, exact
            )
        if point is None:
            rows[name] = {
                "note": (
                    f"recall@{k} >= {_HELD_TARGET} unreachable at "
                    f"shortlist <= {_HELD_CAP} under every probed "
                    "operating point"
                )
            }
            continue
        kw = {k_: v for k_, v in point.items() if k_ != "shortlist" and v}
        fn(spark, dst, shortlist=point["shortlist"], **kw).collect()  # warm
        best = float("inf")
        for _ in range(3):
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            out = fn(
                spark, dst, shortlist=point["shortlist"], **kw
            ).collect()
            best = min(best, time.perf_counter() - t0)
        assert len(out) == nq * k, (name, len(out))
        rows[name] = {
            "spark_sec": round(best, 4),
            "shortlist": point["shortlist"],
            "nprobe": point.get("nprobe"),
            "recall_at_k": round(recall, 3),
            "exact_baseline_sec_untimed": round(exact_sec, 2),
            "note": (
                "RECALL-HELD serving row (r13 verdict task 3): the "
                "operating point was binary-searched to the smallest "
                f"shortlist with recall@{k} >= {_HELD_TARGET} against "
                "the exact baseline, then the search path timed "
                "min-of-3 AT that point — wall and usable recall in "
                "one row; the fixed-shortlist serving rows remain the "
                "shortlist-cost floor"
            ),
        }
        print(name, json.dumps(rows[name]), file=sys.stderr)

    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SCALEBENCH.json"
    )
    results = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            results = json.load(f)
    results.setdefault(f"serving_held_{factor}x", {}).update(rows)
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(json.dumps({"serving_held_factor": factor, "rows": rows}))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    factor = int(args[0]) if args else 1000
    names = list(SERVING_TOPK)
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            names = a[len("--only="):].split(",")
    if "--held-recall" in sys.argv[1:]:
        run_held(factor, names)
        return
    dst = f"/tmp/graft_scale{factor}"
    t0 = time.perf_counter()
    build_scaled(dst, factor, {"embeddings"})
    if time.perf_counter() - t0 > 1:
        print(
            f"built {factor}x dataset in {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )
    if "SPARK_GRAFT_SHUFFLE_PARTITIONS" not in os.environ and factor >= 300:
        from dask_cuml_spark.plans.cost import suggest_shuffle_partitions

        parts = suggest_shuffle_partitions(f"{dst}/embeddings.parquet")
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(parts)
        print(f"shuffle partitions (rule): {parts}", file=sys.stderr)
    spark = get_spark("dask_cuml_spark-servingbench")
    enable_table_cache(True)

    needed = sorted({ly for n in names for ly in SERVING_TOPK[n][1]})
    t0 = time.perf_counter()
    build_secs = ensure_layouts(spark, dst, layouts=tuple(needed))
    print(
        f"layout build ({'+'.join(needed)}): "
        f"{ {k: round(v, 2) for k, v in build_secs.items()} } "
        f"({time.perf_counter() - t0:.1f}s wall)",
        file=sys.stderr,
    )

    rows = {}
    e = load_table(spark, dst, "embeddings").select("vec_id", "embedding")
    for name in names:
        fn, _layouts, nq, k, floor = SERVING_TOPK[name]
        fn(spark, dst).collect()  # warm (plan + codegen compile)
        best = float("inf")
        for _ in range(3):
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            out = fn(spark, dst).collect()
            best = min(best, time.perf_counter() - t0)
        assert len(out) == nq * k, (name, len(out))
        # certification OUTSIDE the timer — the registered query's own
        # invariant report over the very top-k the timed path returned
        t0 = time.perf_counter()
        cert = _serving_certify(
            spark, e, fn(spark, dst), nq, k, floor
        ).collect()[0]
        cert_sec = time.perf_counter() - t0
        # scale-invariant invariants stay HARD: full k, no dups, rank
        # domination. Recall is RECORDED, not floor-gated: a fixed
        # 50-candidate shortlist over a factor-x corpus decays recall
        # by design (production scales shortlist/nprobe with corpus —
        # see _serving_certify's docstring); the fixture-scale floor
        # is pinned by tests/test_operators.py::test_serving_topk_*.
        ok = (
            cert.n_queries == nq
            and cert.n_results == nq * k
            and cert.n_dup_pairs == 0
            and cert.n_rank_violations == 0
        )
        assert ok, (name, cert)
        rows[name] = {
            "spark_sec": round(best, 4),
            "layout_build_sec": round(
                sum(build_secs.get(ly, 0.0) for ly in _layouts), 2
            ),
            "certify_sec_untimed": round(cert_sec, 2),
            "invariants_ok": 1,
            "recall_at_k": round(cert.n_recall_hits / (nq * k), 3),
            "note": (
                "serving path only (stored layout scan -> shortlist -> "
                "exact re-rank -> collect top-k); structural invariant "
                "certification (full k, no dups, rank domination) ran "
                "after the timer and was all-green; recall@k recorded "
                "at the registered FIXED shortlist, which decays with "
                "corpus growth by design"
            ),
        }
        print(name, json.dumps(rows[name]), file=sys.stderr)

    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SCALEBENCH.json"
    )
    results = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            results = json.load(f)
    results.setdefault(f"serving_{factor}x", {}).update(rows)
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(json.dumps({"serving_factor": factor, "rows": rows}))


if __name__ == "__main__":
    main()
