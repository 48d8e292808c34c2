#!/usr/bin/env python
"""Measure the catalog-gated storage layouts: plain shape vs layout
shape per consumer, cold (first-query-after-provisioning) vs
steady-state, with value parity asserted and a contemporaneous DuckDB
oracle — the SCALEBENCH `*_layout` rows.

The layouts are the same warehouse decision — pay one bucketed write
per table, amortized across every query that reads it — applied where
the plain shapes could not close the gap:

  q02    orders+lineitem bucketBy(orderkey): the one mandatory
         wide-join input exchange (60 M rows at 100×) disappears;
         ShuffledHashJoin runs straight off the bucketed scans.
  grams  exploded (doc_id, xxhash64 5-gram) pairs bucketBy(_h): the
         SHARED inverted index — r9 wires BOTH q121 (boilerplate) and
         q119 (contamination) onto it, so ONE write amortizes across
         two consumers here (and every future gram consumer).
  q112   corpus LSH index (shingle sets + band buckets): per-run
         signature work drops to Θ(|new batch|).

Protocol per consumer: plain shape timed (min-of-3, warm, table cache
ON — same as the recorded SCALEBENCH rows), layout provisioned via
layouts.ensure_layouts (timed — the one-time cost), FIRST layout-shape
run timed separately (the cold row: what a user pays on query 1 after
provisioning), then min-of-3 steady state, VALUE PARITY asserted
against the plain rows, contemporaneous DuckDB oracle timed on the
same fixture. Results merge into SCALEBENCH.json under *_layout keys.

Usage: python bench_layouts.py [factor]   (default 100; the factor-x
fixture must exist under /tmp/graft_scale{factor} — bench_scale.py
builds it)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import dask_cuml_spark.queries  # noqa: F401 — populate registry
import dask_cuml_spark.queries.relational as rel
from dask_cuml_spark.io import enable_table_cache
from dask_cuml_spark.layouts import ensure_layouts, layout_tables
from dask_cuml_spark.plans import cost
from dask_cuml_spark.registry import ORACLES, QUERIES
from dask_cuml_spark.session import get_spark


# set to the SparkSession for big-factor runs: each fresh-plan timed
# run strands the previous run's shuffle files until a JVM GC lets
# ContextCleaner delete them — at 1000× that is 10-20 GB per run and
# the q02 leg FILLED THE DISK (r9). A System.gc() between runs (before
# the timer starts) bounds stranded spill to ~one run's worth.
_GC_BETWEEN_RUNS = None


def _gc():
    if _GC_BETWEEN_RUNS is not None:
        _GC_BETWEEN_RUNS.sparkContext._jvm.System.gc()


def timed3(fn, label):
    fn()  # warm
    best = float("inf")
    for _ in range(3):
        _gc()
        t0 = time.perf_counter()
        rows = fn()
        best = min(best, time.perf_counter() - t0)
    print(f"{label}: {best:.3f} s", flush=True)
    _gc()
    return best, sorted(tuple(r) for r in rows)


def _assert_rows_close(a, b, name):
    """Value parity across plan shapes: exact for everything except
    floats, which compare within rel 1e-9 / abs 0.02. The plain and
    layout shapes aggregate in different orders, so a 2-dp-rounded
    SUM over ~24M doubles per group can legitimately flip the last
    cent at 1000x (fp associativity — the r9 1000x q02 run died on an
    exact == here after 4 min of green timing). rel 1e-9 stays ~40x
    tighter than one dropped lineitem (~4e-8 of a nation's revenue),
    so join/filter bugs still fail the assert."""
    import math

    assert len(a) == len(b), f"{name} ROW COUNT MISMATCH {len(a)}!={len(b)}"
    worst = 0.0
    for ra, rb in zip(a, b):
        assert len(ra) == len(rb), f"{name} ARITY MISMATCH"
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                assert math.isclose(
                    va, vb, rel_tol=1e-9, abs_tol=0.02
                ), f"{name} VALUE MISMATCH {va} != {vb}"
                if vb:
                    worst = max(worst, abs(va - vb) / abs(vb))
            else:
                assert va == vb, f"{name} VALUE MISMATCH {va!r} != {vb!r}"
    if worst:
        print(f"{name}: max float drift across shapes {worst:.2e}", flush=True)


def timed_once(fn, label):
    _gc()
    t0 = time.perf_counter()
    rows = fn()
    sec = time.perf_counter() - t0
    print(f"{label}: {sec:.3f} s", flush=True)
    return sec, sorted(tuple(r) for r in rows)


def duck_timed(sf_dir, name, tables):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count()}")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    sql = ORACLES[name]
    con.execute(sql).df()  # warm
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        con.execute(sql).df()
        best = min(best, time.perf_counter() - t0)
    con.close()
    print(f"duckdb {name}: {best:.3f} s", flush=True)
    return best


def drop_layout(spark, layout, sf):
    if isinstance(layout, tuple):
        for one in layout:
            drop_layout(spark, one, sf)
        return
    for t in layout_tables(layout, sf):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def stored_buckets(spark, layout, sf) -> dict[str, int]:
    """{table: stored bucket count} of the layout's bucketed tables, from
    the catalog (DESCRIBE EXTENDED): the count that ran, which follows
    the building session's shuffle partitions."""
    out = {}
    for t in layout_tables(layout, sf):
        rows = spark.sql(f"DESCRIBE EXTENDED {t}").collect()
        n = {r.col_name: r.data_type for r in rows}.get("Num Buckets")
        if n is not None:
            out[t] = int(n)
    return out


def bench_consumers(spark, sf, layout, consumers, out, factor=1):
    """One layout, N consumer queries: plain rows first, ONE provision,
    then cold + steady rows per consumer (the amortization evidence —
    write cost divides across consumers)."""
    # DuckDB-side skips mirror bench_scale's measured rationales: an
    # oracle that OOMs (q136 at 100x) or is an O(1) invariant row
    # (q138/q141) yields no meaningful contemporaneous ratio — the
    # layout A/B's signal is the Spark plain-vs-layout pair either way
    from bench_scale import ORACLE_NOT_COMPARABLE, SKIP_DUCK_ABOVE

    drop_layout(spark, layout, sf)
    plain = {}
    for name, *_rest in consumers:
        plain[name] = timed3(
            lambda n=name: QUERIES[n](spark, sf).collect(), f"{name} plain"
        )
    # a tuple-valued leg provisions SEVERAL layouts for one consumer
    # (r16: q162 serves its sparse leg from postings AND its dense leg
    # from signs in ONE query — the multi-layout A/B sums the writes)
    leg_layouts = layout if isinstance(layout, tuple) else (layout,)
    built = ensure_layouts(spark, sf, layouts=leg_layouts)
    w = sum(built[one] for one in leg_layouts)
    disp = "+".join(leg_layouts)
    print(f"{disp} layout write: {w:.1f} s", flush=True)
    buckets = {}
    for one in leg_layouts:
        buckets.update(stored_buckets(spark, one, sf))
    for t, n in buckets.items():
        print(f"{t} stored buckets: {n}", flush=True)
    for name, tables, expect_branch, *rest in consumers:
        compare = rest[0] if rest else "exact"
        if expect_branch is not None:
            branch = rel.q02_plan_branch(spark, sf)
            assert branch in expect_branch, branch
        else:
            branch = f"{disp}-layout"
        t_cold, rows_cold = timed_once(
            lambda n=name: QUERIES[n](spark, sf).collect(), f"{name} cold"
        )
        t_lay, rows_lay = timed3(
            lambda n=name: QUERIES[n](spark, sf).collect(), f"{name} {branch}"
        )
        t_plain, rows_plain = plain[name]
        overlap = None
        if compare == "approx_topk":
            # the served shape is declared APPROXIMATE at this scale
            # (q162's signs-served dense leg: the hamming shortlist is
            # Θ(shortlist) re-rank cost, recall is the measured knob —
            # identity holds only when shortlist ≥ corpus, the fixture
            # pytest's structural case). Record the top-k id overlap,
            # never silently pass: a broken serving path craters it.
            a = {r[0] for r in rows_plain}
            b = {r[0] for r in rows_lay}
            overlap = round(len(a & b) / max(len(a), 1), 3)
            assert overlap >= 0.6, f"{name} served overlap {overlap}"
        else:
            _assert_rows_close(rows_plain, rows_lay, name)
            _assert_rows_close(rows_plain, rows_cold, name)
        alt = None
        if layout == "q02":
            # same-invocation A/B of the two layout join shapes (r9
            # verdict task 4): flip the broadcast cap to force the
            # road-not-taken over the SAME bucketed scans, so the
            # gate's choice is measured against its alternative under
            # identical load, cache, and fixture state.
            saved = cost.Q02_BCAST_MAX_CUSTOMER_BYTES
            try:
                if branch == "bucketed":
                    cost.Q02_BCAST_MAX_CUSTOMER_BYTES = 0
                    alt = ("bucketed-eager",)
                else:
                    cost.Q02_BCAST_MAX_CUSTOMER_BYTES = 1 << 60
                    alt = ("bucketed",)
                try:
                    t_alt, rows_alt = timed3(
                        lambda n=name: QUERIES[n](spark, sf).collect(),
                        f"{name} {alt[0]} (road not taken)",
                    )
                    _assert_rows_close(rows_plain, rows_alt, name)
                    alt = (alt[0], round(t_alt, 3))
                except Exception as e:  # noqa: BLE001
                    # the road-not-taken may be genuinely infeasible at
                    # this scale (e.g. the forced broadcast build OOMs
                    # — that IS the measurement); record it, keep the
                    # primary rows
                    alt = (alt[0], f"DNF: {type(e).__name__}: {str(e)[:200]}")
            finally:
                cost.Q02_BCAST_MAX_CUSTOMER_BYTES = saved
        duck_note = None
        if factor > SKIP_DUCK_ABOVE.get(name, 10**9):
            d = None
            duck_note = (
                "duckdb oracle skipped: measured infeasible above this "
                "factor (bench_scale.SKIP_DUCK_ABOVE)"
            )
        elif name in ORACLE_NOT_COMPARABLE:
            d = None
            duck_note = ORACLE_NOT_COMPARABLE[name]
        else:
            d = duck_timed(sf, name, tables)
        suffix = {
            "q02": "bucketed", "grams": "gram", "q112": "index", "pq": "pq",
            "signs": "signs", "pack": "pack", "postings": "postings",
            "cms": "cms", ("postings", "signs"): "hybrid",
        }[layout]
        out[f"{name}_{suffix}_layout"] = {
            "branch": branch,
            "spark_sec": round(t_lay, 3),
            "duckdb_sec": round(d, 3) if d is not None else None,
            "ratio": round(t_lay / d, 2) if d is not None else None,
            "plain_shape_contemporaneous_sec": round(t_plain, 3),
            "cold_first_query_sec": round(t_cold, 3),
            "layout_write_once_sec": round(w, 1),
            "layout_consumers_here": len(consumers),
            "layout_buckets": {
                t.rsplit("_", 1)[0]: n for t, n in buckets.items()
            },
        }
        if overlap is not None:
            out[f"{name}_{suffix}_layout"]["served_topk_id_overlap"] = (
                overlap
            )
        if duck_note is not None:
            out[f"{name}_{suffix}_layout"]["note"] = duck_note
        if alt is not None:
            out[f"{name}_{suffix}_layout"]["alt_branch"] = alt[0]
            out[f"{name}_{suffix}_layout"]["alt_branch_spark_sec"] = alt[1]
    drop_layout(spark, layout, sf)


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    sf = f"/tmp/graft_scale{factor}"
    assert os.path.isdir(sf), f"{sf} missing — run bench_scale.py {factor}"
    if "SPARK_GRAFT_SHUFFLE_PARTITIONS" not in os.environ and factor >= 300:
        # big factors size partitions to the data via the rule, not a
        # hand knob (r9: the 300× row's 128 was found by trial; the
        # rule reproduces it from the fixture's byte size)
        from dask_cuml_spark.plans.cost import suggest_shuffle_partitions

        facts = [
            f"{sf}/{t}.parquet"
            for t in ("orders", "lineitem", "customer")
            if os.path.exists(f"{sf}/{t}.parquet")
        ]
        parts = suggest_shuffle_partitions(*facts)
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(parts)
        print(f"shuffle partitions (rule): {parts}", flush=True)
    spark = get_spark("bench-layouts")
    # stored layouts are bucketed at this count (plans/cost.layout_buckets)
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    print(f"shuffle partitions (session): {parts}", flush=True)
    if factor >= 300:
        global _GC_BETWEEN_RUNS
        _GC_BETWEEN_RUNS = spark
    # the suite-wide .cache() of fixture scans is the sf0.1 protocol;
    # at 1000× caching a 600 M-row lineitem spills tens of GB to disk
    # (MEMORY_AND_DISK) and contributed to filling the volume (r9) —
    # the OS page cache already keeps the hot parquet for BOTH engines,
    # which is the fair "warm" at that scale
    enable_table_cache(factor < 1000)
    out = {}

    legs = {
        # q02: bucketed co-located layout; branch comes from the
        # customer-size gate ('bucketed' below the cap, 'bucketed-eager'
        # above — at 300x the latter; SF-size the session:
        # SPARK_DRIVER_MEMORY=24g SPARK_GRAFT_SHUFFLE_PARTITIONS=128)
        "q02": (
            "q02",
            [(
                "q02_revenue_by_nation",
                ["orders", "lineitem", "customer", "nation", "region"],
                ("bucketed", "bucketed-eager"),
            )],
        ),
        # shared POSITIONED gram layout: ONE write, THREE consumers
        # (r9 task 3; r11 adds q134 and the pos column)
        "grams": (
            "grams",
            [
                ("q121_boilerplate_ngrams", ["documents"], None),
                ("q119_contamination_check", ["documents"], None),
                ("q134_exact_substring_dedup", ["documents"], None),
                # r12: the span-CUT consumer inherits q134's layout
                # branch (it calls q134 for its spans) — the verdict
                # asked for its own same-invocation A/B pair
                ("q136_apply_span_dedup", ["documents"], None),
                # r12 third stretch: novelty audit, the FOURTH direct
                # consumer — first-occurrence groupBy + back-join go
                # bucket-local
                ("q148_ngram_novelty", ["documents"], None),
            ],
        ),
        # q112 stored corpus LSH index
        "q112": (
            "q112",
            [("q112_incremental_dedup", ["documents"], None)],
        ),
        # r12: stored PQ serving index — codes read from the bucketed
        # table instead of re-encoding the corpus per invocation; the
        # model sidecar replaces the m Lloyd refits in a fresh session
        "pq": (
            "pq",
            [
                ("q138_pq_adc_search", ["embeddings"], None),
                ("q141_ivfpq_search", ["embeddings"], None),
            ],
        ),
        # r12 second half: stored binary signature index — q145's
        # Hamming scan reads persisted 16-byte signatures instead of
        # re-hashing the corpus in a fresh session
        "signs": (
            "signs",
            [("q145_signhash_ann", ["embeddings"], None)],
        ),
        # r12 second half: stored packing manifest — q126 becomes a
        # table scan; q142 reads the manifest instead of re-running
        # the two-level prefix sum
        "pack": (
            "pack",
            [
                ("q126_sequence_packing", ["documents"], None),
                ("q142_packing_audit", ["documents"], None),
            ],
        ),
        # r15: stored BM25 postings index — q155 serves Θ(postings(q))
        # off the bucketed inverted table + additive stats sidecar
        # instead of scanning the corpus per query
        "postings": (
            "postings",
            [("q155_bm25_retrieval", ["documents"], None)],
        ),
        # r15: stored CMS sketch — q160 point queries answer from
        # O(d·w) summed counters with NO corpus scan at all; r16 wires
        # q158's candidate scoring onto the same (r, bucket) SUM (the
        # d×w counter pass over every corpus token disappears; only
        # the ground-truth cand scan remains corpus-sized)
        "cms": (
            "cms",
            [
                ("q160_cms_point_query", ["documents"], None),
                ("q158_cms_heavy_hitters", ["documents"], None),
            ],
        ),
        # r16: the first MULTI-layout consumer — q162 serves its
        # sparse leg from the stored postings index AND its dense leg
        # from the stored binary-signature index in one query
        "hybrid": (
            ("postings", "signs"),
            [(
                "q162_hybrid_rrf_retrieval",
                ["documents", "embeddings"],
                None,
                "approx_topk",
            )],
        ),
    }
    for key, (layout, consumers) in legs.items():
        if only and key not in only:
            continue
        bench_consumers(spark, sf, layout, consumers, out, factor=factor)

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SCALEBENCH.json"
    )
    results = {}
    if os.path.exists(path):
        with open(path) as fh:
            results = json.load(fh)
    label = f"{factor}x"
    results.setdefault(label, {})
    for k, v in out.items():
        # keep any hand-recorded note, refresh the numbers
        prior = results[label].get(k, {})
        if "note" in prior:
            v["note"] = prior["note"]
        results[label][k] = v
    with open(path, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
