#!/usr/bin/env python
"""Per-query empirical profile (guide §1): wall time + Spark job count
per run over several warm iterations, for a named set of queries.

Usage: SPARK_GRAFT_CPUS=32 python plans/profile_queries.py out.json iters q1 q2 ...
Query names may be substrings of registry names.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import dask_cuml_spark.queries  # noqa: E402,F401
from dask_cuml_spark.benchlib import materialize, max_job_id  # noqa: E402
from dask_cuml_spark.plans.cost import scoped_caches  # noqa: E402
from dask_cuml_spark.registry import QUERIES  # noqa: E402
from dask_cuml_spark.session import get_spark  # noqa: E402

USAGE = "usage: python plans/profile_queries.py out.json iters pattern [pattern ...]"


def main() -> None:
    # reject a bad command line before paying for a Spark session
    if len(sys.argv) < 4 or not sys.argv[2].isdigit():
        sys.exit(USAGE)
    out_path, iters, pats = sys.argv[1], int(sys.argv[2]), sys.argv[3:]
    names = [n for n in sorted(QUERIES) if any(p in n for p in pats)]
    if not names:
        sys.exit(f"no registered query matches {pats}\n{USAGE}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dask_cuml_spark-profile")
    sc = spark.sparkContext
    records = []
    try:
        from dask_cuml_spark.io import enable_table_cache

        enable_table_cache(True)

        # warm once per query (plan/codegen compile excluded, as the bench)
        for n in names:
            with scoped_caches():
                materialize(QUERIES[n](spark, sf_dir))

        for it in range(iters):
            for n in names:
                jobs_before = max_job_id(spark)
                sc.setJobDescription(f"profile iter{it} {n}")
                t0 = time.perf_counter()
                with scoped_caches():
                    materialize(QUERIES[n](spark, sf_dir))
                dt = time.perf_counter() - t0
                rec = {
                    "iter": it,
                    "q": n,
                    "sec": round(dt, 3),
                    "jobs": max_job_id(spark) - jobs_before,
                }
                records.append(rec)
                print(rec, flush=True)
    finally:
        # a failed or interrupted run keeps the records it has
        with open(out_path, "w") as f:
            json.dump(records, f, indent=1)
        spark.stop()


if __name__ == "__main__":
    main()
