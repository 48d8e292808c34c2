#!/usr/bin/env python
"""Stall diagnosis harness (r16 verdict item 1): run the stall-prone
queries (q151/q78/q82 LSH family, q79 streaming, q87) interleaved N
times on a GC/JIT-instrumented session, record per-run wall time +
Spark job/stage counts, and capture a JVM thread dump mid-run whenever
a run exceeds a watchdog threshold.

Usage: SPARK_GRAFT_CPUS=32 python plans/diag_stall.py [iters] [out.json]
GC log: /tmp/diag_gc.log; JIT log: /tmp/diag_jit.log;
thread dumps: /tmp/diag_jstack_<n>.txt
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import dask_cuml_spark.queries  # noqa: E402,F401
from dask_cuml_spark.benchlib import materialize, max_job_id  # noqa: E402
from dask_cuml_spark.plans.cost import scoped_caches  # noqa: E402
from dask_cuml_spark.registry import QUERIES  # noqa: E402
from dask_cuml_spark.session import get_spark  # noqa: E402

NAMES = [
    "q151_paragraph_near_dup",
    "q78_minhash_near_dup",
    "q82_lsh_knn",
    "q87_naive_bayes_predict",
    "q79_stream_stateful_totals",
]
WATCHDOG_SEC = 5.0


def main() -> None:
    iters = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/diag_records.json"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "dask_cuml_spark-diag",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                "-Xlog:gc*:file=/tmp/diag_gc.log:time,uptime,level "
                "-XX:+UnlockDiagnosticVMOptions "
                "-Xlog:codecache+sweep*=trace:file=/tmp/diag_jit.log:time,uptime "
                "-XX:+PrintCompilation -XX:-CITime"
            ),
        },
    )
    sc = spark.sparkContext
    jvm_pid = None
    try:
        jvm_pid = int(
            subprocess.check_output(
                ["pgrep", "-f", "dask_cuml_spark-diag"], text=True
            ).split()[0]
        )
    except Exception:
        pass

    dump_n = [0]

    def watchdog(started_at: float, done: threading.Event, label: str):
        while not done.wait(0.5):
            if time.perf_counter() - started_at > WATCHDOG_SEC:
                dump_n[0] += 1
                path = f"/tmp/diag_jstack_{dump_n[0]}.txt"
                try:
                    with open(path, "w") as f:
                        f.write(f"# {label} t+{time.perf_counter()-started_at:.1f}s\n")
                        f.flush()
                        subprocess.run(
                            ["jstack", str(jvm_pid)], stdout=f, timeout=30
                        )
                    print(f"  WATCHDOG: dumped {path} during {label}", flush=True)
                except Exception as exc:  # noqa: BLE001
                    print(f"  WATCHDOG failed: {exc}", flush=True)
                return  # one dump per run is enough

    # warm every path once (plan/codegen compile excluded, as the bench)
    for n in NAMES:
        with scoped_caches():
            materialize(QUERIES[n](spark, sf_dir))

    records = []
    for it in range(iters):
        for n in NAMES:
            jobs_before = max_job_id(spark)
            sc.setJobDescription(f"diag iter{it} {n}")
            done = threading.Event()
            t0 = time.perf_counter()
            w = threading.Thread(
                target=watchdog, args=(t0, done, f"iter{it}:{n}"), daemon=True
            )
            w.start()
            with scoped_caches():
                materialize(QUERIES[n](spark, sf_dir))
            dt = time.perf_counter() - t0
            done.set()
            rec = {
                "iter": it,
                "q": n,
                "sec": round(dt, 3),
                "jobs": max_job_id(spark) - jobs_before,
                "t_wall": round(time.time(), 2),
            }
            records.append(rec)
            print(rec, flush=True)
    with open(out_path, "w") as f:
        json.dump(records, f, indent=1)
    print(f"wrote {out_path}; {dump_n[0]} thread dumps", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
