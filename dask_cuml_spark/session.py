"""SparkSession factory tuned for this engine.

Defaults favor the local test harness (local[N], small shuffle partition
count) but every knob is scale-aware: on a real cluster you pass
``master=None`` (inherit spark-submit) and a higher ``shuffle_partitions``.

Design notes for 100 TB (SURVEY.md §4):
  - AQE on: runtime partition coalescing + skew-join splitting replaces the
    reference's hand-tuned Dask partition counts.
  - Arrow on: the Python<->JVM boundary is columnar, mirroring the
    reference's Arrow-format GPU shards.
  - Broadcast threshold left at default (10 MB) locally; dimension tables
    (region/nation/supplier) are explicitly F.broadcast()-hinted in queries
    so the plan is broadcast-join even if stats are missing.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dask_cuml_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    master=None → respect $SPARK_GRAFT_CPUS (default local[*]) so the bench
    driver controls parallelism.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # Local: match core count so small-SF stages don't fragment.
        # Cluster deployments should override (e.g. 2-3x total cores).
        # SPARK_GRAFT_SHUFFLE_PARTITIONS decouples partition count from
        # thread count for big-factor local runs: 180 M-row aggregates
        # over 32 partitions hit AGGREGATE_OUT_OF_MEMORY (measured at
        # the q02 300x point) — partitions must be sized to the data,
        # not the cores, exactly as on a cluster.
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
            or os.environ.get("SPARK_GRAFT_CPUS", "32")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Keep the default 10 MB auto-broadcast threshold: raising it to
        # 64 MB was measured SLOWER here (driver builds the hash relation
        # single-threaded; shuffling 150k-row tables beats broadcasting
        # them). True dimension tables get explicit broadcast() hints in
        # the queries instead.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Keep driver logs quiet in tests/bench.
        .config("spark.ui.enabled", "false")
        # Warehouse outside the repo (bucketed-table tests write here).
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "dcs_warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Big-factor bench runs materialize corpus-sized results on the
        # driver for value parity with DuckDB (both engines collect the
        # full result); the 1 GiB default aborts q130's 8M-row chunk
        # stream at 1000x. Env-gated so normal sessions keep Spark's
        # fail-fast default.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT_SIZE", "1g"),
        )
    )
    # Deployment codec branch (r16 verdict item 7, guide §2.3/§6):
    # SPARK_GRAFT_CODECS=zstd flips shuffle AND parquet-write codecs in
    # one env knob so the cluster recipe is a tested branch, not prose.
    # Default stays Spark's lz4/snappy — the sealed layouts and the
    # driver's bench are written/measured under the defaults, and at
    # bench SF the shuffles are KB-sized so the codec is unmeasurable
    # there; the 100x shuffle-codec A/B lives in SCALEBENCH.json.
    codec = os.environ.get("SPARK_GRAFT_CODECS")
    if codec:
        builder = builder.config(
            "spark.io.compression.codec", codec
        ).config("spark.sql.parquet.compression.codec", codec)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Python workers inherit PYTHONPATH from the JVM this call launches:
    # with the package root on it, a pandas-UDF closure that references
    # this package unpickles whatever the driver's working directory
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = os.environ.get("PYTHONPATH", "")
    if root not in paths.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, paths) if p)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_SHIPPED: set[str] = set()


def ensure_worker_code(spark: SparkSession) -> None:
    """Make the package importable inside executor Python workers
    regardless of the driver process's cwd/sys.path.

    The driver owns the SparkSession (driver contract), so we cannot
    rely on spark.submit.pyFiles or PYTHONPATH having been set: any
    operator whose mapInPandas/pandas_udf closure references this
    package (e.g. the grouped-GEMM kernel) would fail to unpickle on a
    worker launched from a different working directory. Shipping the
    package once per application via addPyFile is the standard Spark
    mechanism (equivalent to --py-files) and a no-op when workers can
    already import it."""
    key = spark.sparkContext.applicationId
    if key in _SHIPPED:
        return
    import zipfile

    import dask_cuml_spark

    pkg_dir = os.path.dirname(os.path.abspath(dask_cuml_spark.__file__))
    zpath = os.path.join(tempfile.gettempdir(), f"dcs_pkg_{key}.zip")
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(
                            full, os.path.dirname(pkg_dir)
                        )
                        z.write(full, rel)
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED.add(key)
