"""SparkSession factory.

The reference engine is single-process pandas (SURVEY.md §4); here the
execution substrate is Spark with AQE. Defaults are tuned so the same code
runs on local[32] for tests and on a large cluster unchanged:

- AQE on (runtime coalesce, skew-join splitting, dynamic broadcast).
- `partitionOverwriteMode=dynamic` — the reference's delete-slice/append
  upsert sinks (upload_to_db.py:120-128, leaderboards/main.py:169-194)
  become plain `write.mode("overwrite")` on partitioned tables.
- Arrow enabled — every pandas-UDF boundary is Arrow-batched.
- Session timezone UTC so timestamp semantics are stable across engines.
- Python workers fork from `d3d_etl_spark.worker_daemon`
  (`spark.python.daemon.module`), which stops each task from rereading
  the zip and jar directories on the worker's `sys.path`; the package root
  joins `spark.executorEnv.PYTHONPATH` (after any `extra_conf` value) so the
  daemon imports from any working directory. Deploy rule: executors must
  be able to import this package, which its by-reference UDFs (functions
  pickled by module and name) already require.
- `spark.python.sql.dataFrameDebugging.enabled=false`: PySpark no longer
  records the Python call site (a stack walk and a handful of JVM calls)
  around every Column method and `F.col`. The only loss is the Python
  file:line in the DataFrame context of an analysis or runtime error.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# the directory that holds the d3d_etl_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "d3d-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    `master` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so the
    driver harness and tests share one code path; on a real cluster the
    caller passes master=None with spark-submit providing the master URL.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    # Driver JVM sizing (guide §5): in local[N] mode the driver IS the
    # executor — one JVM hosts all N task slots, plus every broadcast,
    # localCheckpoint block and listener-bus state. Spark's 1g default is
    # a laptop constant: at N=32 it leaves ~13 MB of unified memory per
    # concurrent task, forcing spill/GC on plans that a production
    # executor (typically provisioned 0.5-1 GB per core) would never
    # spill. Scale the heap with the core count (0.5 GB/core, floor 4g)
    # so the driver's low-core bench runs stay proportionally provisioned
    # — a derivation, not a local[32] constant. Env-overridable; on a
    # real cluster spark-submit sizes the already-launched JVM and a
    # builder-level driver-memory conf is inert.
    try:
        if "local[" in master:
            _spec = master.split("[")[1].rstrip("]")
            # `local[*]` means "all cores" — resolve it via os.cpu_count()
            # instead of a hardcoded fallback, so a small machine asking
            # for * gets a heap sized to ITS cores
            _n_local = (os.cpu_count() or 1) if _spec == "*" else int(_spec)
        else:
            _n_local = 0
    except ValueError:
        _n_local = 0
    driver_mem = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", f"{max(4, _n_local // 2)}g" if _n_local else ""
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.maxResultSize", "2g")
        # a loaded single host (a harness and pytest sharing the cores)
        # can stall a broadcast build past the 300 s default and produce a
        # spurious awaitResult failure on a correct query (the widest join
        # tree, z_war_park, is the first to hit it); env-overridable so a
        # quiet cluster can tighten it
        .config(
            "spark.sql.broadcastTimeout",
            os.environ.get("SPARK_GRAFT_BROADCAST_TIMEOUT", "1200"),
        )
        .config("spark.ui.enabled", "false")
        # events.parquet carries TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert at the scan (io.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", "d3d_etl_spark.worker_daemon")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if driver_mem:
        builder = builder.config("spark.driver.memory", driver_mem)
    extra_conf = dict(extra_conf or {})
    py_path = extra_conf.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep)
    py_path = [p for p in py_path if p]
    if _PACKAGE_ROOT not in py_path:
        py_path.append(_PACKAGE_ROOT)
    extra_conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(py_path)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # spark.driver.memory only takes effect at JVM launch: a get_spark()
    # after an existing session silently keeps the old heap, so warn when
    # the live value differs from the request (tests sharing a session may
    # otherwise run under a different memory profile than the bench
    # without any signal).
    if driver_mem:
        live = spark.conf.get("spark.driver.memory", None)
        if live is not None and live != driver_mem:
            import warnings

            warnings.warn(
                f"get_spark: active session keeps spark.driver.memory={live}; "
                f"requested {driver_mem} applies only to a fresh JVM",
                stacklevel=2,
            )
    return spark
