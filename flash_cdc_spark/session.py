"""SparkSession factory.

Defaults are chosen for the dual target:

- local test/bench runs on ``local[N]`` (driver-provided container), and
- a real multi-executor cluster at ~100 TB, where the same settings
  (AQE, skew-join handling, broadcast threshold) are what you want anyway.

Scale notes (100 TB design point):

- AQE is the single most important switch: it coalesces the
  statically-sized shuffle partitions, re-plans sort-merge joins into
  broadcast joins when runtime stats allow, and splits skewed partitions
  (``spark.sql.adaptive.skewJoin.enabled``).
- ``spark.sql.shuffle.partitions`` is only the *initial* number under AQE;
  we set it from the core count locally, and a cluster deployment would set
  it to ~2-3x total cores (AQE coalesces down).
- Arrow is enabled for every pandas-UDF / toPandas boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark", "ensure_min_parallelism"]


def ensure_min_parallelism(df, min_partitions: int | None = None):
    """Repartition ``df`` up to the session's default parallelism iff it
    currently has FEWER partitions — the guard for Python-codec-bound
    stages (pandas-UDF decode/encode) downstream of a small scan.

    Why: a tiny parquet table arrives as 1–2 splits under the 128 MB
    split size, so a following Arrow/pandas stage would run on 1–2 of
    N cores (measured r4: the Avro wire-format query ran 1.9× slower
    single-partition than repartitioned). At 100 TB the scan itself
    yields thousands of splits and this is a no-op — the guard only
    triggers when the input is narrower than the machine, exactly the
    local/bench case. No-op (plan-identical) when partitions are
    already sufficient, so it never inserts a shuffle at scale."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    # The partition-count probe (df.rdd) plans the scan subtree on the
    # driver — ~0.1 s per call. The decision is a pure function of the
    # (immutable) input DataFrame and the target, so memoize it on the
    # DataFrame object itself: combined with load_table's per-session
    # plan memo this makes repeated constructions of the same query
    # pay the probe once per process instead of once per call.
    memo = getattr(df, "_flash_minpar", None)
    if memo is not None and memo[0] == target:
        return memo[1]
    out = df.repartition(target) if df.rdd.getNumPartitions() < target else df
    try:
        df._flash_minpar = (target, out)
    except AttributeError:
        pass
    return out


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def _avro_package_coordinate() -> str:
    """Maven coordinate of the spark-avro external module matching the
    installed PySpark (reference P1 decodes Avro payloads;
    ``sf_pubsub.py:308-330``)."""
    import pyspark

    return f"org.apache.spark:spark-avro_2.13:{pyspark.__version__}"


def get_spark(
    app_name: str = "flash-cdc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    try_avro: bool | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    Parameters mirror what a deployment would template: master URL,
    shuffle-partition seed, and arbitrary overrides.

    ``try_avro`` (default: env ``SPARK_GRAFT_AVRO=1``) asks Ivy to pull
    the spark-avro external module so the registry's real Avro decode
    branch activates (``sources/registry.py``). Resolution needs a Maven
    mirror; on an offline box the attempt fails fast and we rebuild the
    session without the package — the JSON decode fallback stays in
    effect. Opt-in rather than default so offline environments don't pay
    the resolver timeout on every session.
    """
    cores = _default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- Adaptive execution: runtime re-planning, skew splitting ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- Shuffle sizing (initial; AQE coalesces) ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Arrow for every Python<->JVM columnar boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "true")
        # --- Broadcast joins for small dims (driver testdata dims are tiny;
        #     on a cluster the 10MB default would also catch region/nation) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # --- Scan parallelism: default 128MB split is right for the 100 TB
        #     target; local parquet files are far smaller anyway ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- Driver-side plan-construction cost ---
        # PySpark 4 wraps EVERY DataFrame/Column op to capture the Python
        # call site for error context: one conf.get round-trip, a Python
        # inspect-stack walk, and a JVM set/clear per operation (~2.6 ms
        # measured on this box vs ~0.5 ms with it off — a 5× tax on plan
        # construction, which the r10 audit measured at over HALF the
        # batch-bench wall time across 111 queries). Error messages lose
        # only the Python line annotation; plans and results are
        # unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # --- Quiet + deterministic local runs ---
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if try_avro is None:
        try_avro = os.environ.get("SPARK_GRAFT_AVRO", "0") == "1"
    if try_avro:
        try:
            spark = builder.config(
                "spark.jars.packages", _avro_package_coordinate()
            ).getOrCreate()
            spark.sparkContext.setLogLevel("WARN")
            return spark
        except Exception:
            # resolver unreachable / coordinate missing → plain session;
            # decode_envelope keeps using the JSON branch (clear the
            # builder option or the retry would re-attempt resolution)
            builder = builder.config("spark.jars.packages", "")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
