"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~ cores, AQE on (runtime coalesce + skew-join split), Arrow
enabled for the pandas-UDF paths, session timezone pinned to UTC so the
DuckDB oracle comparison is stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
# the directory `import forklift_spark` resolved from: a checkout, a
# site-packages directory, or the `--py-files` zip itself
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "forklift-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    cores: int N -> local[N]; "*" -> local[*]; None -> $SPARK_GRAFT_CPUS or "*".

    Python workers run under `forklift_spark.pyworker`
    (`spark.python.daemon.module`): pyspark's own daemon, which on
    CPython < 3.12 re-reads a zip archive's directory (`pyspark.zip`)
    only when the archive changed, instead of once per task. The
    directory holding `forklift_spark` (the `--py-files` zip, when the
    package was imported from one) goes first on
    `spark.executorEnv.PYTHONPATH`, ahead of any value `extra_conf` gives
    that key; on a cluster, executors must be able to import
    `forklift_spark` when the daemon starts.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    try:
        n_cores = int(cores)
    except (TypeError, ValueError):
        n_cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n_cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.mergeSchema", "false")
        # keep file listing on the driver; the default (32 files) launches a
        # cluster-wide listing job per source resolution, which stalls
        # rate-limited streams over many small segments
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", "forklift_spark.pyworker")
    )
    conf = dict(extra_conf or {})
    conf[_PYTHONPATH] = os.pathsep.join(
        filter(None, (_PACKAGE_PARENT, conf.get(_PYTHONPATH)))
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_session(spark)
    return spark


def _warm_session(spark: SparkSession) -> None:
    """One-time session warm-up: exercise the JVM paths every engine job
    hits — parquet write/scan, a hash-partitioned exchange, codegen of
    common expressions (sha2/xxhash64), the Arrow Python-worker pool, and a
    hash aggregate — on ~2k synthetic rows so first-epoch latency does not
    pay JIT/classloading/worker-spawn for the whole session (guide §4.5:
    heavyweight init once, amortized; measured ~5 s off a cold CDC replay's
    first micro-batch on local[32]). Touches only a throwaway tempdir —
    never input data, never query results — and is disabled with
    FK_NO_SESSION_WARM=1 (sub-second unit tests)."""
    if os.environ.get("FK_NO_SESSION_WARM") == "1":
        return
    if getattr(spark, "_fk_warmed", False):
        return
    try:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        spark.sparkContext.setJobDescription("session warm-up")
        d = tempfile.mkdtemp(prefix="fk_warm_")
        try:
            df = spark.range(2000).select(
                F.concat(F.lit("k"), (F.col("id") % 500).cast("string")).alias("k"),
                F.sha2(F.concat(F.lit("v"), F.col("id").cast("string")), 256).alias("v"),
                F.xxhash64(F.col("id")).alias("h"),
                (F.col("id") % 8).cast("int").alias("_bucket"),
                F.col("id").alias("seq"),
            )
            df.write.mode("overwrite").parquet(f"{d}/p")
            back = spark.read.parquet(f"{d}/p")

            def _ident(batches):
                yield from batches

            (
                back.repartition(8, "_bucket")
                .mapInArrow(_ident, back.schema)
                .groupBy("k")
                .agg(F.max_by(F.struct("v"), F.col("seq")).alias("_p"))
                .write.format("noop").mode("overwrite").save()
            )
        finally:
            shutil.rmtree(d, ignore_errors=True)
            spark.sparkContext.setJobDescription(None)
    except Exception:
        pass  # warm-up is best-effort; never block session creation
    spark._fk_warmed = True
