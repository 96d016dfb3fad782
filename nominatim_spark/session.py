"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same settings are
what we would pass to ``spark-submit`` on a real cluster (AQE on, skew-join
on, Arrow on). Shuffle partitioning is sized from the parallelism level so
the plan scales with cluster size instead of a hard-coded 200.

Two more fixed engine settings cut the fixed cost of every request:

* ``spark.sql.codegen.cache.maxEntries`` holds every class the engine's
  requests generate, so a warm request compiles none (at Spark's default of
  100 entries, requests evicted each other's classes and each warm search
  recompiled ~50 of them with Janino);
* ``spark.python.unix.domain.socket.enabled`` runs the JVM <-> Python
  channels over Unix sockets: over loopback TCP without ``TCP_NODELAY``
  each Python task waited out Linux's 40 ms delayed ACK.  In this mode
  Python workers skip their secret handshake, so the sockets live in a
  directory only this user can enter (mode 0700, removed at exit).

Python workers fork from the engine's daemon (``nominatim_spark.pydaemon``),
which spares every Python task PySpark's ~150-200 ms re-read of
``pyspark.zip``.  The package's parent directory is put on the workers'
``PYTHONPATH``, and a worker that cannot start makes ``get_spark`` raise.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

DAEMON_MODULE = "nominatim_spark.pydaemon"
# the directory holding the ``nominatim_spark`` package, for the workers
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Distinct classes the engine generates, counted as CodegenMetrics
# compiles with a 100,000-entry cache (perfbench, 4-vCPU host, local[2]):
# an api_requests session 173, a crawl_pages session 171, one index build
# 928.  1,000 keeps warm requests at 0 compiles with ~6x headroom; at
# Spark's default of 100 each warm search recompiled 50-54 classes and an
# api_requests session compiled 1,114.
CODEGEN_CACHE_ENTRIES = 1000

# PySpark names each socket ``<dir>/.<uuid4>.sock`` (daemon.py, context.py)
_SOCKET_NAME_LEN = len("/.") + 36 + len(".sock")
_SUN_PATH_MAX = 107  # sockaddr_un.sun_path: 108 bytes with the closing NUL
_socket_dir: str | None = None


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
    sock_dir = ((extra_conf or {}).get("spark.python.unix.domain.socket.dir")
                or _private_socket_dir())
    check_socket_dir(sock_dir)

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
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", sock_dir)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # The kernel warm-up pays for itself in perfbench (4-vCPU host,
    # local[2]): without it and the former worker prewarm, crawl_pages
    # throughput fell ~17% and api_requests p50 rose ~22%.  Prewarming a
    # Python worker per core stopped paying once tasks ran over Unix
    # sockets: without it (2 pairs per workload) crawl_pages throughput
    # rose 2-4% and setup_s fell ~1.2 s; api_requests moved within +-4%.
    _check_python_workers(spark)
    _warm_engine_kernels(spark)
    return spark


def _private_socket_dir() -> str:
    """This process's directory for the JVM <-> Python Unix sockets: made
    once under ``/tmp`` (``$TMPDIR`` may be too long for a socket path),
    mode 0700, removed at exit."""
    global _socket_dir
    if _socket_dir is None:
        d = tempfile.mkdtemp(prefix="nspark-", dir="/tmp")
        atexit.register(shutil.rmtree, d, True)
        _socket_dir = d
    return _socket_dir


def check_socket_dir(d: str) -> None:
    """Raise ``ValueError`` when sockets in ``d`` would not fit
    ``sun_path``: every Python task would then fail to connect."""
    n = len(os.fsencode(d)) + _SOCKET_NAME_LEN
    if n > _SUN_PATH_MAX:
        raise ValueError(
            f"Unix socket directory {d!r} is too long: its socket paths "
            f"take {n} bytes, sun_path holds {_SUN_PATH_MAX}")


def local_rows(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Driver-side rows (tuples in ``schema``'s DDL column order) as a
    JVM-side relation: one JSON string literal through ``from_json`` and
    ``inline``.

    ``spark.createDataFrame(rows)`` parallelizes pickled rows, so every
    read of it runs a Python task just to unpickle them; this plan has
    no Python in it.  Meant for request inputs and small constant
    tables, not for data.
    """
    st = StructType.fromDDL(schema)
    data = json.dumps([dict(zip(st.names, row)) for row in rows])
    return spark.range(1, numPartitions=1).select(
        F.inline(F.from_json(F.lit(data), ArrayType(st))))


def _check_python_workers(spark: SparkSession) -> None:
    """Run one Python task, so that workers which cannot start fail the
    session with the daemon module and path named, not its first query."""
    sc = spark.sparkContext
    sc.setJobDescription("session init: python worker check")
    try:
        spark.range(1, numPartitions=1).mapInPandas(
            lambda batches: batches, "id long").count()
    except Exception as e:
        raise RuntimeError(
            f"Python workers failed to start from the daemon module "
            f"{DAEMON_MODULE} with {_PACKAGE_PARENT!r} on their path"
        ) from e
    finally:
        sc.setJobDescription(None)


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
