"""SparkSession factory with scale-appropriate defaults.

Local mode is the test harness; the configs are chosen so the same code path
works on a multi-executor cluster (AQE on, skew-join splitting on, Arrow on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "simple_osm_queries_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` means ``local[*]``. On a real cluster, callers pass a
    builder-less spark-submit session instead; these configs are also safe
    as ``--conf`` flags there.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or (cores if cores else os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # allow shuffled-hash join where its size conditions hold (guide
        # §3.1): the dedup/LSH bucket self-joins and candidate joins are
        # equi-joins of mid-sized tables where SMJ's two 16M-row sorts are
        # pure overhead (measured: 1M-doc minhash bucket join 3.4 -> 2.7 s
        # warm). Per-partition build sides stay small (rows/shuffle
        # partitions); AQE skew splitting still applies.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # fork Python workers from a daemon that has numpy/pandas/pyarrow
        # preloaded (see pydaemon.py): first-Python-stage cost at
        # local[32] drops ~9 s -> ~1 s; no behavior change
        .config("spark.python.daemon.module", "simple_osm_queries_spark.pydaemon")
        # make THIS package importable in python workers regardless of the
        # launch cwd: both the daemon module above and the operator UDF
        # bodies (which import from the package on the worker) need it on
        # the worker PYTHONPATH; merged with pyspark's own paths
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(
                p for p in (
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    os.environ.get("PYTHONPATH", ""),
                ) if p
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SOQ_DRIVER_MEM", "8g"))
        # wide whole-stage-codegen methods (e.g. a literal polygon catalog's
        # unrolled ray cast) exceed HotSpot's 8KB DontCompileHugeMethods
        # threshold and would run interpreted — measured 13x slower; lifting
        # the limit lets the JIT compile them (standard Spark prod setting)
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        # generated-class cache (LRU; Spark's default holds 100). Measured
        # with perfbench: at 100 entries one cycle of the HTTP routes (two
        # queries, one .mvt, one /cells) compiled 122 classes and one
        # rotation of the batch operators 146, on every repeat: each class
        # was evicted before its next use, so every request recompiled and
        # re-JITted all of its code. With room to keep them the two hold
        # 112 + 120 distinct classes, and a repeated cycle or rotation
        # compiles ~4 (e.g. the row cap's LocalLimit in each branch of a
        # multi-statement query names its counter from a process-wide
        # sequence, so its stage is new code on every run)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # the cache key is the generated source, and by default the class
        # name carries the codegen stage number: a query's second run
        # numbered its stages differently from its first and missed the
        # cache for 16 of the two-statement query's classes, and a stage
        # whose code another query had built could not reuse it
        .config("spark.sql.codegen.useIdInClassName", "false")
        # pyspark's DataFrame debugging (on by default) wraps every Column
        # method and F.col/F.lit in a call-site capture: an active-session
        # lookup, a conf read, a Python stack walk and an origin set/clear
        # on the JVM, per call. Measured in py4j round trips:
        # `F.col("lon") >= F.lit(1.0)` costs 27 with it on and 7 off,
        # `cells.tile_of(lon, lat, 14)` 347 and 147. pyspark reads the flag
        # once per process, on first use, so it has to be set here. Cost:
        # an analysis error no longer carries pyspark's "== DataFrame =="
        # Python call-site block
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Iceberg catalog for the build_index(backend="iceberg") path.
        # Declaring the catalog is harmless without the jar (it only fails
        # on first use); WITH iceberg-spark-runtime-4.x on the classpath the
        # writeTo/overwritePartitions path below is live.
        .config("spark.sql.catalog.soq_iceberg", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.soq_iceberg.type", "hadoop")
        .config(
            "spark.sql.catalog.soq_iceberg.warehouse",
            os.environ.get("SOQ_ICEBERG_WAREHOUSE", "/tmp/soq_iceberg_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
